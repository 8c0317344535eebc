"""The corpus generator: deterministic per seed, and its ground truth
matches the files it wrote."""

import hashlib
import json
import os

import corpus as C

SPEC = C.Spec("t", n_machines=5, files_per_machine=2, duration_s=900, metric_period_s=10,
              incidents=["storage_pressure", "clogged_sideband", "burst"])


def tree_digest(root: str) -> str:
    """sha256 over every file name and content under ``root``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(root)):
        h.update(name.encode())
        with open(os.path.join(root, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_same_seed_gives_identical_files(tmp_path):
    a = C.generate(SPEC, 7, str(tmp_path / "a"))
    b = C.generate(SPEC, 7, str(tmp_path / "b"))
    assert tree_digest(a.root) == tree_digest(b.root)
    assert a.manifest() == b.manifest()


def test_other_seed_gives_other_files(tmp_path):
    a = C.generate(SPEC, 7, str(tmp_path / "a"))
    b = C.generate(SPEC, 8, str(tmp_path / "b"))
    assert tree_digest(a.root) != tree_digest(b.root)


def test_ground_truth_matches_the_files(tmp_path):
    c = C.generate(SPEC, 3, str(tmp_path / "c"))
    assert {os.path.splitext(p)[1] for p in c.paths} == {".xml", ".jsonl"}
    lines, offset, blank, other = {}, 0, 0, 0
    for path in sorted(c.paths):
        with open(path) as fh:
            text = fh.read().splitlines()
        for i, ln in enumerate(text, 1):
            if ln.startswith("<Event") or ln.startswith("{"):
                lines[offset + i] = ln
            elif ln:
                other += 1
            else:
                blank += 1
        offset += len(text)
    assert len(lines) == len(c.events)
    assert (blank, other) == (c.blank_lines, c.non_event_lines)
    assert blank > 0 and other > 0
    for e in c.events:
        ln = lines[e.event_id]
        attrs = json.loads(ln) if ln.startswith("{") else None
        if attrs is not None:
            assert attrs["Type"] == e.event and attrs["Machine"] == e.machine
        else:
            assert f'Type="{e.event}"' in ln and f'Machine="{e.machine}"' in ln
    with open(c.root + ".manifest.json") as fh:
        m = json.load(fh)
    assert m["events"] == len(c.events) and m["bytes"] == c.total_bytes
    assert [i["kind"] for i in m["incidents"]] == SPEC.incidents
    for inc in c.incidents:
        assert any(inc.start <= e.ts <= inc.end and e.machine == inc.machine
                   for e in c.events)


def test_every_corpus_mixes_formats(tmp_path):
    # an all-XML or all-JSONL corpus reads through another plan, with
    # fewer Spark jobs, so job counts would depend on the seed
    spec = C.Spec("m", n_machines=2, files_per_machine=1, duration_s=120,
                  metric_period_s=20, incidents=[])
    for seed in range(8):
        c = C.generate(spec, seed, str(tmp_path / str(seed)))
        assert {os.path.splitext(p)[1] for p in c.paths} == {".xml", ".jsonl"}
