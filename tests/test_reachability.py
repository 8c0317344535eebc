"""Every top-level function and class in the package is reached from an
entry point, or is on an allowlist that says why it stays.

The scan is pure ``ast`` (no imports, no Spark), name-based and closed
over the package:

- the roots are the registry entry module (``__spark_entry__.py``), the
  benchmarks (``bench.py``, ``perfbench/*.py``), the scripts
  (``scripts/*.py``) and the CLI (``db_loganalyzer_spark/cli.py``); every
  name they mention is reached;
- a name is mentioned by a variable or attribute use, a
  ``from ... import`` alias, or a string constant that is an identifier
  (registry lookups by name);
- a package module's top-level statements other than imports and
  definitions (constants, ``__all__``, import guards) run on import, so
  the names they mention are reached; re-exports in an ``__init__`` are
  imports and reach nothing;
- a reached definition reaches every name in its body, to a fixed point.

Matching is by bare name, so a definition counts as reached when any
reached code mentions its name. The scan therefore over-approximates
reachability: it can miss dead code, but a definition it reports as
unreached is not named anywhere outside the tests.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "db_loganalyzer_spark"
ROOT_GLOBS = (
    "__spark_entry__.py",
    "bench.py",
    "db_loganalyzer_spark/cli.py",
    "scripts/*.py",
    "perfbench/*.py",
)

_A = "(a) test support for code a root reaches"
_B = "(b) public codec function pinned by golden-byte and fail-closed tests"
_C = "(c) the only code for a reference capability with a SURVEY §2 row"

# Unreached definitions that stay, keyed "<module>.<name>" (module path
# relative to the package), each with the reason it stays.
ALLOWED = {
    "operators.multimodal.fake_decode_backend": f"{_A}: decode_media's stand-in backend",
    "operators.multimodal._ima_step": f"{_A}: IMA ADPCM fixture encoder",
    "operators.multimodal.encode_adpcm_wav": f"{_A}: IMA ADPCM fixture encoder",
    "operators.multimodal.mulaw_encode_sample": f"{_A}: mu-law fixture encoder",
    "operators.multimodal.encode_mulaw_wav": f"{_A}: mu-law fixture encoder",
    "operators.evaluation.eval_accuracy": f"{_A}: scores the scenario bank (M7)",
    "operators.multimodal.decode_bmp": _B,
    "operators.multimodal.decode_ppm": _B,
    "operators.multimodal.decode_png": _B,
    "operators.multimodal.decode_jpeg": _B,
    "operators.multimodal.decode_gif": _B,
    "operators.multimodal.decode_image_pixels": _B,
    "operators.multimodal.decode_wav": _B,
    "operators.multimodal.decode_avi": _B,
    "operators.multimodal._pixels_to_tuples": f"{_B}: the decode_* functions' pixel list",
    "sources.trace_logs.extract_code_coverage": f"{_C}: M1",
    "operators.clustering.kmeans_clusters": f"{_C}: M4",
    "operators.textstats.token_count_pudf": f"{_C}: A15",
    "agentic.retrieval.load_corpus_dir": f"{_C}: L5",
    "agentic.retrieval.build_corpus_index": f"{_C}: L5",
    "agentic.retrieval.retrieve": f"{_C}: L5",
    "agentic.retrieval.make_retriever": f"{_C}: L5",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _mentions(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def unreached() -> dict[str, str]:
    """``{"<module>.<name>": "<path>:<line>"}`` for every top-level
    package definition no root reaches."""
    roots = {p for g in ROOT_GLOBS for p in REPO.glob(g)}
    reached: set[str] = set()
    for path in roots:
        reached |= _mentions(ast.parse(path.read_text(), str(path)))
    defs = []  # (key, location, node)
    for path in sorted(PACKAGE.rglob("*.py")):
        if path in roots:
            continue
        rel = path.relative_to(PACKAGE)
        module = ".".join(rel.with_suffix("").parts)
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, _DEFS):
                key = f"{module}.{node.name}"
                defs.append((key, f"{PACKAGE.name}/{rel}:{node.lineno}", node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                reached |= _mentions(node)
    pending = defs
    while hit := [d for d in pending if d[2].name in reached]:
        for _, _, node in hit:
            reached |= _mentions(node)
        pending = [d for d in pending if d not in hit]
    return {key: where for key, where, _ in pending}


def test_every_package_definition_is_reached_or_allowed():
    found = unreached()
    new = sorted(set(found) - set(ALLOWED))
    stale = sorted(set(ALLOWED) - set(found))
    assert not new, (
        "reached only by tests (give each a root, delete it, or allowlist "
        "it with a reason):\n" + "\n".join(f"  {found[k]} {k}" for k in new)
    )
    assert not stale, (
        "allowlisted but now reached or gone (drop from ALLOWED):\n"
        + "\n".join(f"  {k}" for k in stale)
    )
