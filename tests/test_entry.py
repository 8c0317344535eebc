"""Smoke tests for the driver contract: entry() produces rows, every
queries() entry runs at sf0.001, and the registry is well-formed."""
import pytest

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_registry_well_formed():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert qs, "no queries registered"
    assert set(oracles) <= set(qs)


@pytest.mark.slow
def test_all_queries_run_sf0001(spark, sf_dir, persistent_rdds):
    """Every entry runs, and, built and counted in its own held() scope,
    leaves no new persistent RDD behind."""
    from db_loganalyzer_spark.session import held

    before = persistent_rdds()
    for name, fn in entry_mod.queries().items():
        with held():
            df = fn(spark, sf_dir)
            assert df.count() >= 0, name
        assert persistent_rdds() - before == set(), name


def test_registry_md_matches_generator():
    """REGISTRY.md is GENERATED from queries()/oracle_sql() — this test
    regenerates it in-memory and fails on any drift, so the committed
    listing can never disagree with the contract (r11; replaces the
    hand-maintained count bookkeeping the r10 review flagged)."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    import gen_registry_table

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "REGISTRY.md")) as fh:
        committed = fh.read()
    assert committed == gen_registry_table.render(), (
        "REGISTRY.md is stale — run: python scripts/gen_registry_table.py"
    )


def test_readme_and_survey_counts_match_registry():
    """The hard-coded registry counts in README.md and every `| key |`
    row key named in SURVEY.md §2.14 must agree with queries() — the
    drift lint for the hand-written docs."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    qs = entry_mod.queries()
    n = len(qs)
    readme = open(os.path.join(repo, "README.md")).read()
    counts = {int(c) for c in re.findall(r"(\d+) registry quer", readme)}
    counts |= {
        int(c) for c in re.findall(r"`queries\(\)` \((\d+) operators\)", readme)
    }
    assert counts == {n}, f"README counts {counts} != len(queries())={n}"

    survey = open(os.path.join(repo, "SURVEY.md")).read()
    sec = survey.split("### 2.14", 1)[1].split("\n## ", 1)[0]
    rows = re.findall(r"^\| ([a-z]+\d+[a-z]?) \|(.*)$", sec, re.M)
    prefixes = {k.split("_")[0] for k in qs}
    unknown = [
        k for k, rest in rows
        if k not in prefixes
        and not any(q.startswith(k + "_") for q in qs)
        # driver-side pure-math rows declare themselves oracle-less
        and "no oracle shape" not in rest
    ]
    assert not unknown, f"SURVEY §2.14 names unknown registry keys: {unknown}"
