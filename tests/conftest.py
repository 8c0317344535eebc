import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_loganalyzer_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "realbackend: exercises a real model library (tiktoken, "
        "sentence-transformers) when importable; select with -m realbackend "
        "on a deployment that ships the wheels",
    )
    config.addinivalue_line(
        "markers",
        "slow: long-running sweep/bank tests (each >20 s; ~15 min total) "
        "skipped by default so the standard gate finishes inside the "
        "driver's pytest budget (VERIFY_r13 recorded the full 28-min "
        "suite cut off at ~83% with zero failures). The full gate — run "
        "at every round close — selects them with SPARK_GRAFT_RUN_SLOW=1 "
        "or -m slow.",
    )


# an identifier in a pytest -m/-k expression (pytest's own token rule)
_MARK_IDENT = re.compile(r"(?:\w|:|\+|-|\.|\[|\]|\\|/)+")


def mentions_marker(expr: str | None, marker: str) -> bool:
    """Whether the -m expression ``expr`` names ``marker`` as a whole
    token: ``-m slow`` and ``-m "not slow"`` do, ``-m "not slowpath"``
    does not."""
    return marker in _MARK_IDENT.findall(expr or "")


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_RUN_SLOW"):
        return
    if mentions_marker(config.getoption("-m"), "slow"):
        return  # an explicit -m mentioning the marker takes over selection
    skip = pytest.mark.skip(
        reason="slow sweep/bank; run with SPARK_GRAFT_RUN_SLOW=1 or -m slow"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def persistent_rdds(spark):
    """A callable: the ids of the RDDs the session holds in storage now."""
    jsc = spark.sparkContext._jsc
    return lambda: set(jsc.getPersistentRDDs().keySet().toArray())


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
