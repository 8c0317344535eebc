"""The session defaults ``get_spark`` sets to skip per-session costs, and
what they keep: ``lower``/``upper`` take the JVM's case mapping (not
ICU's, whose tables the first call would build), and PySpark captures no
Python call site per ``Column``/``functions`` call; and execution memory
is taken in 2 MB pages, not the default (64 MB for an 8 GB driver on 4
cores)."""

import pytest
from pyspark.errors import utils as error_utils
from pyspark.sql import functions as F


def test_icu_case_mapping_off(spark):
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"


def test_call_site_capture_off(spark, monkeypatch):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # the flag is cached per process; read it again from the active session
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)
    assert error_utils.is_debugging_enabled() is False


def test_execution_page_size(spark):
    assert spark.sparkContext.getConf().get("spark.buffer.pageSize") == "2m"


# Unicode <= 13 only: newer letters case-map by the JVM's own tables
CASES = [
    "Hello, World 42",
    "ΟΔΟΣ",  # final sigma
    "İ",  # lowers to i + U+0307
    "ß",
    "Straße",
    "日本語のログ",
    "Iñtërnâtiônàlizætiøn",  # non-ASCII with an I: a Turkish locale gives ı
    "",
]


@pytest.mark.parametrize("fn", ["lower", "upper"])
def test_case_mapping_equals_python(spark, fn):
    df = spark.createDataFrame([(s,) for s in CASES], "s string")
    got = [r[0] for r in df.select(getattr(F, fn)("s")).collect()]
    assert got == [getattr(s, fn)() for s in CASES]
