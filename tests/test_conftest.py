"""The default gate's slow-test skip: only a -m expression that names the
``slow`` marker as a whole token takes over selection."""

import importlib.util
from pathlib import Path


def _conftest():
    # loaded by path: the module name "conftest" is not unique across the repo
    path = Path(__file__).with_name("conftest.py")
    spec = importlib.util.spec_from_file_location("tests_conftest", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_slow_marker_matched_as_token():
    mentions = _conftest().mentions_marker
    for expr in ("slow", "not slow", "(slow or realbackend) and not x", "slow and realbackend"):
        assert mentions(expr, "slow"), expr
    for expr in ("not slowpath", "slow_sweep", "realbackend", "veryslow", "", None):
        assert not mentions(expr, "slow"), expr
