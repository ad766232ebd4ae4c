"""Every package module on a production path, or deleted: the modules
that only tests/ and tools/ import are pinned exactly, so the set can
only shrink (a module joining it, or leaving it, fails here until the
pin is updated).  The import graph is tools/reachability.py."""

import importlib.util
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent


def _reachability():
    spec = importlib.util.spec_from_file_location(
        "reachability", REPO / "tools" / "reachability.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_test_only_modules_are_pinned():
    assert _reachability().test_only_modules(str(REPO)) == {
        "pdf_parser_spark.consume", "pdf_parser_spark.streaming"}

