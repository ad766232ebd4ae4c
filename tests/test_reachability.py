"""Every package module on a production path, or deleted: no package
module may be reached only from tests/ and tools/.  The import graph is
tools/reachability.py."""

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
    assert _reachability().test_only_modules(str(REPO)) == set()



def test_check_fails_on_test_only_and_unreached_modules(tmp_path, capsys):
    """``python tools/reachability.py`` exits 1 while any package
    module is test-only or unreached, and 0 once none is."""
    pkg = tmp_path / "pdf_parser_spark"
    (tmp_path / "tests").mkdir()
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "serve.py").write_text("from . import core\n")
    (pkg / "core.py").write_text("")
    (pkg / "spare.py").write_text("")
    (tmp_path / "tests" / "test_spare.py").write_text(
        "from pdf_parser_spark import spare\n")
    reach = _reachability()
    assert reach.main(str(tmp_path)) == 1
    assert capsys.readouterr().out == (
        "only tests/tools reach: pdf_parser_spark.spare\n"
        "nothing reaches: -\n")
    (pkg / "serve.py").write_text("from . import core, spare\n")
    (pkg / "idle.py").write_text("")
    assert reach.main(str(tmp_path)) == 1
    assert capsys.readouterr().out == (
        "only tests/tools reach: -\n"
        "nothing reaches: pdf_parser_spark.idle\n")
    (pkg / "idle.py").unlink()
    assert reach.main(str(tmp_path)) == 0
