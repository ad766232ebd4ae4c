"""Every operator materializes its intermediates through the scopes of
``pdf_parser_spark/stages.py``, which release them when the operator
returns.  A checkpoint, cache or temp view made anywhere else in the
package would outlive the call that made it, so the only other site
allowed is ``pipeline.run_extraction_job``, whose persist is released
in its own ``finally``."""

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "pdf_parser_spark"
SITE = re.compile(r"localCheckpoint\(|\.persist\(|\.unpersist\(|\.cache\(\)"
                  r"|createOrReplaceTempView\(|dropTempView\(")


def _allowed_lines(path):
    if path.name == "stages.py":
        return None  # every line
    if path.name != "pipeline.py":
        return set()
    tree = ast.parse(path.read_text())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef)
              and n.name == "run_extraction_job")
    return set(range(fn.lineno, fn.end_lineno + 1))


def test_materialization_only_in_stages():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        allowed = _allowed_lines(path)
        if allowed is None:
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if SITE.search(line) and no not in allowed:
                found.append("%s:%d: %s" % (path.relative_to(PKG.parent),
                                            no, line.strip()))
    assert found == []


class _Frame:
    """Stands in for a DataFrame: counts ``unpersist`` calls."""

    def __init__(self):
        self.released = 0

    def persist(self):
        return self

    def unpersist(self):
        self.released += 1


def test_scope_releases_registrations_from_many_threads():
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from pdf_parser_spark.stages import scope

    frames = [_Frame() for _ in range(4000)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with scope(None) as st, ThreadPoolExecutor(16) as pool:
            for f in [pool.submit(st.cache, fr) for fr in frames]:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert [fr.released for fr in frames] == [1] * len(frames)


def test_scope_releases_on_error():
    import pytest

    from pdf_parser_spark.stages import scope

    frame = _Frame()
    with pytest.raises(RuntimeError):
        with scope(None) as st:
            st.cache(frame)
            raise RuntimeError("operator failed")
    assert frame.released == 1
