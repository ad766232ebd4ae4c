"""Every Python file in the repo compiles with warnings turned into
errors.  An invalid escape such as ``"\\s"`` in a plain string is a
SyntaxWarning on CPython 3.12+ (a DeprecationWarning before that) and a
SyntaxError under ``python -W error``."""

import pathlib
import warnings

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_sources_compile_without_warnings():
    failures = []
    for path in sorted(REPO.rglob("*.py")):
        if any(part.startswith(".") for part in
               path.relative_to(REPO).parts):
            continue
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_bytes(), str(path), "exec")
            except (SyntaxError, Warning) as exc:
                failures.append("%s: %s" % (path.relative_to(REPO), exc))
    assert failures == []
