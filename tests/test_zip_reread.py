"""The extraction worker's per-task import-cache reset
(pipeline._skip_unchanged_zip_rereads): an unchanged zip archive is not
re-read on ``importlib.invalidate_caches()``, a changed one is, and a
file shipped with ``addPyFile`` after the workers were patched is still
importable in a later task."""

import pathlib
import subprocess
import sys
import textwrap
import zipfile

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ drops zip directory caches lazily; the helper is a no-op")

# run in a child process: the helper patches zipimport for the whole
# process, which must not leak into the test session
_CHILD = textwrap.dedent("""
    import importlib, sys, zipfile, zipimport

    archive = sys.argv[1]
    sys.path.insert(0, archive)
    import zipmod_a

    from pdf_parser_spark.pipeline import _skip_unchanged_zip_rereads

    _skip_unchanged_zip_rereads()
    patched = zipimport.zipimporter.invalidate_caches
    _skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is patched, "wrapped twice"

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:  # other zips on sys.path are not ours
            reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting
    importlib.invalidate_caches()  # first call reads and records the stamp
    assert reads == [archive], reads

    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [], "unchanged archive re-read: %r" % reads

    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipmod_a.py", "VALUE = 1\\n")
        zf.writestr("zipmod_b.py", "VALUE = 2\\n")
    importlib.invalidate_caches()
    assert reads == [archive], reads
    import zipmod_b
    assert zipmod_b.VALUE == 2
    print("ok")
""")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name + ".py", src)


def test_unchanged_archive_skips_reread(tmp_path):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zipmod_a": "VALUE = 1\n"})
    repo = str(pathlib.Path(__file__).resolve().parent.parent)
    res = subprocess.run(
        [sys.executable, "-c", _CHILD, str(archive)], cwd=repo,
        capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "ok"


def test_late_pyfile_imports_on_patched_worker(spark, tmp_path):
    """addPyFile after an extraction job patched the reused workers:
    the next task must still import the new module."""
    import pyarrow as pa

    from pdf_parser_spark.pages_source import fixture_pages_df
    from pdf_parser_spark.pipeline import parse_pages

    # 32 tasks: enough to pass through every idle worker that earlier
    # tests left in the pool, so the probe below lands on patched ones
    assert parse_pages(fixture_pages_df(spark), partitions=16).count() > 0

    archive = tmp_path / "late_pyfile.zip"
    _write_zip(archive, {"late_pyfile_mod": "VALUE = 7\n"})
    spark.sparkContext.addPyFile(str(archive))

    def probe(batches):
        import zipimport

        import late_pyfile_mod

        patched = getattr(zipimport.zipimporter.invalidate_caches,
                          "skips_unchanged", False)
        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "value": pa.array([late_pyfile_mod.VALUE] * b.num_rows,
                                  pa.int32()),
                "patched": [patched] * b.num_rows,
            })

    rows = (spark.range(0, 8, numPartitions=8)
            .mapInArrow(probe, "value int, patched boolean").collect())
    assert len(rows) == 8
    assert {r.value for r in rows} == {7}
    assert all(r.patched for r in rows)
