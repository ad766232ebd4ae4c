"""Snapshot-commit semantics of the table layer (io_tables.TableIO):
cross-table atomicity, crash invisibility, and the Iceberg plan shape
(stub-tested — the sandbox has no Iceberg jars)."""

import os

import pandas as pd
import pytest

from pdf_parser_spark.io_tables import FORMAT_CONF, TableIO


@pytest.fixture()
def two_tables(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string")
    b = spark.createDataFrame([(1, 10)], "id int, n int")
    return a, b


def test_append_many_is_one_commit(spark, tmp_path, two_tables):
    a, b = two_tables
    io = TableIO(str(tmp_path))
    manifest = io.append_many({"ta": a, "tb": b}, run_id="r1")
    assert set(manifest["tables"]) == {"ta", "tb"}
    # ONE manifest covers both tables — the atomicity unit
    assert len(io.snapshots()) == 1
    assert len(io.snapshots("ta")) == 1 and len(io.snapshots("tb")) == 1
    assert io.read(spark, "ta").count() == 2
    assert io.read(spark, "tb").count() == 1


def test_manifest_metrics_are_additive(spark, tmp_path, two_tables):
    """``metrics`` maps a table to the Observation on its frame, and
    the observed values land under the manifest's ``metrics`` key.
    Manifests written without it (all of them before the key existed)
    lack the key and still read, time-travel and mix with newer ones."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    a, b = two_tables
    io = TableIO(str(tmp_path))
    io.append_many({"ta": a, "tb": b}, run_id="old")
    seen = {"ta": Observation(), "tb": Observation()}
    io.append_many(
        {t: df.observe(seen[t], F.count(F.lit(1)).alias("rows"))
         for t, df in (("ta", a), ("tb", b))}, metrics=seen)
    fresh = TableIO(str(tmp_path))  # no manifest cache
    old, new = fresh.snapshots()
    assert "metrics" not in old
    assert new["metrics"] == {"ta": {"rows": 2}, "tb": {"rows": 1}}
    assert fresh.read(spark, "ta", as_of=0).count() == 2
    assert fresh.read(spark, "ta").count() == 4
    assert fresh.read(spark, "tb").count() == 2


def test_crashed_commit_leaves_nothing_visible(spark, tmp_path,
                                               two_tables, monkeypatch):
    """A crash AFTER all parquet writes but BEFORE the manifest rename
    must leave both tables invisible — no partial cross-table state."""
    a, b = two_tables
    io = TableIO(str(tmp_path))

    real_link = os.link

    def crash(src, dst):
        if "snapshot-" in dst:
            raise RuntimeError("simulated crash at commit point")
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", crash)
    with pytest.raises(RuntimeError):
        io.append_many({"ta": a, "tb": b})
    monkeypatch.undo()
    # parquet part-files exist on disk, but no manifest → invisible
    assert os.path.isdir(str(tmp_path / "ta"))
    assert io.read(spark, "ta") is None
    assert io.read(spark, "tb") is None
    assert io.snapshots() == []
    # a rerun commits cleanly alongside the orphaned data dir
    io.append_many({"ta": a, "tb": b})
    assert io.read(spark, "ta").count() == 2


class _WriteToRecorder:
    def __init__(self, calls, table):
        self.calls, self.table = calls, table
        self.opts = {}

    def option(self, k, v):
        self.opts[k] = v
        return self

    def append(self):
        self.calls.append((self.table, dict(self.opts)))


class _FakeDF:
    def __init__(self, calls):
        self._calls = calls

    def writeTo(self, table):
        return _WriteToRecorder(self._calls, table)


def test_iceberg_append_plan_shape(tmp_path):
    """fmt='iceberg' delegates each table to writeTo(...).append() with
    the run_id snapshot property — the one-line cluster switch."""
    calls = []
    io = TableIO(str(tmp_path), fmt="iceberg")
    io.append_many({"cat.db.tx": _FakeDF(calls),
                    "cat.db.docs": _FakeDF(calls)}, run_id="r7")
    assert sorted(t for t, _ in calls) == ["cat.db.docs", "cat.db.tx"]
    assert all(o == {"snapshot-property.run_id": "r7"} for _, o in calls)


def test_iceberg_ddl_shape():
    """The 100-TB table spec: url-bucketed partitioning everywhere a
    url-keyed join must avoid a shuffle (storage-partitioned joins)."""
    from pdf_parser_spark.io_tables import ICEBERG_DDL

    assert set(ICEBERG_DDL) == {"pages", "transactions", "doc_metrics"}
    for name, ddl in ICEBERG_DDL.items():
        assert "USING iceberg" in ddl and "bucket(" in ddl, name
        assert "{t}" in ddl
    assert "bucket(1024, url)" in ICEBERG_DDL["pages"]
    assert "bucket(1024, url)" in ICEBERG_DDL["transactions"]


class _SqlRecorder:
    def __init__(self):
        self.stmts = []

    def sql(self, s):
        self.stmts.append(s)


def test_create_iceberg_tables_issues_ddl():
    from pdf_parser_spark.io_tables import create_iceberg_tables

    rec = _SqlRecorder()
    create_iceberg_tables(rec, "cat.ns")
    assert len(rec.stmts) == 3
    assert any("cat.ns.transactions" in s for s in rec.stmts)


def test_format_selected_by_conf(spark, tmp_path):
    spark.conf.set(FORMAT_CONF, "iceberg")
    try:
        assert TableIO.from_conf(spark, str(tmp_path)).fmt == "iceberg"
    finally:
        spark.conf.unset(FORMAT_CONF)
    assert TableIO.from_conf(spark, str(tmp_path)).fmt == "parquet"


def test_null_warc_ts_falls_back_to_1970():
    """A NaT timestamp reaches the Arrow worker as a null warc_ts and
    must hit the 1970 fallback-year path, not poison the document."""
    import pyarrow as pa

    from pdf_parser_spark.pipeline import _parse_arrow_batches

    batch = pd.DataFrame({
        "url": ["u1"],
        "warc_ts": [pd.NaT],
        "html": [None],
        "text": ["chase.com statement\n01/03 Deposit 100.00"],
    })
    rb = pa.RecordBatch.from_pandas(batch, preserve_index=False)
    txs, docs = (b.to_pydict()
                 for b in _parse_arrow_batches(iter([rb])))
    assert docs["error"] == [None]
    assert docs["bank"] == ["chase"]
    assert txs["date"] == ["1970-01-03"]


def test_compaction_and_time_travel(spark, tmp_path):
    """Three appends → compact to one file (rewrite manifest) → same
    rows, fewer files; time travel (as_of) still resolves every
    pre-compaction snapshot state."""
    io = TableIO(str(tmp_path))
    for i in range(3):
        df = spark.createDataFrame([(i, "v%d" % i)], "id int, v string")
        io.append(df, "t", run_id="r%d" % i)
    assert io.read(spark, "t").count() == 3
    n_files_before = len(io.committed_files("t"))
    assert n_files_before >= 3

    manifest = io.compact(spark, "t", target_partitions=1, run_id="compact")
    assert manifest["op"] == "rewrite"
    after = io.committed_files("t")
    assert len(after) == 1 and io.read(spark, "t").count() == 3

    # time travel: each historical sequence shows its own state
    assert io.read(spark, "t", as_of=0).count() == 1
    assert io.read(spark, "t", as_of=1).count() == 2
    assert io.read(spark, "t", as_of=2).count() == 3
    assert len(io.committed_files("t", as_of=2)) == n_files_before

    # appends after compaction stack on the rewrite
    m2 = io.append(
        spark.createDataFrame([(9, "z")], "id int, v string").coalesce(1),
        "t")
    assert io.read(spark, "t").count() == 4
    assert len(io.committed_files("t")) == 1 + len(m2["tables"]["t"])


def test_concurrent_appends_lose_no_snapshot(spark, tmp_path):
    """Two committers racing the shared commit log must both land:
    os.link fails on an already-claimed sequence (unlike os.rename,
    which silently clobbers) and the loser retries with the next one —
    Iceberg's optimistic-commit shape.  Drive the race deterministically
    by pre-claiming the sequence the writer will try first."""
    import json

    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1,)], "id int"), "t")
    # rival claims sequence 1 out from under the next append
    snap_dir = tmp_path / "_snapshots"
    rival = {"format_version": 2, "sequence": 1, "commit_id": "rival",
             "run_id": None, "op": "append", "tables": {"t": []}}
    (snap_dir / "snapshot-00001.json").write_text(json.dumps(rival))

    m = io.append(spark.createDataFrame([(2,)], "id int"), "t")
    assert m["sequence"] == 2  # collided on 1, retried
    seqs = [s["sequence"] for s in io.snapshots()]
    assert seqs == [0, 1, 2]  # nothing clobbered
    assert io.read(spark, "t").count() == 2


def test_concurrent_append_threads(spark, tmp_path):
    """Eight threads appending concurrently: every commit survives with
    a distinct sequence and all rows are readable."""
    from concurrent.futures import ThreadPoolExecutor

    io = TableIO(str(tmp_path))
    dfs = [spark.createDataFrame([(i,)], "id int").coalesce(1)
           for i in range(8)]
    with ThreadPoolExecutor(max_workers=8) as ex:
        manifests = list(ex.map(lambda df: io.append(df, "t"), dfs))
    assert sorted(m["sequence"] for m in manifests) == list(range(8))
    assert io.read(spark, "t").count() == 8
    assert {r.id for r in io.read(spark, "t").collect()} == set(range(8))


def test_rewrite_merges_concurrent_append(spark, tmp_path):
    """An append that lands between a compaction's read point and its
    rewrite publish must survive: the rewrite replaces only files
    committed <= its base sequence."""
    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1,)], "id int").coalesce(1), "t")
    # compaction reads state as of seq 0 ...
    basis = 0
    compacted = io.read(spark, "t", as_of=basis).coalesce(1)
    # ... a micro-batch append lands first ...
    io.append(spark.createDataFrame([(2,)], "id int").coalesce(1), "t")
    # ... then the rewrite publishes with base=0
    io.append_many({"t": compacted}, op="rewrite", base=basis)
    # the interleaved append is merged, not erased
    assert {r.id for r in io.read(spark, "t").collect()} == {1, 2}


def test_rewrite_vs_rewrite_conflict_rejected(spark, tmp_path):
    """Two compactions racing on the same table (both computing their
    basis before either publishes) must NOT both land: the reader would
    merge both full file lists and silently duplicate every row
    (ADVICE r4 — reproduced as a 2-row table reading 4 rows).  The
    second rewrite must fail Iceberg-style conflict validation, and
    the table must still read its true row count."""
    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1,), (2,)], "id int").coalesce(1),
              "t")
    # both compactions read their basis now (seq 0)
    basis = 0
    full_a = io.read(spark, "t", as_of=basis).coalesce(1)
    full_b = io.read(spark, "t", as_of=basis).coalesce(1)
    io.append_many({"t": full_a}, op="rewrite", base=basis)  # winner
    with pytest.raises(RuntimeError, match="rewrite conflict"):
        io.append_many({"t": full_b}, op="rewrite", base=basis)
    assert io.read(spark, "t").count() == 2
    # and the failed commit leaked no tmp scratch into the log
    assert not [f for f in os.listdir(tmp_path / "_snapshots")
                if f.startswith(".tmp-")]


def test_rewrite_conflict_scoped_per_table(spark, tmp_path):
    """A rewrite of table A must not block a later rewrite of an
    unrelated table B with an older base."""
    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1,)], "id int").coalesce(1), "a")
    io.append(spark.createDataFrame([(2,)], "id int").coalesce(1), "b")
    full_b = io.read(spark, "b", as_of=1).coalesce(1)
    assert io.compact(spark, "a")["op"] == "rewrite"
    # b's rewrite has base=1 < a's rewrite seq 2, but touches only b
    io.append_many({"b": full_b}, op="rewrite", base=1)
    assert io.read(spark, "a").count() == 1
    assert io.read(spark, "b").count() == 1


def test_write_to_v1_root_fails_loudly(spark, tmp_path):
    """append_many against a v1-layout root must refuse before creating
    the v2 log (which would permanently shadow the v1 data) —
    ADVICE r4."""
    old = tmp_path / "transactions" / "_snapshots"
    old.mkdir(parents=True)
    (old / "snapshot-00000.json").write_text("{}")
    io = TableIO(str(tmp_path))
    with pytest.raises(RuntimeError, match="v1 per-table snapshot log"):
        io.append(spark.createDataFrame([(1,)], "id int"), "t")
    assert not (tmp_path / "_snapshots").exists()


def test_v1_layout_raises_not_silent_empty(spark, tmp_path):
    """A root written by the retired per-table layout must raise, not
    read as an empty table."""
    old = tmp_path / "transactions" / "_snapshots"
    old.mkdir(parents=True)
    (old / "snapshot-00000.json").write_text("{}")
    io = TableIO(str(tmp_path))
    with pytest.raises(RuntimeError, match="v1 per-table snapshot log"):
        io.read(spark, "transactions")


def test_foreign_format_version_raises(spark, tmp_path):
    """Manifests without the expected format_version are refused."""
    import json

    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1,)], "id int"), "t")
    snap = tmp_path / "_snapshots" / "snapshot-00000.json"
    doc = json.loads(snap.read_text())
    doc.pop("format_version")
    snap.write_text(json.dumps(doc))
    with pytest.raises(RuntimeError, match="format_version"):
        io.read(spark, "t")


def test_expire_snapshots_vacuums_only_dead_files(spark, tmp_path):
    """expire_snapshots after a compaction: history below the boundary
    is no longer travelable, files replaced by the rewrite are deleted
    from disk, but an old append that was NEVER rewritten survives
    (liveness across all retained snapshots, not just the head)."""
    io = TableIO(str(tmp_path))
    for i in range(4):                       # seqs 0..3
        io.append(spark.createDataFrame(
            [(i, "v%d" % i)], "id int, v string").coalesce(1), "t")
    io.compact(spark, "t", target_partitions=1)   # seq 4 rewrites 0..3
    io.append(spark.createDataFrame(
        [(9, "z")], "id int, v string").coalesce(1), "t")   # seq 5
    pre_rewrite_files = set(io.committed_files("t", as_of=3))
    live_before = set(io.committed_files("t"))
    assert pre_rewrite_files.isdisjoint(live_before)

    res = io.expire_snapshots(keep_last=2)   # keep seqs 4, 5
    assert res["min_live_sequence"] == 4
    assert set(res["files_deleted"]) == pre_rewrite_files
    for f in pre_rewrite_files:
        assert not os.path.exists(f)
    # current state and retained time travel are untouched
    assert sorted(r.id for r in io.read(spark, "t").collect()) == \
        [0, 1, 2, 3, 9]
    assert io.read(spark, "t", as_of=4).count() == 4
    # expired history errors loudly instead of missing files
    with pytest.raises(RuntimeError, match="expired"):
        io.committed_files("t", as_of=3)
    # appends after expiry still claim sequences correctly
    io.append(spark.createDataFrame(
        [(10, "w")], "id int, v string").coalesce(1), "t")   # seq 6
    assert io.read(spark, "t").count() == 6
    assert io.snapshots()[-1]["sequence"] == 6


def test_expire_snapshots_keeps_unrewritten_old_appends(spark,
                                                       tmp_path):
    """With no rewrite, every old append is still referenced by the
    retained snapshots: expiry moves the watermark but deletes
    nothing."""
    io = TableIO(str(tmp_path))
    for i in range(5):
        io.append(spark.createDataFrame(
            [(i, "v")], "id int, v string").coalesce(1), "t")
    res = io.expire_snapshots(keep_last=2)
    assert res["min_live_sequence"] == 3
    assert res["files_deleted"] == []
    assert io.read(spark, "t").count() == 5
    with pytest.raises(RuntimeError, match="expired"):
        io.read(spark, "t", as_of=1)


def test_expire_snapshots_dry_run_and_idempotence(spark, tmp_path):
    """dry_run lists the dead files without deleting or moving the
    watermark; a repeated real run is a no-op."""
    io = TableIO(str(tmp_path))
    for i in range(3):
        io.append(spark.createDataFrame(
            [(i, "v")], "id int, v string").coalesce(1), "t")
    io.compact(spark, "t")                    # seq 3
    dry = io.expire_snapshots(keep_last=1, dry_run=True)
    assert dry["dry_run"] and len(dry["files_deleted"]) >= 3
    assert io._expiry_watermark() == 0        # watermark unmoved
    assert all(os.path.exists(f) for f in dry["files_deleted"])

    real = io.expire_snapshots(keep_last=1)
    assert real["files_deleted"] == dry["files_deleted"]
    again = io.expire_snapshots(keep_last=1)
    assert again == {"min_live_sequence": 3, "files_deleted": []}


def test_remove_orphan_files_sweeps_only_crashed_commits(
        spark, tmp_path, two_tables, monkeypatch):
    """Orphan cleanup after a crashed commit: the manifest-less dirs
    are removed (once old enough), referenced dirs and committed rows
    are untouched, and the age guard protects fresh dirs."""
    a, b = two_tables
    io = TableIO(str(tmp_path))
    io.append_many({"ta": a, "tb": b})          # committed state

    real_link = os.link

    def crash(src, dst):
        if "snapshot-" in dst:
            raise RuntimeError("simulated crash at commit point")
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", crash)
    with pytest.raises(RuntimeError):
        io.append_many({"ta": a, "tb": b})      # orphans both tables
    monkeypatch.undo()

    # age guard: fresh orphans are NOT swept
    res = io.remove_orphan_files(older_than_seconds=3600)
    assert res["orphan_dirs"] == []

    res = io.remove_orphan_files(older_than_seconds=0, dry_run=True)
    assert len(res["orphan_dirs"]) == 2 and res["dry_run"]
    assert all(os.path.isdir(d) for d in res["orphan_dirs"])

    res = io.remove_orphan_files(older_than_seconds=0)
    assert len(res["orphan_dirs"]) == 2
    assert not any(os.path.isdir(d) for d in res["orphan_dirs"])
    # committed state untouched, rerun still clean
    assert io.read(spark, "ta").count() == 2
    assert io.read(spark, "tb").count() == 1
    assert io.remove_orphan_files(older_than_seconds=0) == {
        "orphan_dirs": [], "dry_run": False}


def test_additive_schema_evolution(spark, tmp_path):
    """A later append may add a column: reads apply the latest
    manifest-recorded schema, so pre-evolution files scan as NULL for
    the new column (no mergeSchema footer sweep); time travel below
    the evolution sees the old schema."""
    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, v string").coalesce(1), "t")
    io.append(spark.createDataFrame(
        [(3, "c", 0.5)], "id int, v string, score double").coalesce(1),
        "t")

    cur = io.read(spark, "t")
    assert cur.columns == ["id", "v", "score"]
    rows = {r.id: r.score for r in cur.collect()}
    assert rows == {1: None, 2: None, 3: 0.5}

    old = io.read(spark, "t", as_of=0)
    assert old.columns == ["id", "v"] and old.count() == 2

    # compaction carries the evolved schema forward
    io.compact(spark, "t")
    after = io.read(spark, "t")
    assert after.columns == ["id", "v", "score"]
    assert after.count() == 3


def test_expire_snapshots_rejects_zero_keep(spark, tmp_path):
    """keep_last=0 would make the liveness union empty and vacuum the
    head snapshot — must be rejected, not executed."""
    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1,)], "id int"), "t")
    with pytest.raises(ValueError, match="keep_last"):
        io.expire_snapshots(keep_last=0)
    assert io.read(spark, "t").count() == 1


def test_expire_snapshots_recovers_crashed_vacuum(spark, tmp_path):
    """Crash between watermark publish and file deletion: the rerun
    must recompute and delete the dead files below the already-
    published watermark instead of reporting nothing to do."""
    import json

    io = TableIO(str(tmp_path))
    for i in range(3):
        io.append(spark.createDataFrame(
            [(i,)], "id int").coalesce(1), "t")
    io.compact(spark, "t")                       # seq 3 rewrites 0..2
    dead = io.expire_snapshots(keep_last=1, dry_run=True)["files_deleted"]
    assert len(dead) >= 3
    # simulate the crash: watermark published, no files deleted
    with open(io._expiry_path(), "w") as fh:
        json.dump({"min_live_sequence": 3}, fh)
    res = io.expire_snapshots(keep_last=1)
    assert res["files_deleted"] == dead          # recovered, not []
    assert not any(os.path.exists(f) for f in dead)
    assert io.read(spark, "t").count() == 3


def test_remove_orphans_path_spelling_is_canonicalized(
        spark, tmp_path, monkeypatch):
    """A cleanup run whose TableIO spells the root differently than
    the writer (relative vs absolute) must not classify committed
    dirs as orphans."""
    monkeypatch.chdir(tmp_path)
    writer = TableIO(str(tmp_path / "tables"))   # absolute
    writer.append(spark.createDataFrame([(1,)], "id int"), "t")
    cleaner = TableIO("tables")                  # relative, same root
    res = cleaner.remove_orphan_files(older_than_seconds=0)
    assert res["orphan_dirs"] == []
    assert TableIO(str(tmp_path / "tables")).read(spark, "t").count() == 1


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_incremental_read_exact_deltas(spark, tmp_path):
    """(from, to] append deltas: each committed batch is read exactly
    once, the union of consecutive deltas equals the full table, and
    an empty range is an empty DataFrame with the table schema."""
    io = TableIO(str(tmp_path))
    mk = lambda *ids: spark.createDataFrame(
        [(i, "v%d" % i) for i in ids], "id int, v string")
    s1 = io.append(mk(1, 2), "t")["sequence"]
    s2 = io.append(mk(3), "t")["sequence"]
    s3 = io.append(mk(4, 5), "t")["sequence"]
    assert _ids(io.read_incremental(spark, "t", s1)) == [3, 4, 5]
    assert _ids(io.read_incremental(spark, "t", s1, s2)) == [3]
    assert _ids(io.read_incremental(spark, "t", s2, s3)) == [4, 5]
    # from before the first sequence (sequences start at 0) == full read
    assert _ids(io.read_incremental(spark, "t", s1 - 1)) == \
        _ids(io.read(spark, "t"))
    # nothing new: empty DF, schema intact
    inc = io.read_incremental(spark, "t", s3)
    assert inc.count() == 0 and inc.columns == ["id", "v"]
    # unknown table: None (matches read())
    assert io.read_incremental(spark, "nope", 0) is None


def test_incremental_read_refuses_rewrite_in_range(spark, tmp_path):
    """A compaction inside the range has no append delta — the read
    must raise (Iceberg's incremental contract), while ranges fully
    before or after the rewrite still work."""
    io = TableIO(str(tmp_path))
    mk = lambda *ids: spark.createDataFrame(
        [(i, "v%d" % i) for i in ids], "id int, v string")
    s1 = io.append(mk(1), "t")["sequence"]
    s2 = io.append(mk(2), "t")["sequence"]
    io.compact(spark, "t")
    s4 = io.append(mk(3), "t")["sequence"]
    with pytest.raises(RuntimeError, match="rewrite"):
        io.read_incremental(spark, "t", s1)
    with pytest.raises(RuntimeError, match="rewrite"):
        io.read_incremental(spark, "t", s2, s4)
    # pre-rewrite range: still the exact delta
    assert _ids(io.read_incremental(spark, "t", s1, s2)) == [2]
    # post-rewrite ranges never see the rewrite
    assert _ids(io.read_incremental(spark, "t", s4 - 1, s4)) == [3]
    assert _ids(io.read_incremental(spark, "t", s4 - 1)) == [3]


def test_incremental_read_detects_vacuumed_range(spark, tmp_path):
    """expire_snapshots after a rewrite deletes the replaced files; an
    incremental range that needs them must raise, never under-read."""
    io = TableIO(str(tmp_path))
    mk = lambda *ids: spark.createDataFrame(
        [(i, "v%d" % i) for i in ids], "id int, v string")
    s1 = io.append(mk(1), "t")["sequence"]
    s2 = io.append(mk(2), "t")["sequence"]
    io.compact(spark, "t")
    io.expire_snapshots(keep_last=1)
    with pytest.raises(RuntimeError, match="expire_snapshots"):
        io.read_incremental(spark, "t", s1, s2)


def test_incremental_read_applies_as_of_schema(spark, tmp_path):
    """Additive evolution: a delta of pre-evolution files read with a
    post-evolution to_snapshot scans the added column as NULL; read
    with a pre-evolution to_snapshot it doesn't exist."""
    io = TableIO(str(tmp_path))
    s1 = io.append(spark.createDataFrame([(1,)], "id int"),
                   "t")["sequence"]
    s2 = io.append(spark.createDataFrame([(2,)], "id int"),
                   "t")["sequence"]
    s3 = io.append(spark.createDataFrame([(3, "en")],
                                         "id int, lang string"),
                   "t")["sequence"]
    old = io.read_incremental(spark, "t", s1, s2)
    assert old.columns == ["id"]
    new = io.read_incremental(spark, "t", s1, s3)
    assert new.columns == ["id", "lang"]
    rows = {r.id: r.lang for r in new.collect()}
    assert rows == {2: None, 3: "en"}


# ------------------------------------------- exactly-once consumer

def _consume_setup(spark, tmp_path):
    from pdf_parser_spark.consume import consume_incremental
    io = TableIO(str(tmp_path))
    mk = lambda *ids: spark.createDataFrame(
        [(i, i * 10) for i in ids], "id int, x int")
    double = lambda df: df.selectExpr("id", "x * 2 AS y")
    return io, mk, double, consume_incremental


def test_consume_incremental_exactly_once(spark, tmp_path):
    """Each source append is transformed into the output exactly once
    across repeated runs; a no-op run commits nothing."""
    io, mk, double, consume = _consume_setup(spark, tmp_path)
    io.append(mk(1, 2), "src")
    io.append(mk(3), "src")
    r1 = consume(spark, io, "src", "out", double)
    assert r1["committed"] and r1["n_commits"] == 2
    assert sorted((r.id, r.y) for r in io.read(spark, "out").collect()) \
        == [(1, 20), (2, 40), (3, 60)]
    # nothing new → nothing committed
    r2 = consume(spark, io, "src", "out", double)
    assert not r2["committed"]
    assert len(io.snapshots("out")) == 1
    # one more append → only its rows land
    io.append(mk(4), "src")
    consume(spark, io, "src", "out", double)
    assert sorted((r.id, r.y) for r in io.read(spark, "out").collect()) \
        == [(1, 20), (2, 40), (3, 60), (4, 80)]


def test_consume_survives_crash_at_commit_point(spark, tmp_path,
                                                monkeypatch):
    """Crash BEFORE the output manifest rename: no rows visible, the
    cursor unmoved; the rerun produces the delta exactly once."""
    import os as _os
    io, mk, double, consume = _consume_setup(spark, tmp_path)
    io.append(mk(1), "src")
    consume(spark, io, "src", "out", double)
    io.append(mk(2), "src")

    real_link = _os.link

    def crash(src, dst):
        if "snapshot-" in dst:
            raise RuntimeError("simulated crash at commit point")
        return real_link(src, dst)

    monkeypatch.setattr(_os, "link", crash)
    with pytest.raises(RuntimeError):
        consume(spark, io, "src", "out", double)
    monkeypatch.undo()
    assert sorted(r.y for r in io.read(spark, "out").collect()) == [20]
    consume(spark, io, "src", "out", double)
    assert sorted(r.y for r in io.read(spark, "out").collect()) \
        == [20, 40]
    # and converged: another run is a no-op
    assert not consume(spark, io, "src", "out", double)["committed"]


def test_consume_skips_interleaved_compaction(spark, tmp_path):
    """A source compaction in the backlog neither duplicates nor
    drops rows — its snapshot is skipped, the cursor advances past
    it (including the rewrites-only backlog case)."""
    io, mk, double, consume = _consume_setup(spark, tmp_path)
    io.append(mk(1), "src")
    consume(spark, io, "src", "out", double)
    io.append(mk(2), "src")
    io.compact(spark, "src")
    io.append(mk(3), "src")
    r = consume(spark, io, "src", "out", double)
    assert r["n_commits"] == 2  # the two appends, not the rewrite
    assert sorted(r.y for r in io.read(spark, "out").collect()) \
        == [20, 40, 60]
    # rewrites-only backlog: cursor-only zero-row commit, then no-op
    io.compact(spark, "src")
    r2 = consume(spark, io, "src", "out", double)
    assert r2["committed"] and r2["n_commits"] == 0
    assert sorted(r.y for r in io.read(spark, "out").collect()) \
        == [20, 40, 60]
    assert not consume(spark, io, "src", "out", double)["committed"]


def test_consume_independent_consumers(spark, tmp_path):
    """Two consumer names track independent cursors over one source."""
    io, mk, double, consume = _consume_setup(spark, tmp_path)
    io.append(mk(1), "src")
    consume(spark, io, "src", "out_a", double, consumer="a")
    io.append(mk(2), "src")
    consume(spark, io, "src", "out_b", double, consumer="b")
    assert sorted(r.y for r in io.read(spark, "out_a").collect()) == [20]
    assert sorted(r.y for r in io.read(spark, "out_b").collect()) \
        == [20, 40]
    consume(spark, io, "src", "out_a", double, consumer="a")
    assert sorted(r.y for r in io.read(spark, "out_a").collect()) \
        == [20, 40]


# ----------------------------------------------- tags (Iceberg refs)

def test_tags_pin_history_through_expiry(spark, tmp_path):
    """A tag keeps its snapshot travelable and its files alive through
    expire_snapshots, while untagged history below the boundary
    expires normally (Iceberg's ref-retention rule)."""
    io = TableIO(str(tmp_path))
    for i in range(3):
        io.append(spark.createDataFrame([(i,)], "id int"), "t")
    io.create_tag("v1", sequence=0)
    io.compact(spark, "t")          # rewrite at seq 3
    io.append(spark.createDataFrame([(9,)], "id int"), "t")
    res = io.expire_snapshots(keep_last=2)
    assert res["min_live_sequence"] >= 2
    # tagged snapshot: travelable below the watermark, files alive
    assert sorted(r.id for r in io.read(
        spark, "t", as_of=io.resolve_tag("v1")).collect()) == [0]
    # untagged below-boundary travel still raises
    with pytest.raises(RuntimeError, match="expired"):
        io.read(spark, "t", as_of=1)
    # head unaffected
    assert io.read(spark, "t").count() == 4


def test_tag_create_once_replace_drop(spark, tmp_path):
    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1,)], "id int"), "t")
    io.append(spark.createDataFrame([(2,)], "id int"), "t")
    io.create_tag("rel")            # default: head
    assert io.resolve_tag("rel") == 1
    with pytest.raises(RuntimeError, match="already exists"):
        io.create_tag("rel", sequence=0)
    io.create_tag("rel", sequence=0, replace=True)
    assert io.resolve_tag("rel") == 0
    assert io.list_tags() == {"rel": 0}
    io.drop_tag("rel")
    with pytest.raises(KeyError):
        io.resolve_tag("rel")
    with pytest.raises(ValueError):
        io.create_tag("rel", sequence=99)
    with pytest.raises(ValueError):
        io.create_tag("../evil")


def test_tag_below_watermark_refused(spark, tmp_path):
    """Tagging an already-expired sequence must fail loudly — its
    files may already be vacuumed."""
    io = TableIO(str(tmp_path))
    for i in range(4):
        io.append(spark.createDataFrame([(i,)], "id int"), "t")
    io.compact(spark, "t")
    io.expire_snapshots(keep_last=1)
    with pytest.raises(RuntimeError, match="watermark"):
        io.create_tag("late", sequence=0)
