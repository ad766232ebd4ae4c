"""Table layer: snapshot-committed append tables with CROSS-TABLE
atomic commits.

On a real cluster this is Iceberg (``df.writeTo(tbl).append()`` with
snapshot isolation and ``snapshot-property run_id`` lineage —
SURVEY.md §4).  This sandbox has no Iceberg jars (verified), so the
same interface is backed by parquet plus an explicit JSON snapshot
manifest per commit: readers only trust data reachable from a
manifest, which emulates Iceberg's commit point (a crashed writer
leaves parquet part-files but no manifest → invisible to readers →
kill-and-rerun is safe).

Atomicity across tables: one extraction run appends BOTH
``transactions`` and ``doc_metrics``.  If those were two independent
commits, a crash between them would leave committed transactions whose
urls the resume anti-join (keyed on doc_metrics) would reprocess —
duplicating transaction rows.  ``append_many`` therefore writes every
table's parquet first and then publishes ONE manifest covering all of
them; the single ``os.rename`` is the commit point, so either all
tables of a run become visible or none do.

Iceberg path: per-table appends are stamped with the same ``run_id``
snapshot property; a catalog-level multi-table transaction (or a
resume-time cherry-pick of tx snapshots lacking a doc_metrics
counterpart) provides the same guarantee on a cluster.  The sequential
appends here are the plan-shape placeholder, unit-tested with stub
writers (no jars in the sandbox).

Small files: each commit writes its own ``commit-<id>`` dir, so the
number of files per commit is the writer's choice, and it is a
first-order cost (as Delta Lake, VLDB 2020, reports).  Measured on a
4-core host (CPython 3.11, PySpark 4.1.2; medians of 6 perfbench
``crawl_pdf`` jobs of 2,640 docs): writing each table straight from
the 16 Python-stage partitions, 32 files of ~10 KB per run, cost
4.41 s of JVM CPU per job; rebalancing each table on url before the
write cut that to 3.27 s (2 files), and observing the row counts
instead of two ``count()`` jobs to 2.82 s, with Python-worker CPU
flat.  ``pipeline.run_extraction_job`` writes that way; ``compact``
merges the files of many small commits.

Format selection is config-driven: ``TableIO.from_conf(spark, root)``
reads ``spark.pdf_parser.table_format`` (default ``parquet``), so
cluster deployment is a one-line spark-submit ``--conf`` switch.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession

FORMAT_CONF = "spark.pdf_parser.table_format"

# Manifest layout version.  v2 = root-wide ``_snapshots`` log whose
# manifests carry a ``tables`` map (cross-table atomic commits); the
# retired v1 layout kept a per-table ``<table>/_snapshots`` dir with a
# ``files`` list.  Readers refuse both a missing/foreign version field
# and a v1 residue dir instead of silently seeing zero commits.
FORMAT_VERSION = 2

# Iceberg DDL for the three tables at 10^12-document scale.  Design:
# * pages/transactions bucket on url (1024 buckets) — co-locates the
#   resume anti-join and any url-keyed validation join WITHOUT a
#   shuffle (storage-partitioned join), and bounds per-file row counts
#   under heavy skew;
# * doc_metrics is small per row and read by rollups — bucket coarser;
# * snapshot-property run_id rides every commit (append path below).
ICEBERG_DDL = {
    "pages": (
        "CREATE TABLE IF NOT EXISTS {t} (url STRING, warc_ts TIMESTAMP,"
        " html BINARY, text STRING, lang STRING) USING iceberg"
        " PARTITIONED BY (bucket(1024, url))"
    ),
    "transactions": (
        "CREATE TABLE IF NOT EXISTS {t} (url STRING, tx_index INT,"
        " bank STRING, date STRING, description STRING, amount DOUBLE,"
        " direction STRING) USING iceberg"
        " PARTITIONED BY (bucket(1024, url))"
    ),
    "doc_metrics": (
        "CREATE TABLE IF NOT EXISTS {t} (url STRING, bank STRING,"
        " kind STRING, pages INT, n_lines INT, n_chars BIGINT,"
        " blocks_total INT, blocks_kept INT, tx_count INT,"
        " text_sha256 STRING, error STRING, part_id INT) USING iceberg"
        " PARTITIONED BY (bucket(64, url))"
    ),
}


def create_iceberg_tables(spark: SparkSession, catalog_ns: str) -> None:
    """Issue the DDL above under ``catalog.namespace`` (cluster-only;
    the sandbox has no Iceberg jars — the DDL strings are unit-tested
    for shape)."""
    for name, ddl in ICEBERG_DDL.items():
        spark.sql(ddl.format(t="%s.%s" % (catalog_ns, name)))


class TableIO:
    def __init__(self, root: str, fmt: str = "parquet"):
        if fmt not in ("parquet", "iceberg"):
            raise ValueError(fmt)
        self.root = root
        self.fmt = fmt

    @classmethod
    def from_conf(cls, spark: SparkSession, root: str) -> "TableIO":
        """Format chosen by ``spark.pdf_parser.table_format`` conf."""
        return cls(root, fmt=spark.conf.get(FORMAT_CONF, "parquet"))

    # ---------------- paths / manifests (parquet emulation)
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _snap_dir(self) -> str:
        # ONE shared snapshot log for the whole table root: a manifest
        # may commit several tables at once (the atomicity unit)
        return os.path.join(self.root, "_snapshots")

    def _manifests(self) -> List[str]:
        d = self._snap_dir()
        if not os.path.isdir(d):
            self._check_v1_residue()
            return []
        return sorted(
            os.path.join(d, f) for f in os.listdir(d)
            if f.startswith("snapshot-") and f.endswith(".json")
        )

    def _check_v1_residue(self) -> None:
        """A root written by the retired per-table layout has
        ``<table>/_snapshots`` dirs the v2 reader never scans; raise
        loudly rather than reporting an empty table."""
        if not os.path.isdir(self.root):
            return
        for entry in os.listdir(self.root):
            old = os.path.join(self.root, entry, "_snapshots")
            if entry != "_snapshots" and os.path.isdir(old):
                raise RuntimeError(
                    "table root %r holds a v1 per-table snapshot log "
                    "(%s); migrate it to the v2 root-wide layout before "
                    "reading" % (self.root, old))

    def _load_manifest(self, path: str) -> dict:
        # published manifests are immutable (the os.link claim is the
        # commit point; nothing ever rewrites one), so cache by path —
        # read() walks the log twice (files + schema) and
        # expire_snapshots' liveness union walks it keep_last×tables
        # times; without the cache that is O(manifests) json parses per
        # walk at micro-batch-cadence log sizes
        cache = self.__dict__.setdefault("_manifest_cache", {})
        if path in cache:
            return cache[path]
        with open(path) as fh:
            snap = json.load(fh)
        if snap.get("format_version") != FORMAT_VERSION:
            raise RuntimeError(
                "manifest %s has format_version=%r, reader expects %d"
                % (path, snap.get("format_version"), FORMAT_VERSION))
        cache[path] = snap
        return snap

    def _expiry_path(self) -> str:
        return os.path.join(self._snap_dir(), "expired.json")

    def _expiry_watermark(self) -> int:
        """Lowest still-travelable snapshot sequence (0 = full
        history)."""
        try:
            with open(self._expiry_path()) as fh:
                return json.load(fh)["min_live_sequence"]
        except FileNotFoundError:
            return 0

    def committed_files(self, table: str,
                        as_of: Optional[int] = None) -> List[str]:
        """Files visible for ``table``; ``as_of`` = time travel to a
        snapshot sequence (inclusive).  A ``rewrite`` commit (Iceberg's
        rewrite_data_files shape, used by compaction) replaces exactly
        the files committed at sequences ≤ its ``base``; appends that
        landed between the rewrite's read point and its publish are
        MERGED in, never erased — so compaction racing a micro-batch
        append loses neither."""
        if (as_of is not None and as_of < self._expiry_watermark()
                and as_of not in self._tag_sequences()):
            # tagged sequences stay travelable below the watermark:
            # expire_snapshots keeps every file a tag references
            # (Iceberg's ref-retention rule)
            raise RuntimeError(
                "snapshot %d is expired (min live sequence is %d): "
                "expire_snapshots removed the data files this time "
                "travel would need" % (as_of, self._expiry_watermark()))
        entries: List[tuple] = []  # (origin_sequence, [files])
        for m in self._manifests():
            snap = self._load_manifest(m)
            if as_of is not None and snap["sequence"] > as_of:
                break
            if table not in snap["tables"]:
                continue
            if snap.get("op") == "rewrite":
                base = snap.get("base", snap["sequence"] - 1)
                entries = [(snap["sequence"], list(snap["tables"][table]))] \
                    + [(s, fl) for (s, fl) in entries if s > base]
            else:
                entries.append((snap["sequence"],
                                list(snap["tables"][table])))
        return [f for _, fl in entries for f in fl]

    # ---------------- API
    def append_many(self, dfs: Dict[str, DataFrame],
                    run_id: Optional[str] = None,
                    op: str = "append",
                    base: Optional[int] = None,
                    metrics: Optional[Dict[str, Observation]] = None
                    ) -> dict:
        """Write several tables as ONE commit; the single snapshot
        manifest rename IS the commit point for all of them.

        ``metrics`` maps a table to the ``Observation`` attached to its
        frame; each is read once the writes are done and recorded under
        the manifest's ``metrics`` key (Delta Lake's per-commit
        ``operationMetrics``).  Manifests written without it lack the
        key; no reader needs it."""
        if self.fmt == "iceberg":
            for table, df in dfs.items():
                (df.writeTo(table)
                   .option("snapshot-property.run_id", run_id or "")
                   .append())
            return {"tables": {t: [] for t in dfs}, "run_id": run_id}
        if not os.path.isdir(self._snap_dir()):
            # a write against a v1-layout root must fail as loudly as a
            # read — creating the v2 log would permanently shadow the
            # v1 data (ADVICE r4); checked before any parquet lands
            self._check_v1_residue()
        commit_id = uuid.uuid4().hex[:12]
        table_files: Dict[str, List[str]] = {}
        table_schemas: Dict[str, str] = {}
        for table, df in dfs.items():
            data_dir = os.path.join(self._table_dir(table),
                                    "commit-%s" % commit_id)
            df.write.mode("error").parquet(data_dir)
            table_files[table] = [
                os.path.join(data_dir, f) for f in os.listdir(data_dir)
                if f.endswith(".parquet")
            ]
            # manifest-recorded schema = Iceberg's table-schema role:
            # the reader applies the LATEST schema explicitly, so
            # additive evolution needs no mergeSchema footer sweep
            # (driver-side O(files) at 10^12 scale)
            table_schemas[table] = df.schema.json()
        observed = {t: o.get for t, o in (metrics or {}).items()}
        snap_dir = self._snap_dir()
        os.makedirs(snap_dir, exist_ok=True)
        tmp = os.path.join(snap_dir, ".tmp-%s.json" % commit_id)
        # Optimistic commit (Iceberg's shape): claim the next sequence
        # with os.link, which — unlike os.rename — FAILS if another
        # committer already published that sequence; on collision,
        # re-scan the log and retry with the next number.  The link(2)
        # call is the atomic commit point.
        try:
            for _ in range(100):
                seq = len(self._manifests())
                manifest = {
                    "format_version": FORMAT_VERSION, "sequence": seq,
                    "commit_id": commit_id, "run_id": run_id,
                    "op": op, "tables": table_files,
                    "schemas": table_schemas,
                }
                if observed:
                    manifest["metrics"] = observed
                if op == "rewrite":
                    manifest["base"] = seq - 1 if base is None else base
                    # Iceberg-style conflict validation (ADVICE r4):
                    # a SIBLING rewrite of any of our tables that
                    # published after our base would be merged by the
                    # reader alongside ours — both carrying the full
                    # file list → silent row duplication.  Every retry
                    # rescans the log, so the loser of a same-sequence
                    # race sees the winner here and aborts.
                    for m in self._manifests():
                        snap = self._load_manifest(m)
                        if (snap.get("op") == "rewrite"
                                and snap["sequence"] > manifest["base"]
                                and any(t in snap["tables"]
                                        for t in table_files)):
                            raise RuntimeError(
                                "rewrite conflict: snapshot %d already "
                                "rewrote %s after base %d — re-read and "
                                "retry the compaction"
                                % (snap["sequence"],
                                   sorted(set(snap["tables"])
                                          & set(table_files)),
                                   manifest["base"]))
                with open(tmp, "w") as fh:
                    json.dump(manifest, fh)
                try:
                    os.link(tmp, os.path.join(
                        snap_dir, "snapshot-%05d.json" % seq))
                except FileExistsError:
                    continue
                except OSError as exc:
                    raise RuntimeError(
                        "atomic snapshot commit needs hard-link support "
                        "on %s (os.link failed: %s); a rename-based "
                        "fallback would clobber concurrent commits "
                        "silently, so none is provided" % (snap_dir, exc)
                    ) from exc
                return manifest
            raise RuntimeError(
                "could not claim a snapshot sequence after 100 attempts "
                "(livelocked commit log at %s)" % snap_dir)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def compact(self, spark: SparkSession, table: str,
                target_partitions: int = 1,
                run_id: Optional[str] = None) -> Optional[dict]:
        """Small-file compaction (Iceberg's rewrite_data_files): every
        incremental commit leaves its own parquet dir, and at
        micro-batch cadence a table accumulates thousands of small
        files — a first-order 10^12-scale problem.  Reads the current
        committed state, rewrites it as ``target_partitions`` files,
        and publishes ONE ``rewrite`` manifest; readers atomically
        switch, old files stay on disk for time travel (``as_of``
        before the rewrite still resolves the pre-compaction state).
        Safe against concurrent kill: no manifest → nothing changed.

        Concurrent-append safety: the rewrite manifest records the
        ``base`` sequence it read, and ``committed_files`` replaces
        only files committed ≤ base — an append that lands between the
        compaction's read and its publish survives the rewrite instead
        of being erased (Iceberg's file-scoped rewrite semantics).

        Retention: compaction itself never deletes — every pre-rewrite
        file stays on disk because ``as_of`` readers and in-flight
        lazy DataFrames still reference it.  Reclamation is the
        separate :meth:`expire_snapshots` maintenance op, which
        computes file liveness across ALL retained snapshots (never
        just the head) before vacuuming."""
        basis = len(self._manifests()) - 1
        # read exactly the state ``base`` claims: a commit landing
        # between the log scan and the read must not be both merged by
        # the reader AND contained in the rewrite (double-count)
        df = self.read(spark, table, as_of=basis)
        if df is None:
            return None
        return self.append_many(
            {table: df.coalesce(target_partitions)},
            run_id=run_id, op="rewrite", base=basis)

    def append(self, df: DataFrame, table: str,
               run_id: Optional[str] = None) -> dict:
        return self.append_many({table: df}, run_id=run_id)

    def table_schema(self, table: str,
                     as_of: Optional[int] = None):
        """The table's schema as of a snapshot (latest wins — Iceberg's
        current-schema rule); None for pre-schema manifests."""
        from pyspark.sql.types import StructType
        latest = None
        for m in self._manifests():
            snap = self._load_manifest(m)
            if as_of is not None and snap["sequence"] > as_of:
                break
            sj = snap.get("schemas", {}).get(table)
            if sj is not None:
                latest = sj
        return None if latest is None else \
            StructType.fromJson(json.loads(latest))

    def read(self, spark: SparkSession, table: str,
             as_of: Optional[int] = None) -> Optional[DataFrame]:
        """Committed rows only (None if no snapshot exists);
        ``as_of`` time-travels to a snapshot sequence.

        Additive schema evolution: the read applies the LATEST
        manifest-recorded schema explicitly, so files written before a
        column was added scan as NULL for it — no mergeSchema footer
        sweep, and the schema seen is per-``as_of`` correct.  (Type
        changes are NOT supported, same as the parquet reader: widen by
        rewriting via :meth:`compact` with a cast.)"""
        if self.fmt == "iceberg":
            return spark.read.format("iceberg").load(table)
        files = self.committed_files(table, as_of=as_of)
        if not files:
            return None
        schema = self.table_schema(table, as_of=as_of)
        if schema is not None:
            return spark.read.schema(schema).parquet(*files)
        return spark.read.parquet(*files)  # pre-schema manifests

    def committed_keys(self, spark: SparkSession, table: str,
                       key: str = "url") -> Optional[DataFrame]:
        df = self.read(spark, table)
        return None if df is None else df.select(key).distinct()

    def snapshots(self, table: Optional[str] = None) -> List[dict]:
        """Commit log; with ``table``, only commits touching it."""
        out = []
        for m in self._manifests():
            snap = self._load_manifest(m)
            if table is None or table in snap["tables"]:
                out.append(snap)
        return out

    def expire_snapshots(self, keep_last: int = 10,
                         dry_run: bool = False) -> dict:
        """Iceberg's ``expire_snapshots`` + vacuum: bound time-travel
        history to the latest ``keep_last`` snapshots and delete the
        data files no retained snapshot references — at micro-batch
        cadence with periodic compaction, every rewrite otherwise
        strands the full pre-rewrite table on disk forever (the
        retention note in :meth:`compact`).

        Liveness is computed across ALL retained snapshots — the union
        of ``committed_files(t, as_of=s)`` for every kept sequence and
        table — never just the head, so an append that predates the
        boundary but was never rewritten stays (its file is still in
        every newer state), while files replaced by a rewrite at or
        below the boundary die.

        Crash-safe ordering: the watermark (``expired.json``, written
        via tmp+rename) publishes FIRST, so no reader starts a time
        travel below it; file deletion follows and is idempotent — a
        crash between the two just leaves dead files for the next run.
        Manifest JSONs are retained (the optimistic-commit sequence
        claim is ``len(manifests)``; they are bytes, the data files are
        the storage).  Concurrent appends are unaffected: manifests
        are untouched and the watermark only ever rises.  Like
        Iceberg's vacuum, in-flight readers of expired snapshots are
        the operator's retention-window contract, not a runtime check.
        """
        if keep_last < 1:
            # keep_last=0 would make the liveness union empty and
            # vacuum the HEAD snapshot's files — total data loss from
            # one maintenance call
            raise ValueError("keep_last must be >= 1, got %d" % keep_last)
        manifests = self._manifests()
        wm = self._expiry_watermark()
        # never below the published watermark: a rerun after a crash
        # between watermark publish and deletion recomputes the same
        # dead set and finishes the vacuum (deletion is idempotent)
        boundary = max(len(manifests) - keep_last, wm)
        if boundary <= 0:
            return {"min_live_sequence": wm, "files_deleted": []}
        all_files: set = set()
        tables: set = set()
        for m in manifests:
            snap = self._load_manifest(m)
            tables.update(snap["tables"])
            for fl in snap["tables"].values():
                all_files.update(fl)
        live: set = set()
        retained = set(range(boundary, len(manifests)))
        retained |= {s for s in self._tag_sequences()
                     if 0 <= s < len(manifests)}
        for s in retained:
            for t in tables:
                live.update(self.committed_files(t, as_of=s))
        dead = sorted(f for f in all_files - live if os.path.exists(f))
        if dry_run:
            return {"min_live_sequence": boundary, "files_deleted": dead,
                    "dry_run": True}
        tmp = self._expiry_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"min_live_sequence": boundary}, fh)
        os.replace(tmp, self._expiry_path())  # atomic publish
        import shutil
        for f in dead:
            try:
                os.unlink(f)
            except FileNotFoundError:
                pass  # idempotent: a prior crashed run got here first
        for d in {os.path.dirname(f) for f in dead}:
            # a commit dir's parquet files die together (a rewrite
            # replaces whole sequences); once none remain, the dir
            # holds only _SUCCESS/.crc droppings — remove it
            if os.path.isdir(d) and not any(
                    f.endswith(".parquet") for f in os.listdir(d)):
                shutil.rmtree(d, ignore_errors=True)
        return {"min_live_sequence": boundary, "files_deleted": dead}

    def remove_orphan_files(self, older_than_seconds: float = 86400.0,
                            dry_run: bool = False) -> dict:
        """Iceberg's ``remove_orphan_files``: a writer that crashes
        between parquet write and manifest publish leaves data files no
        manifest references — invisible to readers (the commit-point
        guarantee) but paying storage forever.  Deletes every commit
        dir under the table root that no manifest names, guarded by an
        age threshold so an IN-FLIGHT commit (parquet written, manifest
        milliseconds away) is never swept; Iceberg's default guard is
        the same 24 h for the same race.

        Scoped to ``commit-*`` dirs only — foreign files in the root
        are never touched.  Idempotent; safe beside concurrent appends
        (a referenced dir is by definition not an orphan, and new dirs
        fail the age guard)."""
        import shutil
        import time
        # canonicalize both sides: manifests may record the root under
        # a different spelling than this instance's (relative vs
        # absolute, ./-prefixed, symlinked) — raw string comparison
        # would mark every COMMITTED dir an orphan and delete live data
        referenced = {
            os.path.realpath(os.path.dirname(f))
            for m in self._manifests()
            for fl in self._load_manifest(m)["tables"].values()
            for f in fl
        }
        now = time.time()
        orphans = []
        if os.path.isdir(self.root):
            for entry in os.listdir(self.root):
                tdir = os.path.join(self.root, entry)
                if entry == "_snapshots" or not os.path.isdir(tdir):
                    continue
                for sub in os.listdir(tdir):
                    d = os.path.join(tdir, sub)
                    if (sub.startswith("commit-") and os.path.isdir(d)
                            and os.path.realpath(d) not in referenced
                            and now - os.path.getmtime(d)
                            >= older_than_seconds):
                        orphans.append(d)
        orphans.sort()
        if not dry_run:
            for d in orphans:
                shutil.rmtree(d, ignore_errors=True)
        return {"orphan_dirs": orphans, "dry_run": dry_run}

    def read_incremental(self, spark: SparkSession, table: str,
                         from_snapshot: int,
                         to_snapshot: Optional[int] = None
                         ) -> Optional[DataFrame]:
        """Iceberg-style incremental append scan: ONLY the rows
        committed to ``table`` by append snapshots with
        ``from_snapshot < sequence <= to_snapshot`` — the API a
        downstream consumer uses to process each micro-batch of a
        10^12-row table exactly once without ever rescanning history
        (store the last-consumed sequence, pass it back as
        ``from_snapshot``).

        Semantics match Iceberg's ``incremental read`` contract:

        * append-only — a ``rewrite`` (compaction) inside the range
          raises, because a rewrite's files MERGE history and the rows
          "added" by it are not new data (Iceberg: "cannot read
          incrementally across an overwrite/rewrite");  rewrites at or
          before ``from_snapshot`` or after ``to_snapshot`` are fine —
          the range's own append files are still the exact delta;
        * the range's files must still exist — a later
          ``expire_snapshots`` may have vacuumed files a later rewrite
          replaced; that is detected and raised, never silently
          under-read;
        * schema = the as-of-``to_snapshot`` table schema (older files
          scan added columns as NULL, same rule as :meth:`read`);
        * empty range -> empty DataFrame with that schema (None only
          when the table has never been committed at all).
        """
        if self.fmt == "iceberg":
            raise NotImplementedError(
                "iceberg fmt delegates to spark.read.option("
                "'start-snapshot-id', ...) — use the catalog reader")
        files: List[str] = []
        seen_any = False
        for m in self._manifests():
            snap = self._load_manifest(m)
            seq = snap["sequence"]
            if to_snapshot is not None and seq > to_snapshot:
                break
            if table not in snap["tables"]:
                continue
            seen_any = True
            if seq <= from_snapshot:
                continue
            if snap.get("op") == "rewrite":
                raise RuntimeError(
                    "incremental read (%d, %s] of table %r crosses a "
                    "rewrite commit at sequence %d: rewrites merge "
                    "history and have no append delta — consume up to "
                    "sequence %d, then restart from it"
                    % (from_snapshot, to_snapshot, table, seq, seq - 1))
            files.extend(snap["tables"][table])
        if not seen_any:
            return None
        missing = [f for f in files if not os.path.exists(f)]
        if missing:
            raise RuntimeError(
                "incremental read (%d, %s] of table %r needs %d data "
                "file(s) that expire_snapshots has deleted (first: %s) "
                "— the range is below the vacuum horizon"
                % (from_snapshot, to_snapshot, table, len(missing),
                   missing[0]))
        schema = self.table_schema(table, as_of=to_snapshot)
        if not files:
            if schema is None:
                return None
            return spark.createDataFrame([], schema)
        if schema is not None:
            return spark.read.schema(schema).parquet(*files)
        return spark.read.parquet(*files)

    # ---------------- tags (Iceberg refs)
    def _tags_dir(self) -> str:
        return os.path.join(self._snap_dir(), "tags")

    def _tag_path(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError("invalid tag name %r" % name)
        return os.path.join(self._tags_dir(), name + ".json")

    def create_tag(self, name: str, sequence: Optional[int] = None,
                   replace: bool = False) -> dict:
        """Iceberg-style TAG: a named immutable pointer to a snapshot
        sequence (default: the current head).  Tags pin history —
        ``expire_snapshots`` keeps every file a tagged snapshot
        references and time travel to a tagged sequence works below
        the expiry watermark (exactly Iceberg's ref-retention rule).
        Create-once by default (``os.link`` claim, same atomicity as
        the commit log); ``replace=True`` republishes atomically."""
        seqs = [self._load_manifest(m)["sequence"]
                for m in self._manifests()]
        if sequence is None:
            if not seqs:
                raise RuntimeError("no snapshots to tag")
            sequence = max(seqs)
        if sequence not in seqs:
            raise ValueError("sequence %d does not exist" % sequence)
        if sequence < self._expiry_watermark():
            raise RuntimeError(
                "cannot tag sequence %d: already below the expiry "
                "watermark %d (its files may be vacuumed) — tags must "
                "be created while the snapshot is still retained"
                % (sequence, self._expiry_watermark()))
        os.makedirs(self._tags_dir(), exist_ok=True)
        path = self._tag_path(name)
        tmp = path + ".tmp-%s" % uuid.uuid4().hex[:8]
        with open(tmp, "w") as fh:
            json.dump({"sequence": sequence, "name": name}, fh)
        try:
            if replace:
                os.replace(tmp, path)
            else:
                try:
                    os.link(tmp, path)
                except FileExistsError:
                    raise RuntimeError(
                        "tag %r already exists (use replace=True)"
                        % name) from None
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        return {"name": name, "sequence": sequence}

    def resolve_tag(self, name: str) -> int:
        try:
            with open(self._tag_path(name)) as fh:
                return json.load(fh)["sequence"]
        except FileNotFoundError:
            raise KeyError("unknown tag %r" % name) from None

    def drop_tag(self, name: str) -> None:
        try:
            os.unlink(self._tag_path(name))
        except FileNotFoundError:
            raise KeyError("unknown tag %r" % name) from None

    def list_tags(self) -> Dict[str, int]:
        if not os.path.isdir(self._tags_dir()):
            return {}
        out = {}
        for f in sorted(os.listdir(self._tags_dir())):
            if f.endswith(".json") and not f.startswith("."):
                with open(os.path.join(self._tags_dir(), f)) as fh:
                    snap = json.load(fh)
                out[snap["name"]] = snap["sequence"]
        return out

    def _tag_sequences(self) -> set:
        return set(self.list_tags().values())
