"""Catalog seam: Iceberg-shaped table API with a parquet fallback.

The north_rule targets Iceberg tables (snapshot isolation, append
commits, partition layout).  This sandbox has no Iceberg runtime jar,
so the same interface is backed by a parquet directory per table plus
a JSON manifest that emulates snapshot ids/commits:

    <root>/<table>/data/snap=<snapshot_id>/part-*.parquet
    <root>/<table>/manifest.json   {"snapshots": [{"id", "run_id",
                                     "committed"[, "summary"]}...]}

Readers see only COMMITTED snapshots (the manifest is written last,
atomically via rename) — the same reader-isolation property an Iceberg
append gives.  On a cluster with the Iceberg jar, ``IcebergCatalog``
(same three methods) maps to ``writeTo(...).append()`` / snapshot
metadata; nothing above this seam changes.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def _cluster(
    df: DataFrame,
    sort_by: list[str] | None,
    sort_partitions: int | None,
) -> DataFrame:
    """Shared sort_by clustering for both backends: repartitionByRange
    + sortWithinPartitions.  Loud on misuse (the silent forms would
    defeat the file-skipping layout the knob exists for)."""
    if sort_partitions is not None:
        if sort_partitions < 1:
            raise ValueError("sort_partitions must be >= 1")
        if not sort_by:
            raise ValueError("sort_partitions requires sort_by")
    if not sort_by:
        return df
    args = ([sort_partitions] if sort_partitions is not None else []) + [
        F.col(c) for c in sort_by
    ]
    return df.repartitionByRange(*args).sortWithinPartitions(*sort_by)


class ParquetCatalog:
    def __init__(self, root: str, expire_grace_seconds: float = 0.0):
        """``expire_grace_seconds`` is the retention window for data
        directories of snapshots REPLACED by overwrite/compact —
        Iceberg's expire_snapshots retention.  Replaced snapshots leave
        the manifest at the commit flip (new readers never see them)
        but their files are deleted only once the grace period has
        elapsed, so a reader that resolved paths from the pre-flip
        manifest and is still mid-scan keeps its files.  The default 0
        removes them at the next commit/expire call — single-process
        semantics; concurrent-reader deployments set it to longer than
        their slowest read job."""
        self.root = root
        self.expire_grace_seconds = expire_grace_seconds
        os.makedirs(root, exist_ok=True)

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "manifest.json")

    def _read_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"snapshots": []}
        with open(p) as f:
            return json.load(f)

    def _write_manifest(self, table: str, manifest: dict) -> None:
        """The atomic commit: write beside, then rename over."""
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(table))

    def _write_snapshot(self, table: str, df: DataFrame,
                        partition_by: list[str] | None,
                        sort_by: list[str] | None,
                        sort_partitions: int | None) -> tuple[str, str]:
        """Write ``df`` into a new, not yet committed snapshot directory;
        returns (snapshot id, directory).  The id's leading ``s`` keeps
        it non-numeric: as a ``snap=<id>`` value a bare hex id such as
        ``123456789012`` or ``1234e5678901`` is typed by Spark's
        partition inference as a long or a huge-exponent decimal (the
        latter spins a read for minutes).  Older ids read as they are.

        A partitioned write without ``sort_by`` hash-repartitions on the
        partition columns first, so each partition value is written by
        one task: one parquet file per partition value per snapshot
        (append, overwrite and compact alike), not one per task that
        happens to hold a row of it.  The repartition asks for
        ``defaultParallelism`` partitions explicitly: AQE does not
        coalesce an explicit count, so a small commit's buckets are
        written by every core instead of one coalesced task."""
        snap_id = "s" + uuid.uuid4().hex[:11]
        data_dir = os.path.join(self._tdir(table), "data", f"snap={snap_id}")
        df = _cluster(df, sort_by, sort_partitions)
        if partition_by and not sort_by:
            df = df.repartition(
                df.sparkSession.sparkContext.defaultParallelism,
                *partition_by,
            )
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        return snap_id, data_dir

    def snapshots(self, table: str) -> list[dict]:
        return self._read_manifest(table)["snapshots"]

    def expire_snapshots(self, table: str,
                         grace_seconds: float | None = None) -> list[str]:
        """Delete data directories of snapshots expired by an earlier
        overwrite/compact once they are older than ``grace_seconds``
        (default: the catalog's ``expire_grace_seconds``) — the
        explicit maintenance half of Iceberg's expire_snapshots.
        Returns the snapshot ids whose directories were removed.
        Idempotent; safe to run any time."""
        import shutil

        if grace_seconds is None:
            grace_seconds = self.expire_grace_seconds
        removed: list[str] = []
        with self._commit_lock(table):
            manifest = self._read_manifest(table)
            pending = manifest.get("expired", [])
            if not pending:
                return removed
            cutoff = time.time() - grace_seconds
            keep = []
            for e in pending:
                if e["expired_at"] <= cutoff:
                    shutil.rmtree(
                        os.path.join(self._tdir(table), "data",
                                     f"snap={e['id']}"),
                        ignore_errors=True,
                    )
                    removed.append(e["id"])
                else:
                    keep.append(e)
            if keep:
                manifest["expired"] = keep
            else:
                manifest.pop("expired", None)
            self._write_manifest(table, manifest)
        return removed

    def _commit_lock(self, table: str):
        """Advisory per-table commit lock (fcntl.flock) held across
        every manifest read-modify-write.  Closes the residual race
        ADVICE r3 found in compact: an append landing between the
        concurrent-commit re-read and the os.replace flip was silently
        dropped from the manifest.  flock serializes commits from all
        processes on one host — the scope a local ParquetCatalog can
        be shared at; multi-host deployments use IcebergCatalog, whose
        catalog performs real optimistic commits."""
        from contextlib import contextmanager

        @contextmanager
        def lock():
            import fcntl

            os.makedirs(self._tdir(table), exist_ok=True)
            with open(os.path.join(self._tdir(table),
                                   ".commit.lock"), "w") as lk:
                fcntl.flock(lk, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(lk, fcntl.LOCK_UN)

        return lock()

    def exists(self, table: str) -> bool:
        return bool(self.snapshots(table))

    def append(self, table: str, df: DataFrame, run_id: str,
               partition_by: list[str] | None = None,
               sort_by: list[str] | None = None,
               sort_partitions: int | None = None,
               summary: dict | None = None) -> str:
        """One atomic append commit; returns the new snapshot id.

        ``summary`` is extra snapshot metadata (e.g. a run's wall time)
        stored in the same manifest entry as ``run_id``, so it commits
        atomically with the data (Iceberg's snapshot summary).

        ``partition_by`` lays the snapshot out Hive-style
        (``col=value`` directories) with one parquet file per partition
        value in this commit, written by ``defaultParallelism`` tasks
        (see :meth:`_write_snapshot`).

        ``sort_by`` clusters the commit on those columns —
        repartitionByRange + sortWithinPartitions (one range exchange,
        the cost of a sorted layout): each parquet file's footer then
        carries tight, near-DISJOINT min/max stats, so point/range
        scans skip whole files and row groups — the data-skipping
        layout knob (Iceberg's write.sort-order) for a 10^12-row
        triple table queried by subject.  ``sort_partitions`` pins the
        range-partition count (AQE otherwise sizes it by data volume —
        right at scale, but a small commit coalesces to one file)."""
        snap_id, _ = self._write_snapshot(
            table, df, partition_by, sort_by, sort_partitions
        )
        with self._commit_lock(table):
            manifest = self._read_manifest(table)
            entry = {"id": snap_id, "run_id": run_id,
                     "committed": time.time()}
            if summary:
                entry["summary"] = summary
            manifest["snapshots"].append(entry)
            self._write_manifest(table, manifest)
        return snap_id

    def overwrite(self, table: str, df: DataFrame, run_id: str,
                  partition_by: list[str] | None = None,
                  sort_by: list[str] | None = None,
                  sort_partitions: int | None = None) -> str:
        """Replace the table's entire content with ``df`` as ONE new
        snapshot — the copy-on-write commit shape (Iceberg's COW
        DELETE/overwrite): callers hand in the rewritten state (e.g.
        the table anti-joined against a delete set) and the flip is
        atomic.  ``df`` MAY read from the table's current snapshots —
        the plan executes into the new snapshot directory BEFORE the
        manifest flips, and old data dirs are removed only after the
        flip AND past ``expire_grace_seconds`` (a reader that resolved
        paths from the pre-flip manifest keeps its files mid-scan; see
        :meth:`expire_snapshots`).

        Same optimistic concurrency as :meth:`compact`: aborts loudly
        (new dir removed, table untouched) if any commit landed while
        the rewrite ran.  Time travel into replaced snapshots raises
        KeyError afterwards, exactly like post-compaction expiry.
        """
        import shutil

        snaps = self.snapshots(table)
        if partition_by is None and snaps:
            partition_by = self._detect_partitioning(
                table, snaps[-1]["id"]
            )
        snap_id, data_dir = self._write_snapshot(
            table, df, partition_by, sort_by, sort_partitions
        )
        wrote_empty = not any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(data_dir) for f in fs
        )
        if wrote_empty:
            # an empty partitioned write emits no data files at all,
            # leaving the table unreadable; keep the schema in one
            # empty UNpartitioned footer.  The snapshot is flagged in
            # the manifest so multi-dir reads EXCLUDE it — unioning an
            # unpartitioned dir with later partitioned appends would
            # fail partition discovery
            # (CONFLICTING_PARTITION_COLUMN_NAMES); it is only read
            # alone, as the schema-bearing empty table.
            df.limit(0).write.mode("overwrite").parquet(data_dir)
        with self._commit_lock(table):
            now = self.snapshots(table)
            if [s["id"] for s in now] != [s["id"] for s in snaps]:
                shutil.rmtree(data_dir, ignore_errors=True)
                raise RuntimeError(
                    f"overwrite({table}): concurrent commit detected "
                    f"({len(now)} snapshots now vs {len(snaps)} at "
                    "start); table untouched — recompute and retry"
                )
            entry = {
                "id": snap_id,
                "run_id": run_id,
                "committed": time.time(),
                "replaced_from": [s["id"] for s in snaps],
            }
            if wrote_empty:
                entry["empty"] = True
            manifest = {"snapshots": [entry]}
            pending = self._read_manifest(table).get("expired", [])
            ts = time.time()
            pending += [{"id": s["id"], "expired_at": ts} for s in snaps]
            if pending:
                manifest["expired"] = pending
            self._write_manifest(table, manifest)  # atomic flip
        # replaced dirs are deleted only past the grace window (see
        # __init__ / expire_snapshots) — a reader that resolved paths
        # from the pre-flip manifest keeps its files while it scans
        self.expire_snapshots(table)
        return snap_id

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Union of all committed snapshots (uncommitted dirs invisible)."""
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"table {table} has no committed snapshots")
        return self._read_snaps(spark, table, snaps)

    def _read_snaps(
        self, spark: SparkSession, table: str, snaps: list[dict]
    ) -> DataFrame:
        """Read a list of snapshot entries as one DataFrame.  Empty
        (schema-only, unpartitioned) snapshots are excluded from
        multi-dir unions — their layout conflicts with partitioned
        appends — and read alone only when nothing else exists."""
        live = [s for s in snaps if not s.get("empty")]
        chosen = live or snaps[-1:]
        paths = [
            os.path.join(self._tdir(table), "data", f"snap={s['id']}")
            for s in chosen
        ]
        return spark.read.option("basePath", self._tdir(table)).parquet(
            *paths
        )

    def _snap_index(self, table: str, snapshot_id: str) -> int:
        snaps = self.snapshots(table)
        for i, s in enumerate(snaps):
            if s["id"] == snapshot_id:
                return i
        raise KeyError(
            f"snapshot {snapshot_id!r} not found in table {table!r}"
        )

    def _read_range(
        self, spark: SparkSession, table: str, lo: int, hi: int
    ) -> DataFrame:
        snaps = self.snapshots(table)[lo:hi]
        if not snaps:
            # empty range: zero rows with the table's schema
            return self.read(spark, table).limit(0)
        return self._read_snaps(spark, table, snaps)

    def read_as_of(
        self, spark: SparkSession, table: str, snapshot_id: str
    ) -> DataFrame:
        """Time travel: the table's state AS OF ``snapshot_id`` — every
        commit up to and including it (append-only catalog, so state =
        prefix union).  Iceberg analogue: ``VERSION AS OF``."""
        return self._read_range(
            spark, table, 0, self._snap_index(table, snapshot_id) + 1
        )

    def read_incremental(
        self,
        spark: SparkSession,
        table: str,
        after: str | None = None,
        until: str | None = None,
    ) -> DataFrame:
        """Incremental read: rows committed STRICTLY AFTER snapshot
        ``after`` (None = from the beginning) up to and including
        ``until`` (None = latest).  Iceberg analogue: a scan with
        ``start-snapshot-id`` / ``end-snapshot-id`` — the consumer-side
        primitive for downstream jobs that process each triple commit
        exactly once without re-reading the whole table."""
        snaps = self.snapshots(table)
        lo = 0 if after is None else self._snap_index(table, after) + 1
        hi = (
            len(snaps)
            if until is None
            else self._snap_index(table, until) + 1
        )
        if hi < lo:
            raise ValueError(
                f"until snapshot {until!r} precedes after={after!r}"
            )
        return self._read_range(spark, table, lo, hi)

    def _detect_partitioning(self, table: str, snap_id: str) -> list[str]:
        """Partition columns of a snapshot, from its directory layout
        (`col=value` nesting order, Hive-style)."""
        cols: list[str] = []
        d = os.path.join(self._tdir(table), "data", f"snap={snap_id}")
        while True:
            subs = [
                e for e in os.listdir(d)
                if "=" in e and os.path.isdir(os.path.join(d, e))
            ]
            if not subs:
                return cols
            cols.append(subs[0].split("=", 1)[0])
            d = os.path.join(d, subs[0])

    def compact(
        self,
        spark: SparkSession,
        table: str,
        run_id: str = "compaction",
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        sort_partitions: int | None = None,
    ) -> str:
        """Rewrite every committed snapshot into ONE new snapshot and
        expire the old ones — the Iceberg rewrite_data_files +
        expire_snapshots maintenance pass.  A 10^12-doc table appended
        in small increments otherwise accumulates unboundedly many
        snapshot directories (and `read` unions them all: planning
        cost grows per commit).

        The rewrite preserves the table's partition layout by default
        (detected from the newest snapshot's directory structure —
        Hive-style `col=value` nesting; pass ``partition_by`` to
        override), and ``sort_by``/``sort_partitions`` re-cluster the
        rewrite — the point where Iceberg's rewrite_data_files applies
        its sort strategy, restoring file-skipping footers that
        incremental appends eroded.

        Concurrency: this emulation is single-writer.  The manifest is
        re-read immediately before the atomic flip and the compaction
        ABORTS (RuntimeError, new data dir removed, table untouched)
        if any commit landed meanwhile — a loud, retryable conflict
        instead of silently resurrecting expired snapshots or dropping
        the concurrent append (Iceberg's commit-conflict semantics).
        Old data directories are removed only after the flip.  Time
        travel / incremental reads into expired snapshots raise
        KeyError afterwards — exactly Iceberg's post-expire behavior;
        downstream incremental consumers must checkpoint past commits
        before a compaction (run_id marks it in the manifest for their
        audit).

        Returns the new snapshot id (or the current single snapshot's
        id if there is nothing to compact).
        """
        import shutil

        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(
                f"table {table} has no committed snapshots"
            )
        if len(snaps) == 1:
            return snaps[0]["id"]
        if partition_by is None:
            partition_by = self._detect_partitioning(
                table, snaps[-1]["id"]
            )
        snap_id, data_dir = self._write_snapshot(
            table, self.read(spark, table).drop("snap"), partition_by,
            sort_by, sort_partitions,
        )
        # optimistic concurrency: abort loudly if anything committed
        # while the rewrite ran.  The commit lock makes the check
        # airtight — append holds the same flock for its manifest
        # flip, so nothing can land between this re-read and ours
        # (the race window ADVICE r3 flagged).
        with self._commit_lock(table):
            now = self.snapshots(table)
            if [s["id"] for s in now] != [s["id"] for s in snaps]:
                shutil.rmtree(data_dir, ignore_errors=True)
                raise RuntimeError(
                    f"compact({table}): concurrent commit detected "
                    f"({len(now)} snapshots now vs {len(snaps)} at start); "
                    "table untouched — retry the compaction"
                )
            manifest = {
                "snapshots": [
                    {
                        "id": snap_id,
                        "run_id": run_id,
                        "committed": time.time(),
                        "compacted_from": [s["id"] for s in snaps],
                    }
                ]
            }
            pending = self._read_manifest(table).get("expired", [])
            ts = time.time()
            pending += [{"id": s["id"], "expired_at": ts} for s in snaps]
            if pending:
                manifest["expired"] = pending
            self._write_manifest(table, manifest)  # atomic flip
        # grace-period deferred deletion — see overwrite/expire_snapshots
        self.expire_snapshots(table)
        return snap_id


class IcebergCatalog:
    """The same seam over a REAL Iceberg catalog (requires the Iceberg
    runtime jar + a configured Spark catalog — unavailable in this
    sandbox, so only the constructor contract is testable here).

    Everything above the seam (pipeline.run_link_job, streaming,
    SparkHunter) is duck-typed against the four methods, so swapping
    ``ParquetCatalog(root)`` for ``IcebergCatalog(spark, "my_cat")``
    is the whole migration.  Mapping:

    * ``append``  -> ``df.writeTo(cat.ns.table).append()`` (creates on
      first write, with the requested partition layout); ``run_id``
      rides in the snapshot summary via ``snapshot-property.run_id`` —
      the lineage join key, same as the parquet manifest's field — and
      each ``summary`` key as one more ``snapshot-property.*`` (values
      read back as strings, in ``snapshots()[i]["summary"]``).
    * ``read``    -> ``spark.table(...)`` (snapshot isolation is
      Iceberg's own committed-manifest semantics; time travel via
      ``VERSION AS OF`` stays available to callers).
    * ``snapshots`` -> the table's ``.snapshots`` metadata table.
    """

    def __init__(self, spark: SparkSession, catalog: str,
                 namespace: str = "kg"):
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if impl is None:
            raise RuntimeError(
                f"Spark catalog '{catalog}' is not configured; set "
                f"spark.sql.catalog.{catalog}="
                "org.apache.iceberg.spark.SparkCatalog (plus warehouse/"
                "catalog-impl options) and ship the iceberg-spark-runtime "
                "jar with --packages"
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _fqn(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._fqn(table))

    def snapshots(self, table: str) -> list[dict]:
        if not self.exists(table):
            return []
        rows = self.spark.sql(
            f"SELECT snapshot_id, committed_at, summary "
            f"FROM {self._fqn(table)}.snapshots ORDER BY committed_at"
        ).collect()
        return [
            {
                "id": str(r.snapshot_id),
                "run_id": (r.summary or {}).get("run_id"),
                "committed": r.committed_at.timestamp(),
                "summary": dict(r.summary or {}),
            }
            for r in rows
        ]

    def append(self, table: str, df: DataFrame, run_id: str,
               partition_by: list[str] | None = None,
               sort_by: list[str] | None = None,
               sort_partitions: int | None = None,
               summary: dict | None = None) -> str:
        df = _cluster(df, sort_by, sort_partitions)
        writer = df.writeTo(self._fqn(table)).option(
            "snapshot-property.run_id", run_id
        )
        for k, v in (summary or {}).items():
            writer = writer.option(f"snapshot-property.{k}", str(v))
        if self.exists(table):
            writer.append()
        else:
            if partition_by:
                writer = writer.partitionedBy(
                    *[F.col(c) for c in partition_by]
                )
            writer.create()
        last = self.spark.sql(
            f"SELECT snapshot_id FROM {self._fqn(table)}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return str(last[0].snapshot_id) if last else ""

    def overwrite(self, table: str, df: DataFrame, run_id: str,
                  partition_by: list[str] | None = None,
                  sort_by: list[str] | None = None,
                  sort_partitions: int | None = None) -> str:
        """Copy-on-write full-table replace (ParquetCatalog.overwrite
        parity) via ``createOrReplace`` — a REPLACE TABLE ... AS SELECT
        commit, so partitions emptied by a delete disappear too (an
        ``overwritePartitions`` would keep partitions absent from
        ``df``).  ``df`` may read from the table itself — the plan is
        eagerly localCheckpoint()ed before the replace starts
        rewriting (same self-read discipline as the CC/graph loops)."""
        df = _cluster(df, sort_by, sort_partitions).localCheckpoint()
        writer = df.writeTo(self._fqn(table)).option(
            "snapshot-property.run_id", run_id
        )
        if partition_by:
            writer = writer.partitionedBy(
                *[F.col(c) for c in partition_by]
            )
        writer.createOrReplace()
        last = self.spark.sql(
            f"SELECT snapshot_id FROM {self._fqn(table)}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return str(last[0].snapshot_id) if last else ""

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        if not self.exists(table):
            raise FileNotFoundError(
                f"table {table} has no committed snapshots"
            )
        return spark.table(self._fqn(table))

    def read_as_of(
        self, spark: SparkSession, table: str, snapshot_id: str
    ) -> DataFrame:
        """Iceberg time travel: ``VERSION AS OF <snapshot_id>``."""
        return spark.sql(
            f"SELECT * FROM {self._fqn(table)} VERSION AS OF {snapshot_id}"
        )

    def read_incremental(
        self,
        spark: SparkSession,
        table: str,
        after: str | None = None,
        until: str | None = None,
    ) -> DataFrame:
        """Iceberg incremental scan between snapshot ids (exclusive
        start, inclusive end) — ``start-snapshot-id`` requires a lower
        bound, so ``after=None`` falls back to a full read / time
        travel."""
        if after is None:
            return (
                self.read(spark, table)
                if until is None
                else self.read_as_of(spark, table, until)
            )
        reader = (
            spark.read.format("iceberg")
            .option("start-snapshot-id", after)
        )
        if until is not None:
            reader = reader.option("end-snapshot-id", until)
        return reader.load(self._fqn(table))

    def compact(
        self,
        spark: SparkSession,
        table: str,
        run_id: str = "compaction",
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        sort_partitions: int | None = None,
    ) -> str:
        """Iceberg maintenance: rewrite_data_files + expire_snapshots
        via the catalog's stored procedures (partition layout is fixed
        at table creation, so ``partition_by`` is ignored here;
        ``sort_by`` maps to the rewrite's sort strategy)."""
        fqn = self._fqn(table)
        sort_args = (
            ", strategy => 'sort', sort_order => '"
            + ", ".join(f"{c} ASC" for c in sort_by)
            + "'"
            if sort_by
            else ""
        )
        spark.sql(
            f"CALL {self.catalog}.system.rewrite_data_files"
            f"(table => '{self.namespace}.{table}'{sort_args})"
        )
        spark.sql(
            f"CALL {self.catalog}.system.expire_snapshots"
            f"(table => '{self.namespace}.{table}', "
            f"older_than => TIMESTAMP '9999-01-01 00:00:00', "
            f"retain_last => 1)"
        )
        last = spark.sql(
            f"SELECT snapshot_id FROM {fqn}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return str(last[0].snapshot_id) if last else ""


def snapshot_diff(
    spark: SparkSession,
    catalog,
    table: str,
    from_snapshot: str | None,
    to_snapshot: str | None = None,
) -> DataFrame:
    """Set difference between two committed states of a table: rows
    'added' (in ``to`` but not ``from``) and 'removed' (in ``from`` but
    not ``to``), with an ``op`` column — the audit primitive for KG
    maintenance (what did this run change?) and for validating that a
    compaction/migration preserved content exactly.

    Works against any catalog with ``read``/``read_as_of``
    (ParquetCatalog or IcebergCatalog).  ``from_snapshot=None`` means
    the empty table (everything in ``to`` is 'added');
    ``to_snapshot=None`` means the latest state.  Internal partition
    bookkeeping columns (``snap``) are excluded from the comparison.

    For the append-only fast path (both snapshots live, no compaction
    between them) prefer ``read_incremental`` — it touches only the
    delta files.  This function is the general form: EXCEPT in both
    directions, correct across compactions because it compares CONTENT,
    not snapshot lineage.  Each EXCEPT is one hash aggregation over the
    union of both sides — 10^12-row tables should diff a partition
    predicate's slice, not the world.
    """
    latest = (
        catalog.read(spark, table)
        if to_snapshot is None
        else catalog.read_as_of(spark, table, to_snapshot)
    )
    cols = [c for c in latest.columns if c != "snap"]
    after = latest.select(*cols)
    if from_snapshot is None:
        before = after.limit(0)
    else:
        before = catalog.read_as_of(spark, table, from_snapshot).select(*cols)
    added = after.subtract(before)
    removed = before.subtract(after)
    return added.withColumn("op", F.lit("added")).unionByName(
        removed.withColumn("op", F.lit("removed"))
    )
