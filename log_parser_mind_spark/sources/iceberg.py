"""Iceberg backend for the snapshot store (SURVEY §2.1 S4-S7) behind the
``iceberg_available()`` gate.

The north rule targets a 10^12-turn Iceberg transcripts table; the sandbox
ships no Iceberg jar (SURVEY §7.2), so day-to-day the parquet+manifest
emulation (manifest.SnapshotStore) carries the commit/resume semantics. This
module is the REAL path the gate selects when a catalog is configured:

  - commit       → ``df.writeTo(ns.sink).createOrReplace()`` — one atomic
                   Iceberg snapshot per stage carrying the run_id as a
                   snapshot-summary property (``snapshot-property.run_id``
                   write option), so the data commit IS the commit marker:
                   there is no marker-vs-data crash window at all.
  - resume       → the lineage manifest (manifest.py MANIFEST semantics:
                   stage-level rows + commit markers) lives in a
                   ``{namespace}._manifest`` catalog table; ``manifest()`` /
                   ``is_committed()`` give plans/job.run the exact surface
                   ``_committed_by_run`` already uses for the parquet store.
                   Ordering mirrors the parquet store: data commit (with its
                   embedded marker) FIRST, manifest row after — a crash
                   between the two leaves a committed-but-unlisted snapshot
                   that resume safely recomputes, and the recompute is a
                   createOrReplace, so no duplicate rows can surface.
  - read         → ``spark.read.table`` (latest) / time-travel by snapshot-id
                   (superseded states stay queryable until expire_snapshots,
                   the vacuum analog the catalog provides natively).
  - templates    → replaced per run like every other sink: plans/job.run
                   commits the run's whole dimension (built by
                   miner.templates_from_assignments), no MERGE.
  - TTL expire   → ``DELETE`` on the caller's ts column (``expire_ts_sql``)
                   — Iceberg drops whole data files by metadata where the
                   predicate aligns with a month(ts) partition transform,
                   and rewrites only the boundary files otherwise.

Per-partition lineage rows (partition_id >= 0 in the parquet manifest) are
NOT duplicated into ``_manifest``: Iceberg's own ``.files`` / ``.manifests``
metadata tables already record per-file record counts natively; the
``_manifest`` table carries the stage-level (-1) rows resume consults.

Without the jar the catalog calls fail at analysis time; the unit tests
exercise the backend DISPATCH and the resume logic (catalog I/O faked at the
``_write_data``/``_snapshots``/``_read_table``/``_append_manifest``/
``_read_manifest`` seam — everything above that seam runs for real). With
an Iceberg runtime on the classpath, ``snapshot_store(..., namespace=)``
selects this store unmodified.
"""

from __future__ import annotations

import threading
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from .tables import iceberg_available


def expire_ts_sql(table: str, ts_col: str, older_than: str) -> str:
    """TTL as a timestamp-predicate DELETE — works on ANY sink regardless of
    partitioning (SnapshotStore.expire's fallback parity): Iceberg still
    drops whole data files by metadata where the predicate aligns with a
    month(ts) partition transform, and rewrites only the boundary files
    otherwise."""
    return f"DELETE FROM {table} WHERE {ts_col} < TIMESTAMP '{older_than}'"


# Manifest table schema, DDL-side. Matches schemas.MANIFEST except `snapshot`
# is BIGINT: Iceberg snapshot ids are 64-bit, the parquet emulation's small
# integers fit in it unchanged.
MANIFEST_DDL_COLS = (
    "run_id STRING, stage STRING, snapshot BIGINT, partition_id INT, "
    "rows_in BIGINT, rows_out BIGINT, committed_at TIMESTAMP, status STRING"
)


class IcebergStore:
    """Same commit/read/expire/manifest surface as manifest.SnapshotStore,
    over a real Iceberg catalog namespace instead of snapshot= directories."""

    def __init__(self, spark: SparkSession, namespace: str):
        self.spark = spark
        self.namespace = namespace
        # plans/job.run commits sinks from several threads; one manifest
        # append at a time keeps the CREATE TABLE IF NOT EXISTS from racing
        # and the appends from using up Iceberg's commit retries.
        self._manifest_lock = threading.Lock()

    def _table(self, sink: str) -> str:
        return f"{self.namespace}.{sink}"

    # -- catalog I/O seam ---------------------------------------------------
    # The ONLY methods that touch the catalog. The jar-less unit tests
    # subclass and override exactly these five; every commit/resume decision
    # above this line runs for real in those tests.

    def _write_data(
        self,
        df: DataFrame,
        sink: str,
        run_id: str,
        partition_by: list[str] | None,
        extra_props: dict | None = None,
    ) -> tuple[int, dict]:
        """Atomically replace ``sink``'s contents with ``df`` in one Iceberg
        snapshot whose summary carries run_id (+ extra_props). Returns the
        new snapshot's (id, summary) in ONE metadata pass. The snapshot is
        identified as the newest whose summary run_id matches — never
        "newest overall": a concurrent committer landing between our commit
        and the metadata query (or a committed_at tie; Iceberg snapshot ids
        are random longs, so ordering by id is no tiebreak) must not have
        ITS snapshot attributed to our run_id in the manifest."""
        from pyspark.sql import functions as F

        t = self._table(sink)
        writer = (
            df.writeTo(t)
            .tableProperty("write.metadata.metrics.default", "truncate(16)")
            .option("snapshot-property.run_id", run_id)
        )
        for k, v in (extra_props or {}).items():
            writer = writer.option(f"snapshot-property.{k}", str(v))
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        for sid, summary in self._snapshots(sink):
            if summary.get("run_id") == run_id:
                return sid, summary
        raise RuntimeError(
            f"commit to {t} produced no snapshot with run_id {run_id!r}"
        )

    def _snapshots(self, sink: str) -> list[tuple[int, dict]]:
        """[(snapshot_id, summary_map)] newest-first; [] for an absent table."""
        t = self._table(sink)
        if not self.spark.catalog.tableExists(t):
            return []
        rows = self.spark.sql(
            f"SELECT snapshot_id, summary FROM {t}.snapshots ORDER BY committed_at DESC"
        ).collect()
        return [(int(r[0]), dict(r[1] or {})) for r in rows]

    def _read_table(self, sink: str, snapshot: int | None = None) -> DataFrame:
        if snapshot is None:
            return self.spark.read.table(self._table(sink))
        return self.spark.read.option("snapshot-id", snapshot).table(self._table(sink))

    def _append_manifest(self, rows: list[tuple]) -> None:
        t = self._table("_manifest")
        self.spark.sql(f"CREATE TABLE IF NOT EXISTS {t} ({MANIFEST_DDL_COLS})")
        df = self.spark.createDataFrame(rows, MANIFEST_DDL_COLS)
        df.writeTo(t).append()

    def _read_manifest(self) -> DataFrame:
        t = self._table("_manifest")
        if not self.spark.catalog.tableExists(t):
            return self.spark.createDataFrame([], MANIFEST_DDL_COLS)
        return self.spark.read.table(t)

    # -- commit / resume semantics -----------------------------------------

    def commit(
        self,
        df: DataFrame,
        sink: str,
        run_id: str,
        sort_within_partitions: list[str] | None = None,
        partition_by: list[str] | None = None,
        marker_extra: dict | None = None,
        skip_if_committed: bool = False,
    ) -> int:
        """One atomic catalog snapshot per stage; run_id rides in the
        snapshot summary (the commit marker IS the commit). Manifest row
        appended after — same ordering as the parquet store, and a crash in
        between is absorbed because the recompute replaces rather than
        appends (no duplicate-row window)."""
        if skip_if_committed:
            for sid, summary in self._snapshots(sink):
                if summary.get("run_id") == run_id:
                    return sid
        out = df
        if sort_within_partitions:
            out = out.sortWithinPartitions(*sort_within_partitions)
        sid, summary = self._write_data(out, sink, run_id, partition_by, marker_extra)
        # Iceberg maintains added-records in the summary natively — the same
        # "metadata, never a second scan" property the parquet store gets
        # from parquet footers.
        total = int(summary.get("added-records", 0))
        committed_at = datetime.now(timezone.utc).replace(tzinfo=None)
        with self._manifest_lock:
            self._append_manifest(
                [(run_id, sink, sid, -1, None, total, committed_at, "committed")]
            )
        return sid

    def latest_snapshot(self, sink: str) -> int | None:
        snaps = self._snapshots(sink)
        return snaps[0][0] if snaps else None

    def is_committed(self, sink: str, snapshot: int) -> bool:
        """A snapshot id present in the catalog metadata is committed by
        construction (Iceberg commits are atomic) — the analog of the parquet
        store's _COMMITTED marker check."""
        return any(sid == snapshot for sid, _ in self._snapshots(sink))

    def manifest(self) -> DataFrame:
        return self._read_manifest()

    def read(self, sink: str, snapshot: int | None = None) -> DataFrame:
        return self._read_table(sink, snapshot)

    def expire(self, sink: str, ts_col: str, older_than: str) -> None:
        # Predicate on the CALLER'S ts column, not a hardcoded month column
        # only parsed_turns has — any sink expires correctly, matching
        # SnapshotStore.expire's unpartitioned fallback behavior.
        self.spark.sql(expire_ts_sql(self._table(sink), ts_col, older_than))


def snapshot_store(spark: SparkSession, root: str, namespace: str | None = None):
    """Backend dispatch: a configured namespace AND a present Iceberg runtime
    select the real catalog path; otherwise the parquet+manifest emulation
    (which carries identical commit/resume semantics in-sandbox)."""
    from .manifest import SnapshotStore

    if namespace is not None and iceberg_available(spark):
        return IcebergStore(spark, namespace)
    return SnapshotStore(spark, root)
