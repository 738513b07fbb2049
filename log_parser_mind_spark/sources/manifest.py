"""Lineage + metrics manifest with snapshot commits and resume (north rule).

The reference has no lineage at all (its at-most-once worker pool silently
drops rows, internal/pipeline/worker.go:148-152,169-177); the north rule
mandates per-stage, per-partition row counts and resume from the last
committed snapshot. With an Iceberg catalog this is `writeTo(...).append()` +
snapshot metadata; this module emulates the same commit semantics over plain
Parquet so the behavior is exercised in the sandbox:

  - each stage writes to   <root>/<sink>/snapshot=<n>/   (atomic: data first,
    then a COMMIT marker; readers ignore snapshot dirs without a marker)
  - row counts per partition land in <root>/_manifest/ as parquet
  - resume: a re-run with the same run_id skips stages whose commit marker
    exists, reading the committed snapshot instead of recomputing
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import MANIFEST

COMMIT_MARKER = "_COMMITTED"


def _normalize_cutoff_month(older_than: str) -> str:
    """Validate a TTL cutoff and return its canonical 'yyyy-MM' month IN THE
    DATA'S FRAME (naive == UTC, which is how every ts column here is stored).
    A sloppy-but-parseable cutoff like '2024-1-5' must raise rather than
    mis-slice into a lexicographic comparison that expires the wrong
    partitions; an offset-bearing ISO cutoff is converted to UTC first —
    '2024-03-01T01:00:00+02:00' is 2024-02-29T23:00Z, month 2024-02, and
    taking its local month (2024-03) would delete a partition containing
    rows NEWER than the cutoff instant."""
    try:
        cutoff_dt = datetime.fromisoformat(older_than)
    except ValueError as e:
        raise ValueError(
            f"TTL cutoff {older_than!r} is not an ISO date/datetime"
        ) from e
    if cutoff_dt.tzinfo is not None:
        cutoff_dt = cutoff_dt.astimezone(timezone.utc).replace(tzinfo=None)
    return cutoff_dt.strftime("%Y-%m")  # lexicographic == chronological


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # Created here, not lazily, so threads committing through one store
        # share one cache (see _marker).
        self._marker_cache: dict[tuple[str, int], dict] = {}
        os.makedirs(os.path.join(root, "_manifest"), exist_ok=True)

    # -- commit protocol ----------------------------------------------------

    def _sink_dir(self, sink: str) -> str:
        return os.path.join(self.root, sink)

    def committed_snapshots(self, sink: str) -> list[int]:
        d = self._sink_dir(sink)
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.startswith("snapshot=") and os.path.exists(
                os.path.join(d, name, COMMIT_MARKER)
            ):
                out.append(int(name.split("=")[1]))
        return sorted(out)

    def latest_snapshot(self, sink: str) -> int | None:
        snaps = self.committed_snapshots(sink)
        return snaps[-1] if snaps else None

    def is_committed(self, sink: str, snapshot: int) -> bool:
        return os.path.exists(
            os.path.join(self._sink_dir(sink), f"snapshot={snapshot}", COMMIT_MARKER)
        )

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
        """Write ``df`` as the next snapshot of ``sink`` atomically and record
        per-partition row counts in the manifest. Returns the snapshot id.

        ``sort_within_partitions`` mirrors the reference's clustered sort key
        ORDER BY (source, template_id, timestamp) (001_clickhouse_schema.sql:21)
        → parquet min/max page stats give the same data-skipping effect.

        ``skip_if_committed=True`` makes the commit idempotent per
        (sink, run_id): a SEQUENTIALLY replayed micro-batch or retried job
        whose commit already landed returns the existing snapshot instead of
        appending a double-counting duplicate (the streaming path opts in).
        It is opt-in because repeated TTL passes legitimately reuse
        run_ids and must commit fresh. It is a
        read-then-reserve check, so two CONCURRENT committers with the same
        run_id can still both land — the contract is one writer per run_id.
        """
        if skip_if_committed:
            for s in self.committed_snapshots(sink):
                if self._marker(sink, s, default={}).get("run_id") == run_id:
                    return s
        latest = self.latest_snapshot(sink)
        snapshot = 0 if latest is None else latest + 1
        # Reserve the id with an atomic mkdir: two concurrent committers
        # (a live streaming epoch + a maintenance compact) that both read
        # the same latest get DIFFERENT snapshot ids instead of the later
        # writer overwriting the earlier one's committed dir.
        while True:
            path = os.path.join(self._sink_dir(sink), f"snapshot={snapshot}")
            try:
                os.makedirs(path)
                break
            except FileExistsError:
                snapshot += 1

        out = df
        if sort_within_partitions:
            out = out.sortWithinPartitions(*sort_within_partitions)
        # Into a freshly-RESERVED (empty) dir the mode must be append:
        # overwrite DELETES the target dir before writing, which would
        # destroy the reservation and reopen the concurrent-id race for the
        # duration of the write. A failed write leaves a marker-less dir the
        # reservation loop skips, so append never sees pre-existing rows.
        writer = out.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

        # Per-partition row counts from parquet FOOTERS — metadata-only reads,
        # no second scan of data just written (at 100 TB a re-read would
        # double the write stage's I/O). Lineage partition = write TASK,
        # identified by the part-NNNNN filename prefix (with partition_by a
        # task emits one file per partition value; its files are summed).
        counts = self._footer_counts(path)
        total = sum(n for _, n in counts)
        # Atomic commit point FIRST, manifest rows after: a crash between the
        # two leaves a committed-but-unlisted snapshot, which resume safely
        # recomputes as the next snapshot. The old order (manifest first)
        # left a manifest row pointing at a snapshot store.read() could not
        # find — a crash window that broke the exact kill/re-run guarantee.
        with open(os.path.join(path, COMMIT_MARKER), "w") as fh:
            json.dump(
                {"run_id": run_id, "rows": total, "ts": time.time(), **(marker_extra or {})},
                fh,
            )
        committed_at = datetime.now(timezone.utc).replace(tzinfo=None)
        rows = [
            (run_id, sink, snapshot, int(pid), None, int(n), committed_at, "committed")
            for pid, n in counts
        ] + [(run_id, sink, snapshot, -1, None, int(total), committed_at, "committed")]
        self._write_manifest_rows(rows)
        return snapshot

    def _write_manifest_rows(self, rows: list[tuple]) -> None:
        """Append lineage rows as ONE uniquely-named parquet file via pyarrow
        on the driver. A Spark append job here would be wrong twice over:
        concurrent committers share the _manifest/_temporary staging dir (one
        job's commit deletes the other's pending task files), and a 32-task
        job for a handful of rows is pure overhead. The uuid filename makes
        concurrent driver-side writes trivially safe."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [
                ("run_id", pa.string()),
                ("stage", pa.string()),
                ("snapshot", pa.int32()),
                ("partition_id", pa.int32()),
                ("rows_in", pa.int64()),
                ("rows_out", pa.int64()),
                ("committed_at", pa.timestamp("us")),
                ("status", pa.string()),
            ]
        )
        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
        )
        pq.write_table(
            table,
            os.path.join(self.root, "_manifest", f"manifest-{uuid.uuid4().hex}.parquet"),
        )

    @staticmethod
    def _footer_counts(path: str) -> list[tuple[int, int]]:
        """(task_id, num_rows) per WRITE TASK via parquet footer metadata.

        The task id is parsed from Spark's part-NNNNN filename prefix — stable
        across listing order, and honest for partitioned sinks where one task
        emits one file per partition value (those files share a prefix and
        are summed). Files without the prefix (e.g. externally placed) fall
        back to a high synthetic id so totals stay correct."""
        import re

        import pyarrow.parquet as pq

        files = []
        for dirpath, _, names in os.walk(path):
            for name in names:
                if name.endswith(".parquet"):
                    files.append(os.path.join(dirpath, name))
        files.sort()
        part_re = re.compile(r"^part-(\d+)-")
        counts: dict[int, int] = {}
        for i, f in enumerate(files):
            m = part_re.match(os.path.basename(f))
            tid = int(m.group(1)) if m else 1_000_000 + i
            counts[tid] = counts.get(tid, 0) + pq.ParquetFile(f).metadata.num_rows
        return sorted(counts.items())

    def _marker(self, sink: str, snapshot: int, default: dict | None = None) -> dict:
        """Read (memoized — markers are immutable once written, and a long
        streaming run's per-commit run_id scan would otherwise be O(epochs²)
        json reads) a snapshot's commit marker. ``default`` makes a VANISHED
        marker non-fatal for scan paths: a concurrent vacuum may rmtree a
        superseded dir between a reader's listdir and its marker open —
        scans must treat that as "snapshot gone", not crash the commit."""
        cache = self._marker_cache
        key = (sink, snapshot)
        if key not in cache:
            try:
                with open(
                    os.path.join(self._sink_dir(sink), f"snapshot={snapshot}", COMMIT_MARKER)
                ) as fh:
                    cache[key] = json.load(fh)
            except FileNotFoundError:
                if default is not None:
                    return default  # do NOT cache: the dir may appear later
                raise
        return cache[key]

    def _superseded(self, sink: str) -> set[int]:
        """Snapshot ids consumed by some compaction — their rows live in the
        compaction snapshot that lists them in its ``compacted_from``."""
        sup: set[int] = set()
        for s in self.committed_snapshots(sink):
            sup.update(self._marker(sink, s, default={}).get("compacted_from", []))
        return sup

    def visible_snapshots(self, sink: str) -> list[int]:
        """The append-table view: committed snapshots not consumed by a
        compaction. Set-based (``compacted_from`` lists), not a threshold —
        so an INCREMENTAL compaction of just the newest epochs supersedes
        only those epochs and leaves the prior consolidated snapshot
        visible."""
        sup = self._superseded(sink)
        return [s for s in self.committed_snapshots(sink) if s not in sup]

    def read_all(self, sink: str, snapshots: list[int] | None = None) -> DataFrame:
        """Read the APPEND-table view of a sink: the union of every visible
        snapshot (streaming epochs each commit one snapshot — the table is
        their union, unlike replace-style sinks where read() = latest). One
        multi-path scan node, not a driver loop of unions."""
        snaps = self.visible_snapshots(sink) if snapshots is None else snapshots
        if not snaps:
            raise FileNotFoundError(f"no committed snapshot for sink {sink!r}")
        d = self._sink_dir(sink)
        return self.spark.read.parquet(*[os.path.join(d, f"snapshot={s}") for s in snaps])

    def compact(
        self,
        sink: str,
        rows_per_file: int = 1_000_000,
        sort_within_partitions: list[str] | None = None,
        partition_by: list[str] | None = None,
        sources: list[int] | None = None,
    ) -> int:
        """OPTIMIZE analog for append-style sinks: consolidate visible
        snapshots (e.g. hundreds of per-epoch streaming commits, each a pile
        of small files) into ONE right-sized snapshot. The reference gets
        this for free from ClickHouse background merges (MergeTree parts);
        the parquet emulation needs it explicitly or small files accumulate
        without bound.

        ``sources`` restricts the pass (incremental compaction): pass just
        the raw post-compaction epochs and the previous consolidated snapshot
        is left untouched — each maintenance cycle then costs O(new data),
        not O(table). Default = all visible snapshots (full compaction).

        Atomicity: the consolidated snapshot's commit marker lists its
        ``compacted_from`` sources; creating that marker is the single commit
        point that flips ``read_all`` over. A crash before it leaves the old
        view fully intact; the source dirs are only physically deleted later
        by ``vacuum``. A concurrent epoch commit is safe: snapshot ids are
        mkdir-reserved (no overwrite race) and an epoch not in
        ``compacted_from`` stays visible. Shuffle-free: file count is set
        with coalesce (balance comes from the many source files), unless
        ``partition_by`` re-layout is requested."""
        if sources is None:
            sources = self.visible_snapshots(sink)
        if not sources:
            raise FileNotFoundError(f"no committed snapshot for sink {sink!r}")
        total_rows = sum(
            self._marker(sink, s, default={}).get("rows", 0) for s in sources
        )
        n_files = max(1, -(-total_rows // rows_per_file))
        df = self.read_all(sink, snapshots=sources)
        if not partition_by:
            df = df.coalesce(n_files)
        extra = {"compacted_through": sources[-1], "compacted_from": sources}
        # Append-ness must survive compaction+vacuum: once the tagged source
        # epochs are vacuumed, the consolidated snapshot is the only marker
        # left to tell maintenance this sink's history is live data.
        if any(self._marker(sink, s, default={}).get("append_style") for s in sources):
            extra["append_style"] = True
        return self.commit(
            df,
            sink,
            run_id=f"compact_{sources[0]}_{sources[-1]}",
            sort_within_partitions=sort_within_partitions,
            partition_by=partition_by,
            marker_extra=extra,
        )

    def is_append_style(self, sink: str) -> bool:
        """True when any committed snapshot of ``sink`` carries the
        ``append_style`` marker tag (the streaming path tags its epoch
        commits). Append-ness recorded AT COMMIT TIME means maintenance can
        refuse history pruning even when the operator forgot to declare the
        sink in ``maintain(append_sinks=...)`` (ADVICE r3: destructive by
        default on misconfiguration)."""
        return any(
            self._marker(sink, s, default={}).get("append_style")
            for s in self.committed_snapshots(sink)
        )

    def vacuum(
        self, sink: str, keep_last: int | None = None, dry_run: bool = False
    ) -> list[int]:
        """Physically delete superseded snapshot dirs. Always safe for
        snapshots some compaction lists in ``compacted_from`` (their rows
        live in the compaction snapshot). ``keep_last=N`` additionally prunes
        all but the newest N snapshots — ONLY for replace-style sinks
        (templates, baselines) where ``read()`` = latest and older snapshots
        are mere history; on an append-style sink it would delete live data,
        so it is opt-in AND refused outright when the sink's own commit
        markers say it is append-style. ``dry_run=True`` returns what would
        be deleted without touching disk. Returns the (would-be) deleted
        snapshot ids; never touches the latest."""
        import shutil

        committed = self.committed_snapshots(sink)
        if not committed:
            return []
        if keep_last is not None and self.is_append_style(sink):
            raise ValueError(
                f"sink {sink!r} has append_style commit markers: keep_last pruning "
                "would delete live epochs — compact first, then plain vacuum()"
            )
        doomed = set(self._superseded(sink)) & set(committed)
        if keep_last is not None:
            doomed.update(committed[:-keep_last] if keep_last > 0 else committed)
        doomed.discard(committed[-1])
        if dry_run:
            return sorted(doomed)
        vacuumed_at = datetime.now(timezone.utc).replace(tzinfo=None)
        rows = []
        for s in sorted(doomed):
            dropped = self._marker(sink, s, default={}).get("rows", 0)
            shutil.rmtree(
                os.path.join(self._sink_dir(sink), f"snapshot={s}"), ignore_errors=True
            )
            rows.append(
                ("vacuum", sink, s, -1, int(dropped), 0, vacuumed_at, "vacuumed")
            )
        if rows:
            self._write_manifest_rows(rows)
        return sorted(doomed)

    def read(self, sink: str, snapshot: int | None = None) -> DataFrame:
        snapshot = self.latest_snapshot(sink) if snapshot is None else snapshot
        if snapshot is None:
            raise FileNotFoundError(f"no committed snapshot for sink {sink!r}")
        return self.spark.read.parquet(
            os.path.join(self._sink_dir(sink), f"snapshot={snapshot}")
        )

    def attach_views(
        self, prefix: str = "logmind", append_sinks: tuple[str, ...] = ("stream_parsed",)
    ) -> list[str]:
        """Register every committed sink as a SQL temp view — the Spark
        analog of the reference's ClickHouse SQL surface (a gateway user
        queries tables; here ``spark.sql("SELECT ... FROM logmind_templates")``
        works directly). Views pin the LATEST snapshot at attach time
        (replace-style read); sinks DECLARED append-style get a
        ``<prefix>_<sink>_all`` union view instead of the latest-only one.
        Append-ness is the union of the DECLARED tuple and the sink's own
        ``append_style`` commit markers (never inferred from snapshot count —
        a replace-style sink with history would otherwise get a union view
        duplicating every row once per historical snapshot): a tagged sink
        the caller forgot to declare must not get a latest-only view that
        silently shows one epoch as the whole table. Re-attach after new
        commits to refresh. Returns the registered view names."""
        names = []
        for sink in sorted(os.listdir(self.root)):
            if sink == "_manifest" or not os.path.isdir(self._sink_dir(sink)):
                continue
            if not self.committed_snapshots(sink):
                continue
            self.read(sink).createOrReplaceTempView(f"{prefix}_{sink}")
            names.append(f"{prefix}_{sink}")
            if sink in append_sinks or self.is_append_style(sink):
                self.read_all(sink).createOrReplaceTempView(f"{prefix}_{sink}_all")
                names.append(f"{prefix}_{sink}_all")
        self.manifest().createOrReplaceTempView(f"{prefix}_manifest")
        names.append(f"{prefix}_manifest")
        return names

    def manifest(self) -> DataFrame:
        return self.spark.read.schema(MANIFEST).parquet(os.path.join(self.root, "_manifest"))

    def expire(self, sink: str, ts_col: str, older_than: str) -> int:
        """TTL maintenance (001_clickhouse_schema.sql:20-22: ``PARTITION BY
        toYYYYMM(timestamp)`` + ``TTL timestamp + INTERVAL 90 DAY``).

        For a month-partitioned sink (commit(partition_by=["month"])), whole
        ``month=`` directories strictly BEFORE the cutoff's month are deleted
        — a metadata-scale operation that never reads or rewrites surviving
        data, exactly how ClickHouse drops expired parts. Granularity is the
        partition: rows inside the cutoff's own month survive until the whole
        month ages out (same as part-level TTL drops). Idempotent — a crash
        mid-way leaves some expired months for the next run.

        For an unpartitioned sink this falls back to a filter + rewrite into
        a NEW snapshot — correct, but a full-copy job at 100 TB; partition
        production sinks by month (plans/job.py does for parsed_turns)."""
        # Validate + normalize the cutoff BEFORE touching disk (ADVICE r3):
        # unparseable input raises instead of deleting data, offsets convert
        # to the data's UTC frame (see _normalize_cutoff_month).
        cutoff_month = _normalize_cutoff_month(older_than)
        snapshot = self.latest_snapshot(sink)
        if snapshot is None:
            raise FileNotFoundError(f"no committed snapshot for sink {sink!r}")
        path = os.path.join(self._sink_dir(sink), f"snapshot={snapshot}")
        months = sorted(
            d for d in os.listdir(path)
            if d.startswith("month=") and os.path.isdir(os.path.join(path, d))
        )
        if not months:
            df = self.read(sink)
            kept = df.filter(F.col(ts_col) >= F.lit(older_than).cast("timestamp"))
            return self.commit(kept, sink, run_id=f"ttl_{older_than}")

        import shutil

        # Capture the schema BEFORE dropping: if every month expires, the
        # snapshot would be left with no parquet files and read() would fail
        # with UNABLE_TO_INFER_SCHEMA — ClickHouse TTL leaves an
        # empty-but-queryable table, so must we.
        schema = self.read(sink).schema
        expired_at = datetime.now(timezone.utc).replace(tzinfo=None)
        rows = []
        survivors = []
        for d in months:
            if d.split("=", 1)[1] >= cutoff_month:
                survivors.append(d)
                continue
            dropped = sum(n for _, n in self._footer_counts(os.path.join(path, d)))
            shutil.rmtree(os.path.join(path, d))
            rows.append(
                (f"ttl_{older_than}", sink, snapshot, -1, int(dropped), 0, expired_at, f"expired:{d}")
            )
        if rows:
            self._write_manifest_rows(rows)
        if not survivors:
            # Everything aged out: commit an empty (unpartitioned) snapshot
            # so the sink stays readable; a later expire on it takes the
            # filter-rewrite branch over zero rows, which is free.
            return self.commit(
                self.spark.createDataFrame([], schema), sink, run_id=f"ttl_{older_than}"
            )
        return snapshot
