"""Iceberg backend dispatch + resume (VERDICT r2 item 6). No Iceberg jar
ships in-sandbox, so these tests mock the gate and assert the factory routes
correctly; the parquet emulation path is exercised for real by
test_manifest_resume.py.
"""

from log_parser_mind_spark.sources import iceberg, tables
from log_parser_mind_spark.sources.manifest import SnapshotStore


def test_gate_is_false_in_sandbox(spark):
    assert tables.iceberg_available(spark) is False


def test_factory_dispatches_on_gate(spark, tmp_path, monkeypatch):
    # gate false → parquet emulation, regardless of namespace
    s = iceberg.snapshot_store(spark, str(tmp_path), namespace="lpm")
    assert isinstance(s, SnapshotStore)
    # gate true + namespace → real catalog backend
    monkeypatch.setattr(iceberg, "iceberg_available", lambda _s: True)
    s2 = iceberg.snapshot_store(spark, str(tmp_path), namespace="lpm")
    assert isinstance(s2, iceberg.IcebergStore)
    assert s2._table("parsed_turns") == "lpm.parsed_turns"
    # gate true but NO namespace configured → still the emulation
    s3 = iceberg.snapshot_store(spark, str(tmp_path))
    assert isinstance(s3, SnapshotStore)


# ---------------------------------------------------------------------------
# Resume through the Iceberg backend (VERDICT r3 item 1). The catalog I/O is
# faked at the documented seam (_write_data/_snapshots/_read_table/
# _append_manifest/_read_manifest) — commit ordering, snapshot-summary run_id
# markers, manifest bookkeeping, _committed_by_run, and job.run's skip logic
# all execute the REAL IcebergStore / plans.job code. With a real catalog on
# the classpath the same store runs unmodified (snapshot_store dispatch).
# ---------------------------------------------------------------------------

import json
import os
import time

import pytest

from pyspark.sql import functions as F

from log_parser_mind_spark.config import PipelineConfig
from log_parser_mind_spark.plans import job
from log_parser_mind_spark.synth import synth_transcripts


class _FakeCatalogStore(iceberg.IcebergStore):
    """Five-seam fake: snapshots are parquet dirs plus a JSON snapshot log
    per table (snapshot_id + summary map, newest first) — the minimum
    catalog behavior Iceberg guarantees (atomic snapshot creation, summary
    properties, time-travel reads)."""

    def __init__(self, spark, namespace, root):
        super().__init__(spark, namespace)
        self.root = root

    def _dir(self, sink):
        return os.path.join(self.root, sink)

    def _log_path(self, sink):
        return os.path.join(self._dir(sink), "_snapshots.json")

    def _load_log(self, sink):
        try:
            with open(self._log_path(sink)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return []

    def _write_data(self, df, sink, run_id, partition_by, extra_props=None):
        sid = time.time_ns()  # 64-bit, strictly increasing across commits
        path = os.path.join(self._dir(sink), f"snap={sid}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        summary = {"run_id": run_id, "added-records": str(df.count())}
        summary.update({k: str(v) for k, v in (extra_props or {}).items()})
        log = [{"snapshot_id": sid, "summary": summary}] + self._load_log(sink)
        with open(self._log_path(sink), "w") as fh:
            json.dump(log, fh)
        return sid, summary

    def _snapshots(self, sink):
        return [(e["snapshot_id"], e["summary"]) for e in self._load_log(sink)]

    def _read_table(self, sink, snapshot=None):
        log = self._load_log(sink)
        sid = log[0]["snapshot_id"] if snapshot is None else snapshot
        return self.spark.read.parquet(os.path.join(self._dir(sink), f"snap={sid}"))

    def _append_manifest(self, rows):
        """An optimistic table commit: read the current version, take a
        catalog round trip, then claim the next version. An append that
        finds its version already claimed by a concurrent one fails, as
        Iceberg's does once its commit retries run out."""
        import pandas as pd

        d = os.path.join(self.root, "_manifest_tbl")
        os.makedirs(d, exist_ok=True)
        version = len(os.listdir(d))
        pdf = pd.DataFrame(
            rows,
            columns=["run_id", "stage", "snapshot", "partition_id",
                     "rows_in", "rows_out", "committed_at", "status"],
        )
        pdf["committed_at"] = pdf["committed_at"].astype("datetime64[us]")
        time.sleep(0.05)
        try:
            fd = os.open(os.path.join(d, f"v{version}.parquet"), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise RuntimeError(f"manifest commit conflict at version {version}") from None
        with os.fdopen(fd, "wb") as fh:
            pdf.to_parquet(fh)

    def _read_manifest(self):
        p = os.path.join(self.root, "_manifest_tbl")
        if not os.path.isdir(p) or not os.listdir(p):
            return self.spark.createDataFrame([], iceberg.MANIFEST_DDL_COLS)
        return self.spark.read.parquet(p)


@pytest.fixture()
def fake_catalog(spark, tmp_path, monkeypatch):
    store = _FakeCatalogStore(spark, "lpm", str(tmp_path / "catalog"))
    os.makedirs(store.root, exist_ok=True)
    for sink in ("parsed_turns", "templates", "hourly_rollup", "error_rates",
                 "route_errors", "alerts", "_manifest"):
        os.makedirs(store._dir(sink), exist_ok=True)
    def dispatch(spark_, root_, namespace=None):
        # Respect the dispatch contract: only a configured namespace selects
        # the (fake) catalog backend; namespace-less callers get the REAL
        # parquet store so cross-backend comparisons actually cross backends.
        return store if namespace else SnapshotStore(spark_, root_)

    monkeypatch.setattr(iceberg, "snapshot_store", dispatch)
    return store


def test_iceberg_resume_kill_rerun(spark, tmp_path, fake_catalog):
    """The kill/re-run contract from test_manifest_resume, through the
    Iceberg dispatch: stages committed before the kill are skipped on
    re-run, the resumed result equals a fresh run, and the crash window
    (data snapshot committed, manifest row lost) recomputes WITHOUT
    duplicate rows because commit is an atomic replace."""
    store = fake_catalog
    tr = synth_transcripts(spark, n_convs=20, seed=5)

    # Run killed after two stages: commit them manually under r2.
    sinks = job.build_sinks(spark, tr, PipelineConfig(), now="2024-01-02 00:00:00")
    store.commit(sinks["parsed_turns"], "parsed_turns", run_id="r2",
                 sort_within_partitions=job.PARSED_SORT)
    store.commit(sinks["templates"], "templates", run_id="r2")

    result = job.run(spark, tr, root=str(tmp_path / "unused"), run_id="r2",
                     now="2024-01-02 00:00:00", namespace="lpm")
    assert set(result.resumed) == {"parsed_turns", "templates"}

    def stage_totals():
        # The concurrent commits share one manifest table: exactly one
        # stage-total row per sink, none lost to a racing append.
        m = store.manifest().filter("run_id = 'r2' and partition_id = -1")
        return sorted(r.stage for r in m.select("stage").collect())

    assert stage_totals() == sorted(result.sinks)

    # Resumed run equals a fresh parquet-backend run, sink for sink.
    fresh = job.run(spark, tr, root=str(tmp_path / "fresh_wh"), run_id="rf",
                    now="2024-01-02 00:00:00")

    def rows(df, name):
        cols = sorted(c for c in df.columns if c not in ("variables", "month"))
        return sorted(tuple(r) for r in df.select(*cols).collect())

    for name in ("parsed_turns", "templates", "hourly_rollup", "error_rates"):
        assert rows(result.sinks[name], name) == rows(fresh.sinks[name], name), name

    # Crash window: manifest rows lost, data snapshots intact. Resume must
    # recompute (manifest is the resume source of truth) and the replace
    # semantics must keep the table duplicate-free.
    import shutil

    n_before = store.read("parsed_turns").count()
    shutil.rmtree(os.path.join(store.root, "_manifest_tbl"))
    result2 = job.run(spark, tr, root=str(tmp_path / "unused"), run_id="r2",
                      now="2024-01-02 00:00:00", namespace="lpm")
    assert result2.resumed == []
    assert store.read("parsed_turns").count() == n_before  # replaced, not doubled
    assert stage_totals() == sorted(result2.sinks)


def test_iceberg_commit_marker_is_the_snapshot(spark, tmp_path, fake_catalog):
    """run_id rides in the snapshot summary: skip_if_committed dedups on it,
    is_committed sees any cataloged snapshot, manifest rows carry the stage
    totals from the summary's added-records (no second scan)."""
    store = fake_catalog
    df = spark.range(10).select(F.col("id").alias("v"))
    s1 = store.commit(df, "parsed_turns", run_id="epoch_1")
    assert store.is_committed("parsed_turns", s1)
    assert store.commit(df, "parsed_turns", run_id="epoch_1", skip_if_committed=True) == s1
    s2 = store.commit(df, "parsed_turns", run_id="epoch_2", skip_if_committed=True)
    assert s2 != s1
    m = store.manifest().filter("stage = 'parsed_turns' and partition_id = -1")
    got = {(r.run_id, r.snapshot, r.rows_out, r.status) for r in m.collect()}
    assert got == {("epoch_1", s1, 10, "committed"), ("epoch_2", s2, 10, "committed")}
    # Time travel: the superseded snapshot stays readable by id.
    assert store.read("parsed_turns", snapshot=s1).count() == 10


def test_iceberg_resume_surface_matches_snapshot_store():
    import inspect

    for name in ("commit", "read", "latest_snapshot", "expire", "manifest", "is_committed"):
        ice = inspect.signature(getattr(iceberg.IcebergStore, name))
        emu = inspect.signature(getattr(SnapshotStore, name))
        ice_req = [p for p, v in ice.parameters.items() if v.default is inspect.Parameter.empty]
        emu_req = [p for p, v in emu.parameters.items() if v.default is inspect.Parameter.empty]
        assert ice_req == emu_req, name
