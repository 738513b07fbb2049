"""Snapshot-commit + resume semantics (north rule; SURVEY §7.5.4):
kill after stage 2, re-run, identical final sinks; manifest row counts
reconcile with sink row counts.
"""

import os

import pytest

from log_parser_mind_spark.config import PipelineConfig
from log_parser_mind_spark.plans import job
from log_parser_mind_spark.sources.manifest import SnapshotStore
from log_parser_mind_spark.synth import synth_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synth_transcripts(spark, n_convs=40, seed=7)
    df.cache().count()
    return df


def _collect(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_commit_and_manifest_reconcile(spark, transcripts, tmp_path):
    root = str(tmp_path / "wh1")
    result = job.run(spark, transcripts, root=root, run_id="r1", now="2024-01-02 00:00:00")
    store = SnapshotStore(spark, root)
    parsed = store.read("parsed_turns")
    m = store.manifest()
    stage_total = (
        m.filter("stage = 'parsed_turns' and partition_id = -1").collect()[0].rows_out
    )
    assert stage_total == parsed.count()
    part_sum = (
        m.filter("stage = 'parsed_turns' and partition_id >= 0")
        .groupBy()
        .sum("rows_out")
        .collect()[0][0]
    )
    assert part_sum == stage_total
    assert set(result.sinks) >= {"parsed_turns", "templates", "hourly_rollup",
                                 "error_rates", "route_errors", "alerts"}


def test_resume_skips_committed_stages(spark, transcripts, tmp_path):
    root = str(tmp_path / "wh2")
    store = SnapshotStore(spark, root)
    # Simulate a run killed after two stages: commit them manually under r2.
    sinks = job.build_sinks(spark, transcripts, PipelineConfig(), now="2024-01-02 00:00:00")
    store.commit(sinks["parsed_turns"], "parsed_turns", run_id="r2",
                 sort_within_partitions=job.PARSED_SORT)
    store.commit(sinks["templates"], "templates", run_id="r2")

    result = job.run(spark, transcripts, root=root, run_id="r2", now="2024-01-02 00:00:00")
    assert set(result.resumed) == {"parsed_turns", "templates"}

    # Resumed run must equal a fresh run, sink for sink.
    fresh_root = str(tmp_path / "wh3")
    fresh = job.run(spark, transcripts, root=fresh_root, run_id="rf", now="2024-01-02 00:00:00")
    for name in ("parsed_turns", "templates", "hourly_rollup", "error_rates"):
        cols = [c for c in result.sinks[name].columns if c != "variables"]
        assert _collect(result.sinks[name], cols) == _collect(fresh.sinks[name], cols), name


def test_uncommitted_snapshot_ignored(spark, transcripts, tmp_path):
    root = str(tmp_path / "wh4")
    store = SnapshotStore(spark, root)
    store.commit(transcripts.limit(5), "t", run_id="a")
    # A later snapshot directory WITHOUT a commit marker must be invisible.
    transcripts.limit(3).write.parquet(os.path.join(root, "t", "snapshot=1"))
    assert store.latest_snapshot("t") == 0
    assert store.read("t").count() == 5


def test_manifest_row_without_marker_recomputes(spark, transcripts, tmp_path):
    """ADVICE r1 (medium): a manifest row whose snapshot lacks the COMMIT
    marker (crash window) must be treated as NOT committed — the resume path
    recomputes instead of raising FileNotFoundError."""
    import glob

    root = str(tmp_path / "wh6")
    store = SnapshotStore(spark, root)
    store.commit(transcripts.limit(5), "parsed_turns", run_id="rc")
    # Simulate the crash: manifest row exists, marker deleted.
    for marker in glob.glob(os.path.join(root, "parsed_turns", "snapshot=*", "_COMMITTED")):
        os.remove(marker)
    assert job._committed_by_run(store, "rc") == set()
    # A full run under the same run_id recomputes every stage cleanly.
    result = job.run(spark, transcripts, root=root, run_id="rc", now="2024-01-02 00:00:00")
    assert result.resumed == []
    assert result.sinks["parsed_turns"].count() > 5


def test_commit_counts_come_from_footers_not_a_second_scan(spark, transcripts, tmp_path):
    root = str(tmp_path / "wh7")
    store = SnapshotStore(spark, root)
    df = transcripts.repartition(4)
    store.commit(df, "t", run_id="a")
    m = store.manifest()
    parts = m.filter("stage = 't' and partition_id >= 0").collect()
    assert len(parts) == 4  # one lineage row per written part file
    assert sum(r.rows_out for r in parts) == df.count()


def test_ttl_expiry(spark, transcripts, tmp_path):
    """Unpartitioned sink: expire falls back to filter+rewrite (row-level)."""
    root = str(tmp_path / "wh5")
    store = SnapshotStore(spark, root)
    store.commit(transcripts, "t", run_id="a")
    cutoff = "2024-01-01 00:02:00"
    store.expire("t", "ts", cutoff)
    assert store.read("t").filter(f"ts < timestamp'{cutoff}'").count() == 0


def test_ttl_partition_drop_never_rewrites_survivors(spark, tmp_path):
    """VERDICT r2 item 3: on a month-partitioned sink, expire() deletes whole
    expired month dirs and the surviving files are BYTE-IDENTICAL (untouched)
    — no full-table rewrite. Granularity is the partition: rows inside the
    cutoff's own month survive (ClickHouse part-level TTL semantics)."""
    import glob
    import hashlib

    from pyspark.sql import functions as F

    root = str(tmp_path / "wh8")
    store = SnapshotStore(spark, root)
    rows = [(f"c{i}", 0, "user", f"msg {i}", "none", f"2024-0{m}-15 00:00:0{i % 10}")
            for m in (1, 2, 3) for i in range(20)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df = df.withColumn("month", F.date_format("ts", "yyyy-MM"))
    store.commit(df, "parsed", run_id="a", partition_by=["month"])

    def file_hashes():
        out = {}
        for f in glob.glob(os.path.join(root, "parsed", "snapshot=0", "month=*", "*.parquet")):
            out[f] = hashlib.sha256(open(f, "rb").read()).hexdigest()
        return out

    before = file_hashes()
    snap = store.expire("parsed", "ts", "2024-02-20 00:00:00")
    assert snap == 0  # same snapshot — no rewrite commit happened
    after = file_hashes()
    # month=2024-01 dropped entirely; 2024-02 (cutoff's month) and 2024-03 intact
    assert not any("month=2024-01" in f for f in after)
    survivors = {f: h for f, h in before.items() if "month=2024-01" not in f}
    assert after == survivors  # byte-identical, same files
    got_months = {r.month for r in store.read("parsed").select("month").distinct().collect()}
    assert got_months == {"2024-02", "2024-03"}
    # lineage: one expired row recording the dropped month's row count
    exp = store.manifest().filter("status like 'expired:%'").collect()
    assert len(exp) == 1 and exp[0].rows_in == 20 and exp[0].status == "expired:month=2024-01"


def test_job_parsed_turns_month_partitioned(spark, transcripts, tmp_path):
    root = str(tmp_path / "wh9")
    job.run(spark, transcripts, root=root, run_id="rp", now="2024-01-02 00:00:00")
    month_dirs = [
        d for d in os.listdir(os.path.join(root, "parsed_turns", "snapshot=0"))
        if d.startswith("month=")
    ]
    assert month_dirs, "parsed_turns sink must be month-partitioned for partition-drop TTL"


def test_compact_and_vacuum_append_sink(spark, tmp_path):
    """OPTIMIZE/VACUUM analogs: per-epoch commits consolidate into one
    right-sized snapshot with NO row change, the flip-over is atomic via the
    compaction marker, later epochs stay visible, and vacuum physically
    removes only superseded dirs."""
    root = str(tmp_path / "wh_compact")
    store = SnapshotStore(spark, root)
    epochs = []
    for e in range(3):
        df = spark.range(e * 100, (e + 1) * 100).selectExpr(
            "id", "id % 7 AS k"
        ).repartition(4)
        epochs.append(store.commit(df, "events", run_id=f"epoch_{e}"))
    before = _collect(store.read_all("events"), ["id", "k"])
    assert len(before) == 300

    sid = store.compact("events", rows_per_file=1000)
    # one consolidated file (300 rows < rows_per_file), same rows, no dupes
    assert _collect(store.read_all("events"), ["id", "k"]) == before
    snap_dir = os.path.join(root, "events", f"snapshot={sid}")
    files = [f for f in os.listdir(snap_dir) if f.endswith(".parquet")]
    assert len(files) == 1
    assert store.visible_snapshots("events") == [sid]

    # a post-compaction epoch joins the view
    df4 = spark.range(300, 350).selectExpr("id", "id % 7 AS k")
    e4 = store.commit(df4, "events", run_id="epoch_3")
    assert store.visible_snapshots("events") == [sid, e4]
    assert len(_collect(store.read_all("events"), ["id", "k"])) == 350

    # vacuum removes exactly the superseded epoch dirs, view unchanged
    deleted = store.vacuum("events")
    assert deleted == epochs
    assert store.committed_snapshots("events") == [sid, e4]
    assert len(_collect(store.read_all("events"), ["id", "k"])) == 350


def test_vacuum_keep_last_replace_sink(spark, tmp_path):
    """keep_last prunes replace-style history but never the latest."""
    root = str(tmp_path / "wh_vac")
    store = SnapshotStore(spark, root)
    for e in range(4):
        store.commit(spark.range(10 + e).toDF("id"), "templates", run_id=f"r{e}")
    deleted = store.vacuum("templates", keep_last=2)
    assert deleted == [0, 1]
    assert store.committed_snapshots("templates") == [2, 3]
    assert store.read("templates").count() == 13


def test_maintain_full_warehouse_pass(spark, transcripts, tmp_path):
    """job.maintain = TTL partition drop + append-sink compaction + history
    pruning in one idempotent pass (the ClickHouse-background analog)."""
    root = str(tmp_path / "wh_maint")
    store = SnapshotStore(spark, root)
    # two batch runs -> 2-snapshot history on every replace-style sink
    for rid in ("m1", "m2"):
        job.run(spark, transcripts, root=root, run_id=rid, now="2024-01-02 00:00:00")
    # a streaming-style append sink with 3 epochs
    for e in range(3):
        store.commit(spark.range(e * 10, e * 10 + 10).toDF("id"), "stream_parsed",
                     run_id=f"e{e}")

    live_rows = store.read("parsed_turns").count()
    report = job.maintain(spark, root, ttl_cutoff="2020-01-01 00:00:00", keep_history=1)
    # append sink: compacted to one visible snapshot, epochs vacuumed
    assert "stream_parsed" in report["compacted"]
    assert report["vacuumed"]["stream_parsed"] == [0, 1, 2]
    assert store.read_all("stream_parsed").count() == 30
    # replace sinks: history pruned to 1, latest intact
    assert store.committed_snapshots("templates") == [store.latest_snapshot("templates")]
    assert store.read("parsed_turns").count() == live_rows
    # idempotent: second pass is a no-op apart from TTL re-check
    report2 = job.maintain(spark, root, keep_history=1)
    assert report2["compacted"] == {} and report2["vacuumed"] == {}


def test_commit_reserves_snapshot_ids(spark, tmp_path):
    """A dir already claimed (concurrent committer mid-write) is never
    overwritten: the next commit mkdir-reserves the next free id."""
    root = str(tmp_path / "wh_reserve")
    store = SnapshotStore(spark, root)
    store.commit(spark.range(5).toDF("id"), "s", run_id="a")      # snapshot 0
    os.makedirs(os.path.join(root, "s", "snapshot=1"))             # in-flight writer
    sid = store.commit(spark.range(7).toDF("id"), "s", run_id="b")
    assert sid == 2
    assert store.read("s", 2).count() == 7
    assert os.listdir(os.path.join(root, "s", "snapshot=1")) == []  # untouched


def test_incremental_compaction_leaves_prior_consolidation_untouched(spark, tmp_path):
    """maintain compacts ONLY raw post-compaction epochs — O(new data) per
    cycle, and the prior consolidated snapshot stays visible + on disk."""
    root = str(tmp_path / "wh_inc")
    store = SnapshotStore(spark, root)
    for e in range(3):
        store.commit(spark.range(e * 10, e * 10 + 10).toDF("id"), "stream_parsed",
                     run_id=f"e{e}")
    r1 = job.maintain(spark, root)
    c1 = r1["compacted"]["stream_parsed"]
    c1_files = sorted(os.listdir(os.path.join(root, "stream_parsed", f"snapshot={c1}")))
    # two new epochs arrive
    for e in (3, 4):
        store.commit(spark.range(e * 10, e * 10 + 10).toDF("id"), "stream_parsed",
                     run_id=f"e{e}")
    r2 = job.maintain(spark, root)
    c2 = r2["compacted"]["stream_parsed"]
    assert c2 != c1
    # prior consolidation untouched and still visible alongside the new one
    assert sorted(os.listdir(os.path.join(root, "stream_parsed", f"snapshot={c1}"))) == c1_files
    assert store.visible_snapshots("stream_parsed") == [c1, c2]
    assert store.read_all("stream_parsed").count() == 50
    # third pass: one raw epoch only -> no recompaction of anything
    store.commit(spark.range(50, 60).toDF("id"), "stream_parsed", run_id="e5")
    r3 = job.maintain(spark, root)
    assert "stream_parsed" not in r3["compacted"]
    assert store.read_all("stream_parsed").count() == 60


def test_attach_views_no_union_for_replace_history(spark, tmp_path):
    """A replace-style sink with history must NOT get a duplicating _all
    view — append-ness is declared, never inferred from snapshot count."""
    root = str(tmp_path / "wh_views2")
    store = SnapshotStore(spark, root)
    for rid in range(2):
        store.commit(spark.range(10).toDF("id"), "templates", run_id=f"r{rid}")
        store.commit(spark.range(5).toDF("id"), "stream_parsed", run_id=f"r{rid}")
    names = store.attach_views()
    assert "logmind_templates_all" not in names
    assert "logmind_stream_parsed_all" in names
    assert spark.sql("SELECT count(*) AS n FROM logmind_templates").collect()[0].n == 10
    assert spark.sql("SELECT count(*) AS n FROM logmind_stream_parsed_all").collect()[0].n == 10


def test_expire_all_months_leaves_readable_empty_sink(spark, tmp_path):
    """ClickHouse TTL leaves an empty-but-queryable table; so must expire()
    when every month partition ages out."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "wh_ttl_all")
    store = SnapshotStore(spark, root)
    df = spark.range(20).select(
        F.col("id"),
        F.to_timestamp(F.lit("2020-03-01 00:00:00")).alias("ts"),
        F.lit("2020-03").alias("month"),
    )
    store.commit(df, "parsed_turns", run_id="r", partition_by=["month"])
    store.expire("parsed_turns", "ts", "2024-01-01 00:00:00")
    out = store.read("parsed_turns")
    assert out.count() == 0
    assert "ts" in out.columns  # schema preserved, sink queryable


def test_ttl_cutoff_validated_before_any_delete(spark, tmp_path):
    """ADVICE r3: expire() must normalize the cutoff (ISO parse → 'yyyy-MM')
    before touching disk. A non-ISO string like '2024-1-5' previously
    mis-sliced to '2024-1-' and lexicographically expired the wrong months;
    now it raises, and an offset-bearing ISO cutoff lands on the right
    month."""
    import glob

    from pyspark.sql import functions as F

    root = str(tmp_path / "wh_cutoff")
    store = SnapshotStore(spark, root)
    rows = [(f"c{i}", 0, "user", f"m{i}", "none", f"2024-0{m}-15 00:00:00")
            for m in (1, 2) for i in range(5)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df = df.withColumn("month", F.date_format("ts", "yyyy-MM"))
    store.commit(df, "parsed", run_id="a", partition_by=["month"])

    months = lambda: sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(root, "parsed", "snapshot=0", "month=*"))
    )
    before = months()
    with pytest.raises(ValueError, match="not an ISO"):
        store.expire("parsed", "ts", "2024-1-5")
    with pytest.raises(ValueError, match="not an ISO"):
        store.expire("parsed", "ts", "last tuesday")
    assert months() == before  # nothing deleted on bad input

    # Offset-bearing ISO cutoff normalizes to its month and drops only before it.
    store.expire("parsed", "ts", "2024-02-05T00:00:00+02:00")
    assert months() == ["month=2024-02"]

    # Boundary: '2024-03-01T01:00:00+02:00' is 2024-02-29T23:00 UTC — month
    # 2024-02 in the DATA's frame. Taking the cutoff's local month (2024-03)
    # would delete February rows NEWER than the cutoff instant; the
    # normalization must convert to UTC first and keep the partition.
    store.expire("parsed", "ts", "2024-03-01T01:00:00+02:00")
    assert months() == ["month=2024-02"]


def test_append_style_tag_blocks_keep_last_pruning(spark, transcripts, tmp_path):
    """ADVICE r3: a sink whose commits are tagged append_style must never
    lose live epochs to maintain()'s keep_last pruning, even when the
    operator FORGETS to declare it in append_sinks. The tag survives
    compaction, direct vacuum(keep_last) refuses, and dry_run reports
    without deleting."""
    from pyspark.sql import functions as F

    from log_parser_mind_spark.plans.job import maintain

    root = str(tmp_path / "wh_tag")
    store = SnapshotStore(spark, root)
    # Four tagged epochs of distinct rows (epoch-style appends).
    for i in range(4):
        part = transcripts.filter(F.col("turn_idx") % 4 == i)
        store.commit(part, "events_epochs", run_id=f"e{i}",
                     marker_extra={"append_style": True})
    total = transcripts.count()
    assert store.read_all("events_epochs").count() == total

    with pytest.raises(ValueError, match="append_style"):
        store.vacuum("events_epochs", keep_last=2)

    # Misconfigured maintain: sink NOT declared append — the tag routes it
    # to the compact-then-vacuum branch instead of keep_last pruning.
    dry = maintain(spark, root, append_sinks=(), keep_history=2, dry_run=True)
    assert dry["compacted"].get("events_epochs") == [0, 1, 2, 3]
    assert store.visible_snapshots("events_epochs") == [0, 1, 2, 3]  # untouched
    rep = maintain(spark, root, append_sinks=(), keep_history=2)
    assert store.read_all("events_epochs").count() == total  # no data loss
    sid = rep["compacted"]["events_epochs"]
    # The consolidated snapshot inherits the tag, so a LATER keep_last pass
    # still refuses once the source epochs are gone.
    assert store.is_append_style("events_epochs")
    assert store.visible_snapshots("events_epochs") == [sid]
    with pytest.raises(ValueError, match="append_style"):
        store.vacuum("events_epochs", keep_last=1)


def test_unreadable_manifest_warns_and_recomputes(spark, tmp_path, caplog):
    """An unreadable manifest still means a full recompute, but never a
    silent one: the warning names the root."""
    root = str(tmp_path / "wh_garbage")
    store = SnapshotStore(spark, root)
    with open(os.path.join(root, "_manifest", "manifest-x.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    with caplog.at_level("WARNING", logger=job.__name__):
        assert job._committed_by_run(store, "r") == set()
    assert any(root in r.getMessage() for r in caplog.records if r.levelname == "WARNING")


def _jobs_after(spark, first_id):
    """(job id, job group or None) of every job the status store lists with
    an id of at least ``first_id``."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    out = []
    it = jsc.statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() >= first_id:
            g = j.jobGroup()
            out.append((j.jobId(), g.get() if g.isDefined() else None))
    return out


def test_concurrent_commits_contract(spark, transcripts, tmp_path, monkeypatch):
    """The sinks after parsed_turns commit concurrently. Their jobs carry the
    caller's job group; one failing sink fails the run but leaves every
    other sink committed, and a re-run with the same run_id resumes them
    and lists the sinks in the serial order."""
    from pyspark.sql import functions as F

    now = "2024-01-02 00:00:00"
    root = str(tmp_path / "wh_wave")
    downstream = job._downstream_sinks

    def with_failing_sink(parsed, config, now_):
        # First in order, so a serial commit would stop before the others.
        broken = parsed.select(F.raise_error(F.lit("broken sink")).alias("x"))
        return {"broken": broken, **downstream(parsed, config, now_)}

    monkeypatch.setattr(job, "_downstream_sinks", with_failing_sink)
    sc = spark.sparkContext
    first_id = 1 + max((j for j, _ in _jobs_after(spark, 0)), default=-1)
    sc.setJobGroup("commit_wave", "concurrent commit contract")
    try:
        with pytest.raises(Exception, match="broken sink"):
            job.run(spark, transcripts, root=root, run_id="rw", now=now)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = _jobs_after(spark, first_id)
    assert jobs and {g for _, g in jobs} == {"commit_wave"}, jobs

    store = SnapshotStore(spark, root)
    expected = ["parsed_turns", "templates",
                *downstream(store.read("parsed_turns"), PipelineConfig(), now)]
    assert [s for s in expected if not store.committed_snapshots(s)] == []
    assert store.committed_snapshots("broken") == []

    monkeypatch.setattr(job, "_downstream_sinks", downstream)
    result = job.run(spark, transcripts, root=root, run_id="rw", now=now)
    assert list(result.sinks) == expected
    assert result.resumed == expected and result.timings == {}
