"""The workloads: input set-up, the timed operation, its traced twin, and the
correctness checks.

The batch traced twins rebuild the same lazy plans from the same package
functions the public entry points call (``plans.job.run`` →
``parse_pipeline`` → ``miner.mine_assignments``;
``operators.curate.curate_corpus``), in the same order and with the same
persists, so that each layer can be forced on its own. Their committed sinks
must digest exactly like the untraced ones, which catches any drift between
a twin and its entry point.
"""

from __future__ import annotations

import dataclasses
import functools
import inspect
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType, FloatType, MapType

from log_parser_mind_spark import oracle
from log_parser_mind_spark.config import PipelineConfig
from log_parser_mind_spark.functions import text as tx
from log_parser_mind_spark.operators import dedup, miner
from log_parser_mind_spark.operators.curate import curate_corpus
from log_parser_mind_spark.operators.enrich import enrich_with_lookup, role_tool_lookup
from log_parser_mind_spark.operators.parse import finalize_parsed, masked_transcripts
from log_parser_mind_spark.operators.route import with_route
from log_parser_mind_spark.plans import job
from log_parser_mind_spark.schemas import ASSIGNMENTS
from log_parser_mind_spark.sources.iceberg import snapshot_store
from log_parser_mind_spark.sources.manifest import SnapshotStore
from log_parser_mind_spark.sources.tables import read_table, read_transcripts
from log_parser_mind_spark.streaming.stream import stateful_pipeline, stream_transcripts

import gen
from spans import Span, Tracer

NOW = "2024-01-02 00:00:00"
RUN_ID = "run_0"

STANDARD_LAYERS = (
    "tables", "masking", "miner.sig_agg", "miner.cluster", "miner.giant_leaf",
    "miner.assign", "parse.finalize", "manifest.commit", "aggregate",
    "dedup.exact", "dedup.lsh", "text.gate",
)
STANDARD_UNITS = {"self_s": "s", "cpu_s": "s", "shuffle_bytes": "bytes", "tasks": "count",
                  "task_skew": "ratio", "rows_out": "count"}
# Narrow layers never shuffle.
ALWAYS_ZERO = ("masking.shuffle_bytes", "parse.finalize.shuffle_bytes")
AGG_SINKS = (
    "hourly_rollup", "error_rates", "top_templates", "global_stats",
    "route_errors", "route_warnings", "route_info", "alerts",
)
# Every per-layer metric of a traced run, with its unit: the standard fields
# of each layer, then the counts named at the layer boundaries.
PER_LAYER = {
    "session.build_s": "s",
    "session.prewarm_s": "s",
    **{
        f"{layer}.{f}": u for layer in STANDARD_LAYERS for f, u in STANDARD_UNITS.items()
        if f"{layer}.{f}" not in ALWAYS_ZERO
    },
    "tables.scan_tasks": "count",
    "miner.sig_agg.distinct_sigs": "count",
    "miner.cluster.leaves": "count",
    "miner.cluster.max_leaf_sigs": "count",
    "miner.cluster.templates": "count",
    "miner.cluster.kernel_s": "s",
    "miner.giant_leaf.tail_sigs": "count",
    "miner.giant_leaf.matched_frac": "ratio",
    "miner.assign.broadcast_bytes": "bytes",
    "parse.finalize.redacted_values": "count",
    "manifest.commit.bytes": "bytes",
    "manifest.commit.files": "count",
    "manifest.commit.count": "count",
    **{f"aggregate.rows_{s}": "count" for s in AGG_SINKS},
    "stateful_miner.epochs": "count",
    "stateful_miner.state_rows": "count",
    "stateful_miner.state_bytes": "bytes",
    "stateful_miner.commit_ms": "ms",
    "dedup.lsh.candidates": "count",
    "dedup.lsh.verified": "count",
    "dedup.lsh.precision": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.self_sum_frac": "ratio",
}
# Boundary counts that are a function of the input alone (not of the file
# layout or parallelism), so they must repeat exactly in every run.
LOGICAL_COUNTS = (
    "miner.sig_agg.distinct_sigs", "miner.cluster.leaves", "miner.cluster.max_leaf_sigs",
    "miner.cluster.templates", "miner.giant_leaf.tail_sigs", "miner.giant_leaf.matched_frac",
    "parse.finalize.redacted_values", *(f"aggregate.rows_{s}" for s in AGG_SINKS),
    "manifest.commit.count", "stateful_miner.epochs", "stateful_miner.state_rows",
    "stateful_miner.sink_digests", "dedup.lsh.candidates", "dedup.lsh.verified",
)


@dataclass
class Input:
    path: str
    rows: int
    text_bytes: int
    max_out: int  # upper bound on the rows of the main output sink
    seed: int


# -- sinks ------------------------------------------------------------------


def _row_hash(df: DataFrame):
    """xxhash64 of a row. Maps hash as sorted entry arrays; floats are
    rounded to 9 decimals so a different summation order cannot flip it."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, MapType):
            c = F.array_sort(F.map_entries(c))
        elif isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.round(c, 9)
        cols.append(c)
    return F.xxhash64(*cols).cast("decimal(38,0)")


def digests(sinks: dict[str, DataFrame]) -> dict[str, str]:
    """Order-independent digest per sink, "<rows>:<exact sum of row
    hashes>", computed for all sinks in one Spark job."""
    parts = [df.select(F.lit(name).alias("sink"), _row_hash(df).alias("h")) for name, df in sinks.items()]
    rows = functools.reduce(DataFrame.unionByName, parts).groupBy("sink").agg(
        F.count(F.lit(1)), F.sum("h")
    ).collect()
    got = {r[0]: f"{r[1]}:{r[2]}" for r in rows}
    return {name: got.get(name, "0:0") for name in sorted(sinks)}


def rows_of(digest: str) -> int:
    return int(digest.split(":")[0])


def stored_files(root: str) -> tuple[int, int]:
    """(bytes, files) of the committed parquet data under ``root``."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        if os.path.relpath(dirpath, root).split(os.sep)[0] == "_manifest":
            continue
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def _fresh(base: str, name: str) -> str:
    """An empty directory ``base/name``."""
    path = os.path.join(base, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _text_stats(df: DataFrame) -> tuple[int, int]:
    n, b = df.agg(F.count(F.lit(1)), F.sum(F.octet_length("text"))).first()
    return int(n), int(b)


def _oracle_errors(spark: SparkSession, parsed: DataFrame, path: str, cfg: PipelineConfig) -> list[str]:
    """Per-turn templates against the independent pandas oracle."""
    keys = ["conv_id", "turn_idx", "template_id", "template"]
    got = parsed.select(*keys).toPandas()
    want = oracle.run_pipeline(read_transcripts(spark, path).toPandas(), cfg.drain)["parsed"][keys]
    rows = lambda p: set(p.astype(object).where(pd.notna(p), None).itertuples(index=False, name=None))  # noqa: E731
    diff = rows(got) ^ rows(want)
    return [f"{len(diff)} per-turn templates differ from the oracle"] if diff else []


def _commit(tr: Tracer, store, sinks: dict, name: str, df: DataFrame, prefix: Span | None, **kw) -> None:
    with tr.span("manifest.commit", prefix) as k:
        snap = store.commit(df, name, run_id=RUN_ID, **kw)
        sinks[name] = store.read(name)
        k.rows_out += store._marker(name, snap)["rows"]


def _commit_counts(root: str, n_commits: int) -> dict[str, float]:
    size, files = stored_files(root)
    return {"manifest.commit.bytes": size, "manifest.commit.files": files,
            "manifest.commit.count": n_commits}


# -- parse → mine → commit → aggregate (plans.job.run) ------------------------


class FleetLogs:
    """``plans.job.run`` end to end over the reference generator's log
    shapes, written as a transcripts table. After the operation, the traced
    run probes two layers the operation does not reach on this input: the
    giant-leaf path of the miner, and the stateful streaming miner."""

    name = "fleet_logs"

    def __init__(self, config: PipelineConfig, n_rows: int, n_small: int, n_stream_rows: int, n_stream_files: int):
        self.config = config
        self.n_rows = n_rows
        self.n_convs = n_rows // 12  # enough conversations for n_rows turns at any seed
        self.n_small = n_small
        self.n_stream_rows = n_stream_rows
        self.n_stream_files = n_stream_files

    def setup(self, spark: SparkSession, seed: int, base: str) -> Callable[[], Input]:
        """Write the input; the returned call describes it."""
        path = os.path.join(base, "transcripts")
        gen.write_fleet(spark, path, seed, self.n_convs, self.n_rows)

        def describe() -> Input:
            rows, text_bytes = _text_stats(read_transcripts(spark, path))
            return Input(path, rows, text_bytes, rows, seed)

        return describe

    def op(self, spark: SparkSession, inp: Input, root: str) -> dict[str, DataFrame]:
        df = read_transcripts(spark, inp.path)
        return job.run(spark, df, root=root, config=self.config, now=NOW).sinks

    def output_errors(self, inp: Input, got: dict[str, str]) -> list[str]:
        """Every input row is parsed, and the three routes partition them."""
        parsed = rows_of(got["parsed_turns"])
        routed = sum(rows_of(got[f"route_{r}"]) for r in ("errors", "warnings", "info"))
        if parsed != inp.rows or routed != parsed:
            return [f"{inp.rows} input rows, {parsed} parsed, {routed} routed"]
        return []

    def small_check(self, spark: SparkSession, seed: int, base: str, oracle: bool) -> tuple[dict, list[str]]:
        """Sink digests of the operation over a small input, and, with
        ``oracle``, its per-turn templates against the oracle."""
        base = _fresh(base, "small")
        path = os.path.join(base, "transcripts")
        gen.write_fleet(spark, path, seed, self.n_convs, self.n_small)
        sinks = self.op(spark, Input(path, 0, 0, 0, seed), os.path.join(base, "out"))
        return digests(sinks), _oracle_errors(spark, sinks["parsed_turns"], path, self.config) if oracle else []

    def traced(self, spark: SparkSession, tr: Tracer, inp: Input, root: str):
        cfg = self.config
        sim, depth, cap = cfg.drain.sim_threshold, cfg.drain.max_depth, cfg.drain.giant_leaf_threshold
        leaf = miner._LEAF_KEYS
        # Each span also builds its layer's lazy plan, as the fused job does.
        with tr.span("tables") as t:
            df = read_transcripts(spark, inp.path)
            tr.force(t, df)
        with tr.span("masking", t) as m:
            masked = masked_transcripts(df, depth)
            tr.force(m, masked)
        with tr.span("miner.sig_agg", m) as s:
            sig_stats = miner._sig_stats(masked, False, depth).persist()
            tr.force(s, sig_stats)
        slim = sig_stats.select(*leaf, "masked_sig", "first_conv", "first_turn")
        with tr.span("miner.giant_leaf"):  # mine_assignments' giant-leaf guard
            max_leaf = slim.groupBy(*leaf).count().agg(F.max("count")).collect()[0][0]
        if cap is not None and max_leaf > cap:
            raise RuntimeError(f"a leaf of {max_leaf} signatures is over the giant-leaf cap {cap}: the twin "
                               "follows the exact path only")
        with tr.span("miner.cluster") as c:
            stats = sig_stats.select(
                "sig_id", "masked_sig", "weight", "first_seen", "last_seen", "first_conv", "first_turn"
            )
            assignments = (
                miner._cluster_leaf_runs(slim, sim, False)
                .join(stats, on="masked_sig")
                .select("sig_id", *[f.name for f in ASSIGNMENTS.fields])
                .persist()
            )
            tr.force(c, assignments)
            templates = miner.templates_from_assignments(assignments)
        # No prefix: assign_templates re-reads and re-masks the input, as the
        # fused parsed_turns write does (the second mask pass).
        with tr.span("miner.assign") as a:
            assigned = miner.assign_templates(masked, assignments, cfg)
            tr.force(a, assigned)
        with tr.span("parse.finalize", a) as f:
            parsed = with_route(
                enrich_with_lookup(finalize_parsed(assigned, cfg), role_tool_lookup(spark))
            )
            redacted = F.sum(F.size(F.filter(F.map_values("variables"), lambda v: v.contains("_REDACTED]"))))
            tr.force(f, parsed, redacted=redacted)

        sinks: dict[str, DataFrame] = {}
        with tr.span("manifest.commit"):
            store = snapshot_store(spark, root)
            job._committed_by_run(store, RUN_ID)
        _commit(tr, store, sinks, "parsed_turns",
                parsed.withColumn("month", F.date_format("ts", "yyyy-MM")), f,
                sort_within_partitions=job.PARSED_SORT, partition_by=["month"])
        _commit(tr, store, sinks, "templates", templates, None)
        with tr.span("aggregate"):
            downstream = job._downstream_sinks(sinks["parsed_turns"], cfg, NOW)
        agg_rows = {}
        for name, sink in downstream.items():
            with tr.span("aggregate") as ag:
                agg_rows[f"aggregate.rows_{name}"] = tr.force(ag, sink)["rows"]
            _commit(tr, store, sinks, name, sink, ag)

        # Counts at the boundaries; these jobs run outside every span.
        amap = assignments.select("masked_sig", "template_id", "template", "creates", "first_conv", "first_turn")
        counts = {
            "tables.scan_tasks": df.rdd.getNumPartitions(),
            "miner.sig_agg.distinct_sigs": s.rows_out,
            "miner.cluster.leaves": slim.select(*leaf).distinct().count(),
            "miner.cluster.max_leaf_sigs": max_leaf,
            "miner.cluster.templates": sinks["templates"].count(),
            "miner.cluster.kernel_s": kernel_s(slim, sim),
            "miner.assign.broadcast_bytes": int(str(amap._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())),
            "parse.finalize.redacted_values": int(f.observed["redacted"] or 0),
            **_commit_counts(root, 2 + len(agg_rows)),
            **agg_rows,
            **self.giant_leaf_probe(tr, slim, max_leaf),
            **self.stream_probe(spark, inp, root + "_stream"),
        }
        return sinks, counts

    def giant_leaf_probe(self, tr: Tracer, slim: DataFrame, max_leaf: int) -> dict:
        """The giant-leaf path of ``miner.mine_assignments`` over the same
        signatures, with the cap scaled to a third of the largest leaf: the
        hash-sample split, the clusterer over the sample, and the JVM tail
        assignment. Its spans are probes: they are not part of the operation."""
        drain = dataclasses.replace(self.config.drain, giant_leaf_threshold=max_leaf // 3)
        with tr.span("miner.giant_leaf", probe=True) as g:
            sample, tail = miner._split_giant_leaves(slim, drain.giant_leaf_threshold)
            clustered = miner._cluster_leaf_runs(sample, drain.sim_threshold, False).persist()
            tr.force(g, clustered)
            tailed = miner._assign_tail(tail, clustered, drain)
            got = tr.force(g, tailed, matched=F.sum((~F.col("creates")).cast("long")))
        clustered.unpersist()
        return {
            "miner.giant_leaf.tail_sigs": got["rows"],
            "miner.giant_leaf.matched_frac": int(got["matched"] or 0) / got["rows"] if got["rows"] else 0.0,
        }

    def stream_probe(self, spark: SparkSession, inp: Input, base: str) -> dict:
        """Drain the first ``n_stream_rows`` turns, split by conv_id range
        into ``n_stream_files`` files, with ``stateful_pipeline``, one file
        per trigger (``availableNow``). Its jobs run on the query's own
        thread, outside every span, so the layer is read from query
        progress."""
        path = _fresh(base, "in")
        gen.write_fleet_files(spark, path, inp.seed, self.n_convs, self.n_stream_rows, self.n_stream_files)
        root = os.path.join(base, "out")
        q = stateful_pipeline(spark, stream_transcripts(spark, path, max_files=1), root).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        store = SnapshotStore(spark, root)
        got = digests({"stream_parsed": store.read_all("stream_parsed"), "stream_templates": store.read("stream_templates")})
        if rows_of(got["stream_parsed"]) != self.n_stream_rows or len(progress) != self.n_stream_files:
            raise RuntimeError(f"stream: {self.n_stream_rows} input rows, {rows_of(got['stream_parsed'])} parsed "
                               f"in {len(progress)} epochs")
        state = [p.stateOperators[0] for p in progress]
        return {
            "stateful_miner.epochs": len(progress),
            "stateful_miner.state_rows": state[-1].numRowsTotal,
            "stateful_miner.state_bytes": state[-1].memoryUsedBytes,
            "stateful_miner.commit_ms": sum(st.commitTimeMs for st in state),
            "stateful_miner.sink_digests": got,
        }


def kernel_s(slim: DataFrame, sim: float) -> float:
    """Single-threaded time of ``miner.cluster_leaf`` over every leaf, in
    this process, with no Spark involved."""
    leaves: dict[tuple, list] = {}
    for r in slim.select("n_tokens", "k0", "k1", "masked_sig", "first_conv", "first_turn").collect():
        leaves.setdefault((r[0], r[1], r[2]), []).append(r)
    t0 = time.perf_counter()
    for rs in leaves.values():
        miner.cluster_leaf([r[3] for r in rs], [r[4] for r in rs], [r[5] for r in rs], [], sim)
    return time.perf_counter() - t0


# -- exact dedup → MinHash-LSH + Jaccard → quality gate (curate_corpus) -------


class CurateDocs:
    """``operators.curate.curate_corpus`` at its scale defaults over a
    one-file documents table read through ``sources.tables.read_table``."""

    name = "curate_docs"

    def __init__(self, n_docs: int, n_small: int):
        self.n_docs = n_docs
        self.n_small = n_small

    def setup(self, spark: SparkSession, seed: int, base: str) -> Callable[[], Input]:
        """Write the input; the returned call describes it."""
        os.makedirs(base, exist_ok=True)
        n_exact = gen.write_documents(os.path.join(base, "documents.parquet"), seed, self.n_docs)

        def describe() -> Input:
            rows, text_bytes = _text_stats(read_table(spark, base, "documents"))
            return Input(base, rows, text_bytes, rows - n_exact, seed)

        return describe

    def op(self, spark: SparkSession, inp: Input, root: str) -> dict[str, DataFrame]:
        store = SnapshotStore(spark, root)
        store.commit(curate_corpus(read_table(spark, inp.path, "documents")), "curated", run_id=RUN_ID)
        return {"curated": store.read("curated")}

    def output_errors(self, inp: Input, got: dict[str, str]) -> list[str]:
        """Every planted exact copy is dropped; most documents survive."""
        kept = rows_of(got["curated"])
        if not inp.max_out // 2 < kept <= inp.max_out:
            return [f"{kept} curated rows; expected at most {inp.max_out} and more than half of that"]
        return []

    def small_check(self, spark: SparkSession, seed: int, base: str, oracle: bool) -> tuple[dict, list[str]]:
        """Sink digests of the operation over a small input (there is no
        oracle for the curation funnel)."""
        base = _fresh(base, "small")
        gen.write_documents(os.path.join(base, "documents.parquet"), seed, self.n_small)
        return digests(self.op(spark, Input(base, 0, 0, 0, seed), os.path.join(base, "out"))), []

    def traced(self, spark: SparkSession, tr: Tracer, inp: Input, root: str):
        d = {k: p.default for k, p in inspect.signature(curate_corpus).parameters.items()}
        with tr.span("tables") as t:
            docs = read_table(spark, inp.path, "documents")
            tr.force(t, docs)
        with tr.span("dedup.exact", t) as e:
            keep = dedup.exact_dedup(docs, "doc_id", "text").select(F.col("keep_id").alias("doc_id"))
            survivors = docs.join(keep, "doc_id", "left_semi").persist()
            tr.force(e, survivors)
        # The fused job computes the candidates and the verified pairs once
        # each; persisting them here keeps that count at one.
        with tr.span("dedup.lsh") as c:
            cand = dedup.minhash_lsh_candidates(
                survivors, "doc_id", "text", k=d["minhash_k"], bands=d["minhash_bands"], shingle_n=d["shingle_n"]
            ).persist()
            n_cand = tr.force(c, cand)["rows"]
        with tr.span("dedup.lsh") as v:
            verified = dedup.ngram_jaccard_pairs(
                survivors, "doc_id", "text", n=d["shingle_n"], threshold=d["jaccard_threshold"], candidates=cand
            ).persist()
            n_ver = tr.force(v, verified)["rows"]
        with tr.span("text.gate") as q:
            kept = survivors.join(verified.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "left_anti")
            toks = tx.with_tokens(kept, "text")
            out = (
                toks.withColumn("lang", tx.lang_id_from(F.col("tokens")))
                .withColumn("quality", tx.quality_score_from(F.col("tokens"), F.col("text")))
                .withColumn("n_tokens", F.size("tokens"))
                .filter(F.col("quality") >= d["min_quality"])
                .drop("tokens")
            )
            tr.force(q, out)
        sinks: dict[str, DataFrame] = {}
        _commit(tr, SnapshotStore(spark, root), sinks, "curated", out, q)
        counts = {
            "tables.scan_tasks": docs.rdd.getNumPartitions(),
            "dedup.lsh.candidates": n_cand,
            "dedup.lsh.verified": n_ver,
            "dedup.lsh.precision": n_ver / n_cand if n_cand else 0.0,
            **_commit_counts(root, 1),
        }
        return sinks, counts


# Sizes: see perfbench/DESIGN.md.
WORKLOADS = {
    w.name: w
    for w in (
        FleetLogs(PipelineConfig(), n_rows=4_000, n_small=1_000, n_stream_rows=3_000, n_stream_files=3),
        CurateDocs(n_docs=100, n_small=60),
    )
}
