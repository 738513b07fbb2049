"""Physical-plan quality gates: the properties that make the engine survive
100 TB, asserted on `.explain` output so regressions fail loudly.

  - filter/projection pushdown reaches the parquet scan (PushedFilters /
    ReadSchema)
  - enrichment joins are broadcast, never shuffled-hash/sort-merge
  - aggregates are two-phase (partial_ before the exchange = map-side combine)
  - the mask/parse projection stays inside WholeStageCodegen (no Python in
    the hot path)
  - the curation funnel's near-dup branch shares its exchanges, asserted on
    the executed AQE plan read from the SQL status store
"""

import re
from collections import Counter

import pytest

from pyspark.sql import functions as F

from log_parser_mind_spark.operators import aggregate as agg
from log_parser_mind_spark.operators.enrich import enrich_with_lookup, role_tool_lookup
from log_parser_mind_spark.operators.parse import masked_transcripts
from log_parser_mind_spark.operators.query import query_logs


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _executed_operators(spark) -> Counter:
    """Operator counts of the final AQE plan of the last SQL execution, read
    from the SQL status store. ``explain`` on a plan that has not run shows
    no query stages and never a ReusedExchange."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    last = store.executionsList(store.executionsCount() - 1, 1).head()
    # Formatted plans describe each operator once, as "(<id>) <name>".
    return Counter(re.findall(r"^\(\d+\) (\w+)", last.physicalPlanDescription(), re.M))


@pytest.fixture(scope="module")
def parsed_on_disk(spark, tmp_path_factory):
    from log_parser_mind_spark.operators.parse import parse_pipeline
    from log_parser_mind_spark.synth import synth_transcripts

    path = str(tmp_path_factory.mktemp("plans") / "parsed")
    parsed, _, _ = parse_pipeline(synth_transcripts(spark, n_convs=20, seed=5))
    parsed.write.parquet(path)
    return spark.read.parquet(path)


def test_filter_pushdown_reaches_scan(parsed_on_disk):
    q = query_logs(parsed_on_disk, template_id="tmpl_x", source="user", limit=10)
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert "template_id" in plan.split("PushedFilters")[1][:300]


def test_column_pruning_reaches_scan(parsed_on_disk):
    q = parsed_on_disk.select("template_id").filter(F.col("source") == "user")
    plan = _plan(q)
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "template_id" in read_schema
    assert "variables" not in read_schema  # unused wide column pruned


def test_enrich_join_is_broadcast(spark, parsed_on_disk):
    enriched = enrich_with_lookup(parsed_on_disk, role_tool_lookup(spark))
    plan = _plan(enriched)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_aggregates_have_partial_phase(parsed_on_disk):
    plan = _plan(agg.hourly_rollup(parsed_on_disk))
    # Two HashAggregates around one Exchange = map-side combine.
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_topk_is_take_ordered(parsed_on_disk):
    plan = _plan(agg.top_templates(parsed_on_disk))
    assert "TakeOrderedAndProject" in plan


def test_mask_stage_is_codegen_no_python(spark):
    tr = spark.createDataFrame(
        [("c", 0, "user", "ERROR: x at 10.0.0.1", "none", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    plan = _plan(masked_transcripts(tr, 4).select("masked_sig"))
    # formatted explain marks whole-stage-codegen nodes with '*' + codegen id.
    assert "codegen id" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_miner_python_stage_is_only_on_sig_stats(spark):
    """The ONLY Python operator in the whole parse plan is the per-leaf
    clustering over distinct signatures — never over raw rows."""
    from log_parser_mind_spark.operators.parse import parse_pipeline
    from log_parser_mind_spark.synth import synth_transcripts

    from log_parser_mind_spark.operators.miner import _sig_stats, mine_assignments
    from log_parser_mind_spark.operators.parse import masked_transcripts

    masked = masked_transcripts(synth_transcripts(spark, n_convs=5, seed=5), 4)
    plan = _plan(mine_assignments(masked))
    # formatted explain prints each operator twice (tree line + detail block):
    # no leaf here is over the giant-leaf cap, so the one Python stage is the
    # clusterer — a MapInArrow pass over leaf-sorted partitions, one Python
    # call per Arrow batch instead of one per leaf group.
    assert plan.count("MapInArrow") == 2
    # The Python stage consumes an aggregate (distinct sigs), not the scan:
    # the signature table that feeds the clusterer (cached inside the miner
    # plan above) must be the signature aggregation.
    sig_plan = _plan(_sig_stats(masked, False))
    assert any(m in sig_plan for m in ("HashAggregate", "ObjectHashAggregate", "SortAggregate"))
    # No row-level Python anywhere in the full parsed plan.
    parsed, _, _ = parse_pipeline(synth_transcripts(spark, n_convs=5, seed=5))
    full = _plan(parsed)
    assert "BatchEvalPython" not in full and "ArrowEvalPython" not in full


def test_reseeded_epoch_parse_python_stage_is_only_the_clusterer(spark):
    """The foreachBatch epoch plan (stream.incremental_pipeline): every epoch
    runs parse_pipeline with the committed template dimension as seeds. The
    seeds join the clusterer's input, so its one Python stage must still be
    the per-Arrow-batch MapInArrow — no grouped-pandas or row-level UDF."""
    import datetime as dt

    from log_parser_mind_spark.operators.parse import parse_pipeline
    from log_parser_mind_spark.schemas import TEMPLATES
    from log_parser_mind_spark.synth import synth_transcripts

    pattern = "ERROR: Timeout after <*> waiting for response from <*>"
    seed = spark.createDataFrame(
        [("tmpl_seed", pattern, pattern.split(" "), 3, dt.datetime(2024, 1, 1),
          dt.datetime(2024, 1, 1), [])],
        TEMPLATES,
    )
    parsed, templates, _ = parse_pipeline(
        synth_transcripts(spark, n_convs=5, seed=5), seed_templates=seed
    )
    for plan in (_plan(parsed), _plan(templates)):
        assert "MapInArrow" in plan
        for marker in ("FlatMapGroupsInPandas", "BatchEvalPython", "ArrowEvalPython"):
            assert marker not in plan


def test_cluster_leaf_runs_matches_per_leaf_reference_across_batches(spark):
    """r6 clusterer internals: _cluster_leaf_runs groups CONTIGUOUS leaf
    runs inside one mapInArrow pass; a leaf whose rows span multiple Arrow
    batches must still cluster as ONE group. Forced 3-row batches make the
    7-signature leaves span batch boundaries; the expected output is
    cluster_leaf run per leaf directly (the exact per-group contract the
    old applyInPandas form had)."""
    from log_parser_mind_spark.operators.miner import (
        _cluster_leaf_runs,
        cluster_leaf,
        leaf_keys_from_sig,
    )

    sigs = [f"alpha beta s{i} t" for i in range(7)] + [
        f"gamma delta u{i} v w" for i in range(7)
    ]
    convs = [f"c{i:02d}" for i in range(len(sigs))]
    turns = list(range(len(sigs)))
    df = spark.createDataFrame(
        list(zip(sigs, convs, turns)),
        "masked_sig string, first_conv string, first_turn int",
    )
    slim = df.select(*leaf_keys_from_sig(4), "masked_sig", "first_conv", "first_turn")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        out = _cluster_leaf_runs(slim, 0.5, with_seeds=False).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    expected = {}
    for lo, hi in ((0, 7), (7, 14)):
        assigned, _ = cluster_leaf(sigs[lo:hi], convs[lo:hi], turns[lo:hi], [], 0.5)
        for s, a in zip(sigs[lo:hi], assigned):
            expected[s] = a
    got = {r.masked_sig: (r.template_id, r.template, r.creates) for r in out}
    assert got == expected


def test_exact_contamination_blocklist_broadcasts(spark):
    """The benchmark gram set must ride a BroadcastHashJoin onto the corpus
    gram stream — a shuffled join would repartition the 100 TB side by gram
    hash for a benchmark measured in MBs."""
    from log_parser_mind_spark.operators.curate import exact_contamination

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc {i} filler tokens here") for i in range(40)],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    plan = _plan(exact_contamination(docs, bench, n=4))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cap_per_group_decision_path_is_narrow(spark):
    """cap_per_group's Python prune sees ONLY (group, key, draw) — document
    text must never enter the Arrow channel — and the per-group stage is a
    bounded aggregate, not a row_number window over the group key."""
    from log_parser_mind_spark.operators.sample import cap_per_group

    docs = spark.createDataFrame(
        [(i, "s" + str(i % 3), "text payload " * 20) for i in range(60)],
        "doc_id long, source string, text string",
    )
    plan = _plan(cap_per_group(docs, 5, group_col="source"))
    assert "MapInPandas" in plan
    assert "Window" not in plan  # skew-safe: never row_number over the group
    # The Arrow stage's detail block (formatted explain: "(N) MapInPandas"
    # heading followed by its Input/Arguments lines, blank-line terminated)
    # must list only the 3 narrow decision columns — never the text payload.
    m = re.search(r"\(\d+\) MapInPandas\n(.*?)(?:\n\n|\Z)", plan, re.S)
    assert m, plan
    assert "text" not in m.group(1), m.group(1)
    assert "_g" in m.group(1) and "_h" in m.group(1)


def test_sft_examples_single_exchange_all_jvm(spark):
    """The SFT reshape must cost exactly ONE conversation-keyed exchange
    (both window specs share the (conv, order) sort) and stay entirely
    JVM-side — no Python in a per-row reshape over 100 TB of transcripts."""
    from log_parser_mind_spark.operators.prep import sft_examples

    turns = spark.createDataFrame(
        [("c%d" % (i % 5), i, "user" if i % 2 else "assistant", "some words here %d" % i)
         for i in range(40)],
        "conv_id string, turn_idx int, role string, text string",
    )
    plan = _plan(sft_examples(turns, 8))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan


def test_preference_pairs_two_exchanges_map_side_combine(spark):
    """Pair selection must be the skew-safe aggregation shape: exactly TWO
    exchanges (conversation-keyed lag window, then the prompt-sig groupBy),
    a partial min/max-of-struct aggregate BEFORE the second exchange (a hot
    prompt template combines map-side instead of buffering in one window
    task), and zero Python nodes."""
    from log_parser_mind_spark.operators.prep import preference_pairs

    turns = spark.createDataFrame(
        [("c%d" % (i % 5), i, "user" if i % 2 == 0 else "assistant",
          "ask %d things" % i if i % 2 == 0 else "answer words %d" % i)
         for i in range(40)],
        "conv_id string, turn_idx int, role string, text string",
    )
    plan = _plan(preference_pairs(turns))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert "partial_max" in plan and "partial_min" in plan, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan, plan
    # Exactly ONE Window node — the conversation lag. A second would mean
    # selection regressed to row_number() over prompt_sig (the hot-group
    # buffering shape the groupBy formulation exists to avoid).
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_incremental_index_broadcasts_increment_side(spark):
    """The band join against the stored index must BROADCAST the increment
    side (the small per-crawl batch) — a shuffle join would repartition the
    whole stored index every run, and broadcasting the INDEX side would ship
    the corpus's bands to every task. Also: no CartesianProduct anywhere."""
    from log_parser_mind_spark.operators import dedup

    base = spark.createDataFrame(
        [(i, "w%d x%d y%d" % (i, i + 1, i + 2)) for i in range(50)],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [(100 + i, "w%d x%d y%d" % (i, i + 1, i + 2)) for i in range(5)],
        "doc_id long, text string",
    )
    idx = dedup.build_minhash_index(base, k=8, bands=8, shingle_n=1)
    plan = _plan(dedup.incremental_near_dups(inc, idx, base, k=8, bands=8, shingle_n=1))
    assert "CartesianProduct" not in plan
    # Formatted explain separates tree lines from detail blocks; the band
    # join's detail block must be a BroadcastHashJoin keyed on band columns.
    blocks = re.findall(r"\(\d+\) BroadcastHashJoin[^\n]*\n(.*?)(?:\n\n|\Z)", plan, re.S)
    assert any("band_idx" in b for b in blocks), plan
    # And no SortMergeJoin keyed on the band columns (the orientation the
    # broadcast exists to avoid).
    smj = re.findall(r"\(\d+\) SortMergeJoin[^\n]*\n(.*?)(?:\n\n|\Z)", plan, re.S)
    assert not any("band_idx" in b for b in smj), plan


def test_budget_selection_corpus_never_globally_sorts(spark):
    """select_within_token_budget's RESULT plan must contain no global
    (unpartitioned) running-sum window over the corpus — the value-table
    window runs inside the scalar pre-pass, and the only Window left is
    the boundary slice's, partitioned by the quality value. The clear
    branch is scan+filter+project: its kept decision is a pure predicate."""
    from log_parser_mind_spark.operators.sample import select_within_token_budget

    docs = spark.createDataFrame(
        [(i, [0.2, 0.5, 0.9][i % 3], 5 + i % 7) for i in range(90)],
        "doc_id long, quality double, n_tokens long",
    )
    plan = _plan(select_within_token_budget(docs, 100))
    wins = re.findall(r"\(\d+\) Window[^\n]*\n(.*?)(?:\n\n|\Z)", plan, re.S)
    assert len(wins) == 1, plan
    # partitioned by the quality value — not the empty global partition
    assert "_q" in wins[0], wins[0]
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan, plan


def test_corpus_diff_text_never_rides_the_join(spark, tmp_path):
    """corpus_diff's full-outer join must consume pre-hashed 16-byte pairs:
    the exchanges carry (id, hash) only — document text appears in the scan
    but never in an Exchange's input columns."""
    from log_parser_mind_spark.operators.curate import corpus_diff

    p_old, p_new = str(tmp_path / "old"), str(tmp_path / "new")
    df = spark.createDataFrame(
        [(i, "text payload " * 10 + str(i)) for i in range(50)],
        "doc_id long, text string",
    )
    df.write.parquet(p_old)
    df.filter("doc_id % 3 != 0").write.parquet(p_new)
    plan = _plan(corpus_diff(spark.read.parquet(p_old), spark.read.parquet(p_new)))
    blocks = re.findall(r"\(\d+\) Exchange[^\n]*\n(.*?)(?:\n\n|\Z)", plan, re.S)
    assert blocks, plan
    for b in blocks:
        assert "text" not in b, b


def test_scan_floor_applies_to_file_uri(spark, tmp_path):
    """A one-row-group wide table read through a ``file://`` directory gets
    the scan-parallelism floor, exactly like the same table read by its
    plain local path."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from log_parser_mind_spark.sources.tables import read_table

    text = ["".join(hashlib.sha256(f"{i}:{j}".encode()).hexdigest() for j in range(4)) for i in range(256)]
    (tmp_path / "wide.parquet").mkdir()
    pq.write_table(
        pa.table({"doc_id": list(range(256)), "text": text}),
        str(tmp_path / "wide.parquet" / "part-00000.parquet"),
    )
    target = spark.sparkContext.defaultParallelism
    assert target > 1
    for sf_dir in (str(tmp_path), tmp_path.as_uri()):
        df = read_table(spark, sf_dir, "wide")
        assert df.rdd.getNumPartitions() == target, sf_dir


def test_curate_near_dup_branch_reuses_exchanges(spark):
    """curate_corpus reads its persisted survivors once per write; the
    near-dup branch runs on its own unpersisted plan, whose repeated
    subtrees AQE shares. Over the persisted survivors, every read ran the
    shingle explode and MinHash aggregate again (15 cache reads, no reuse).
    Two-column docs are the case where the branch and the persisted frame
    could collapse into one plan."""
    from log_parser_mind_spark.operators.curate import curate_corpus

    rows = [(i, f"doc {i} " + " ".join(f"w{i}_{j}" for j in range(24))) for i in range(30)]
    rows += [(100 + i, rows[i][1]) for i in range(3)]  # exact copies
    rows += [(200 + i, rows[i][1] + " tail") for i in range(3, 6)]  # near copies
    out = curate_corpus(spark.createDataFrame(rows, "doc_id long, text string"))
    try:
        out.write.format("noop").mode("overwrite").save()
        ops = _executed_operators(spark)
    finally:
        out.survivors.unpersist()
    assert ops["TableCacheQueryStage"] == 1, ops
    assert ops["ReusedExchange"] >= 1, ops


def test_aqe_reuses_no_exchange_above_a_cache(spark):
    """The Spark behaviour the split in curate_corpus works around: under
    AQE, a groupBy self-join over a persisted frame gets no ReusedExchange,
    while the same query over the unpersisted frame gets one."""
    src = spark.range(64).selectExpr("id % 7 AS k")

    def self_join_ops(df):
        g = df.groupBy("k").count()
        g.join(g, "k").write.format("noop").mode("overwrite").save()
        return _executed_operators(spark)

    assert self_join_ops(src)["ReusedExchange"] == 1
    cached = src.persist()
    try:
        ops = self_join_ops(cached)
    finally:
        cached.unpersist()
    assert ops["ReusedExchange"] == 0, (
        "Spark now reuses exchanges above a cached relation under AQE: "
        "curate_corpus's separate unpersisted near-dup plan can go, and the "
        "branch can read the persisted survivors again"
    )
