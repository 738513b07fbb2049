"""Training-data ops: dedup (exact / minhash-LSH / simhash / n-gram Jaccard /
embedding-cosine), similarity search (brute-force vs LSH), text analysis,
multimodal plumbing.
"""

import pytest

from pyspark.sql import functions as F

from log_parser_mind_spark.functions import text as tx
from log_parser_mind_spark.operators import dedup, similarity
from log_parser_mind_spark.sources import multimodal


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),          # near dup
        (3, "completely different content about spark engines"),
        (4, "El perro corre en la casa de la abuela y los gatos"),
        (5, "THE  quick   brown fox jumps over the lazy dog"),       # ws/case dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = dedup.exact_dedup(docs).collect()
    dups = {r.keep_id: r.dup_count for r in groups if r.dup_count > 1}
    assert dups == {0: 3}  # 0, 1, 5 normalize identically
    assert len(groups) == 4


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {
        (r.id_a, r.id_b) for r in dedup.minhash_lsh_candidates(docs, k=16, bands=16).collect()
    }
    assert (0, 1) in pairs and (0, 5) in pairs
    assert (0, 2) in pairs  # near dup shares most shingles → some band collides
    assert (0, 3) not in pairs


def test_ngram_jaccard(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.3 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_short_and_blank_docs_survive_dedup(spark):
    """ADVICE r1 (high): sequence(1, size-(n-1)) on a <n-token doc yields a
    DESCENDING [1,0] and slice() throws — short docs must shingle to []."""
    rows = [(0, "one two"), (1, ""), (2, None), (3, "the quick brown fox jumps")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # No SparkRuntimeException; short docs simply produce no shingles.
    assert dedup.minhash_lsh_candidates(df, k=8, bands=8).count() == 0
    assert dedup.ngram_jaccard_pairs(df, threshold=0.1).count() == 0
    sh = {r.id: r.simhash for r in dedup.simhash_table(df).collect()}
    assert sh[1] == 0 and sh[2] == 0 and sh[0] != 0


def test_ngram_jaccard_candidates_prune_before_join(docs, spark):
    cand = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.3, candidates=cand)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert got == {(0, 1): 1.0}
    # The candidate filter must sit BELOW the pair aggregation: both sides of
    # the shingle self-join are semi-joined against candidate ids (2 LeftSemi
    # nodes) in addition to the post-agg pair semi-join (1 more).
    plan = pairs._sc._jvm.PythonSQLUtils.explainString(
        pairs._jdf.queryExecution(), "formatted"
    )
    assert plan.count("LeftSemi") >= 3


def test_simhash_plan_has_no_python(docs):
    df = dedup.simhash_near_dups(docs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert marker not in plan
    # map-side combine: two-phase aggregate around the exchange
    assert plan.count("HashAggregate") >= 2


def test_simhash(docs):
    groups = dedup.simhash_near_dups(docs).collect()
    ids = sorted(sorted(g.ids) for g in groups)
    assert [0, 1, 5] in ids  # identical normalized text → identical simhash
    # determinism across runs
    again = sorted(sorted(g.ids) for g in dedup.simhash_near_dups(docs).collect())
    assert ids == again


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    """sf0.01 documents plus one lightly-perturbed variant per doc (a token
    appended) — the variant's simhash lands within a few bits of the base, so
    the corpus has genuine 1 ≤ hamming ≤ k pairs, not just exact collisions."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    variants = docs.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    return docs.unionByName(variants)


def test_simhash_hamming_band_join_equals_exhaustive(near_dup_corpus):
    """VERDICT r2 item 1: the 4×16-bit band join must find EXACTLY the pairs
    an all-pairs scan finds (pigeonhole: ≤3 differing bits cannot touch all
    4 slices) — same proof pattern as minhash_verified_dups."""
    k = 3
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_near_dup_pairs(near_dup_corpus, k=k).collect()
    }
    sh = dedup.simhash_table(near_dup_corpus)
    a, b = sh.alias("a"), sh.alias("b")
    exhaustive = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.crossJoin(b)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
        .collect()
    }
    assert got == exhaustive
    assert got, "corpus produced no near-dup pairs — test would be vacuous"
    assert any(h > 0 for _, _, h in got), "need nonzero-hamming pairs to prove the band path"


def test_simhash_hamming_pairs_all_jvm_and_guarded(docs):
    df = dedup.simhash_near_dup_pairs(docs, k=2)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert marker not in plan
    with pytest.raises(ValueError):
        dedup.simhash_near_dup_pairs(docs, k=4, bands=4)  # k >= bands loses exactness
    with pytest.raises(ValueError):
        dedup.simhash_near_dup_pairs(docs, k=2, bands=5)  # 5 does not divide 64


def test_embedding_near_dups_and_topk(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    base = rng.standard_normal((6, 8)).astype("float32")
    base[1] = base[0] + 0.01 * rng.standard_normal(8).astype("float32")  # near dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    nd = {(r.id_a, r.id_b) for r in dedup.embedding_near_dups(emb, threshold=0.99).collect()}
    assert (0, 1) in nd

    exact = similarity.brute_force_topk(emb.filter("vec_id = 0"), emb.filter("vec_id > 0"), k=1)
    assert exact.collect()[0].neighbor_id == 1

    approx = similarity.lsh_topk(emb.filter("vec_id = 0"), emb.filter("vec_id > 0"), k=1)
    got = approx.collect()
    assert not got or got[0].neighbor_id == 1  # near-identical vectors share buckets


def test_explicit_dim_builds_plans_without_a_job(spark):
    """VERDICT r1 item 8: with ``dim`` passed, plan construction must not
    trigger a driver-side .first() job. The source is poisoned with a
    mapInPandas that raises if ANY job materializes it."""
    from pyspark.sql import functions as F

    def boom(_it):
        raise RuntimeError("materialized during plan construction")
        yield  # pragma: no cover

    base = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.5)] * 4).cast("array<float>").alias("embedding"),
    )
    poisoned = base.mapInPandas(boom, "vec_id long, embedding array<float>")
    q = similarity.lsh_topk(poisoned, poisoned, k=2, dim=4)
    assert "cosine" in q.columns  # analysis resolved, no job ran
    nd = dedup.embedding_near_dups(poisoned, dim=4)
    assert "cosine" in nd.columns


def test_lsh_multiprobe_recall_floor(spark):
    """VERDICT r2 item 2: at the plane counts a big corpus needs, single-probe
    recall collapses (a true neighbor only has to cross ONE hyperplane);
    hamming-1 probing must restore it. Planted-twin corpus (cosine ≈ 0.986,
    the near-dup regime LSH serves), seeded → fully deterministic."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((200, 32))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    twin = base + 0.03 * rng.standard_normal((200, 32))
    decoys = rng.standard_normal((400, 32))
    q = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    c = spark.createDataFrame(
        [(1000 + i, [float(x) for x in twin[i]]) for i in range(200)]
        + [(2000 + i, [float(x) for x in decoys[i]]) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(q, c, k=1).collect()
    }

    def recall(probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.lsh_topk(
                q, c, k=1, n_planes=8, dim=32, probe_hamming=probe
            ).collect()
        }
        return len(got & exact) / len(exact)

    r0, r1 = recall(0), recall(1)
    # VERDICT r3 item 5: pin BOTH recalls, not just the floor. Single-probe
    # tracks the p^planes prediction: mean twin cosine 0.9864 → per-plane
    # agreement p = 1 − arccos(0.9864)/π ≈ 0.947, p⁸ ≈ 0.65; measured 0.675
    # (deterministic seeded corpus). That collapse is WHY probe_hamming=1 is
    # the default (similarity.py) — it lifts recall to 0.95 here for ≤ 9×
    # probe-side bucket fan-out, never a corpus-side cost.
    assert 0.55 <= r0 <= 0.8, f"single-probe recall {r0} drifted from its pinned band"
    assert r1 >= 0.9, f"multi-probe recall {r1} below floor"
    assert r1 - r0 >= 0.15, f"probing should materially beat single-probe ({r0} -> {r1})"


def test_planes_autoscale_and_bucket_stats(spark):
    """VERDICT r2 item 5: n_planes must track log2(corpus); bucket_stats is
    the Σ bucket² evidence."""
    assert similarity.planes_for_corpus(1_000) == 4          # floor
    assert similarity.planes_for_corpus(1 << 20, 1024) == 10
    assert similarity.planes_for_corpus(1 << 30, 1024) == 20  # grows with log2(N)

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0, -1.0]) for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    b = similarity.hyperplane_bucket(emb, dim=4, n_planes=None, corpus_count=64_000)
    stats = similarity.bucket_stats(b, ["bucket"]).collect()[0]
    assert stats.n_buckets >= 1 and stats.max_bucket <= 64
    assert stats.sum_sq >= stats.max_bucket**2
    with pytest.raises(ValueError):
        similarity.hyperplane_bucket(emb, dim=4, n_planes=None)  # no count hint
    with pytest.raises(ValueError):
        similarity.lsh_topk(emb, emb, dim=4, probe_hamming=2)


def test_ivf_assignments_deterministic(spark):
    import numpy as np

    rng = np.random.default_rng(1)
    rows = [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a1 = sorted((r.vec_id, r.centroid_id) for r in similarity.ivf_assignments(emb, 4, 2).collect())
    a2 = sorted((r.vec_id, r.centroid_id) for r in similarity.ivf_assignments(emb, 4, 2).collect())
    assert a1 == a2
    assert len({c for _, c in a1}) > 1


def test_text_analysis(spark):
    rows = [
        ("the cat sat of the mat in a hat",),
        ("el perro de la casa que ladra y los gatos",),
        ("zzz qqq xxx",),
    ]
    df = spark.createDataFrame(rows, "text string")
    got = df.select(
        tx.lang_id_expr(F.col("text")).alias("lang"),
        tx.whitespace_token_count_expr(F.col("text")).alias("n_ws"),
        tx.bpe_ish_token_count_expr(F.col("text")).alias("n_bpe"),
        tx.quality_score_expr(F.col("text")).alias("q"),
        tx.fingerprint_expr(F.col("text")).alias("fp"),
    ).collect()
    assert got[0].lang == "en"
    assert got[1].lang == "es"
    assert got[2].lang == "unknown"
    assert got[0].n_ws == 9
    assert all(0.0 <= r.q <= 1.0 for r in got)
    assert got[0].fp != got[1].fp
    # punctuation splits in BPE-ish counting
    n = spark.createDataFrame([("don't stop!",)], "text string").select(
        tx.bpe_ish_token_count_expr(F.col("text")).alias("n")
    ).collect()[0].n
    assert n == 5  # don / ' / t / stop / !


def test_text_analytics_tokenize_once_plan(spark):
    """VERDICT r2 item 4: the scoring queries must evaluate the regex split
    ONCE per row — tokens materialized in their own projection, every
    language/stopword expr referencing the attribute. (The convenience
    wrappers inline 36 split occurrences into the same plan.)"""
    docs = spark.createDataFrame([("the cat sat",), ("el perro",)], "text string")

    def nsplit(df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        return plan.count("split(")

    toks = tx.with_tokens(docs)
    lang = toks.select(tx.lang_id_from(F.col("tokens")).alias("lang"))
    qual = toks.select(tx.quality_score_from(F.col("tokens"), F.col("text")).alias("q"))
    assert nsplit(lang) == 1
    assert nsplit(qual) == 1
    # semantics identical to the single-expression wrappers
    assert [r.lang for r in lang.collect()] == [
        r.l for r in docs.select(tx.lang_id_expr(F.col("text")).alias("l")).collect()
    ]
    assert [r.q for r in qual.collect()] == [
        r.q for r in docs.select(tx.quality_score_expr(F.col("text")).alias("q")).collect()
    ]


def test_multimodal_plumbing(spark):
    assets = multimodal.synth_assets(spark, n=12)
    feats = multimodal.decode_and_featurize(assets, fake=True)
    rows = feats.collect()
    assert len(rows) == 12
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in rows)
    # determinism
    again = multimodal.decode_and_featurize(assets, fake=True).collect()
    assert sorted((r.asset_id, tuple(r.features)) for r in rows) == sorted(
        (r.asset_id, tuple(r.features)) for r in again
    )
    # real decode path is explicitly stubbed
    import pytest as _pytest

    with _pytest.raises(Exception):
        multimodal.decode_and_featurize(assets, fake=False).collect()

    frames = multimodal.frame_sample_plan(assets, every_ms=1000)
    assert frames.filter("frame_ts_ms > 0").count() > 0
    stats = {r.media_type: r.n_assets for r in multimodal.media_stats(assets).collect()}
    assert stats == {"image": 4, "audio": 4, "video": 4}


def test_new_contract_queries_match_duckdb_oracle(spark, sf_dir):
    """Lock the round-3 contract additions (embedding_near_dups, lsh_ann_topk,
    search_similar) to their DuckDB oracles — the oracles replicate the LSH
    bucketing itself (inlined plane literals), so this covers the partitioning
    strategy, not just the final filter."""
    import glob
    import os

    import duckdb

    import __spark_entry__ as entrymod
    from tools.check_oracle import norm_df

    con = duckdb.connect()
    for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(f).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in ("embedding_near_dups", "lsh_ann_topk", "search_similar"):
        got = qs[name](spark, sf_dir).toPandas()
        want = con.execute(oracles[name]).df()
        assert sorted(got.columns) == sorted(want.columns), name
        assert norm_df(got) == norm_df(want), name


def test_hashing_embedding_table(spark):
    """X5 model-free backend: deterministic at any parallelism, unit-norm,
    cosine-meaningful (near-dup docs ≫ unrelated), zero vector for empty."""
    from log_parser_mind_spark.operators import embed
    from log_parser_mind_spark.operators.similarity import cosine_expr

    rows = [
        (0, "spark shuffle join aggregate window partition"),
        (1, "spark shuffle join aggregate window partition zq"),  # near-dup of 0
        (2, "completely different words about cooking pasta tonight"),
        (3, ""),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    t1 = embed.hashing_embedding_table(docs.repartition(1), dim=32)
    t8 = embed.hashing_embedding_table(docs.repartition(8), dim=32)
    v1 = {r.doc_id: tuple(r.embedding) for r in t1.collect()}
    v8 = {r.doc_id: tuple(r.embedding) for r in t8.collect()}
    assert v1 == v8  # parallelism invariance (integer votes, one final divide)
    import math

    for d, v in v1.items():
        n = math.sqrt(sum(x * x for x in v))
        assert abs(n - 1.0) < 1e-5 or (d in (3, 4) and n == 0.0)
    a, b = t1.alias("a"), t1.alias("b")
    cos = {
        (r.ia, r.ib): r.c
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("ia"),
            F.col("b.doc_id").alias("ib"),
            cosine_expr(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
        )
        .collect()
    }
    assert cos[(0, 1)] > 0.9 > cos[(0, 2)]  # shared tokens dominate
    assert cos[(0, 3)] is None  # zero vector → NULL cosine, ranked last


def test_client_embedding_stage_seam(spark):
    """X5 learned-model seam: injectable client runs Arrow-batched and
    order-preserving; without client/endpoint it raises, never fakes."""
    import pytest as _pytest

    from log_parser_mind_spark.operators import embed

    docs = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(10)], "doc_id long, text string"
    )

    def fake_client(texts):
        return [[float(len(t)), 1.0] for t in texts]

    out = {
        r.doc_id: list(r.embedding)
        for r in embed.client_embedding_stage(docs, client=fake_client, dim=2).collect()
    }
    assert out[3] == [float(len("text number 3")), 1.0] and len(out) == 10

    with _pytest.raises(NotImplementedError):
        embed.client_embedding_stage(docs).collect()


def test_curate_corpus_funnel(spark, sf_dir):
    """The composed curation job: each stage only shrinks the corpus, the
    near-dup stage drops exactly the docs with a verified smaller-id
    near-dup, survivors carry annotations, and the whole funnel equals the
    DuckDB oracle recomposition (driver-grade value check)."""
    import glob
    import os

    import duckdb

    import __spark_entry__ as entrymod
    from log_parser_mind_spark.operators import curate
    from log_parser_mind_spark.sources.tables import read_table
    from tools.check_oracle import norm_df

    docs = read_table(spark, sf_dir, "documents")
    out = curate.curate_corpus(
        docs, jaccard_threshold=0.7, minhash_k=32, minhash_bands=32,
        shingle_n=1, min_quality=0.5,
    )
    got = out.select("doc_id", "lang", "quality", F.col("n_tokens").cast("long").alias("n_tokens")).toPandas()
    assert 0 < len(got) < docs.count()
    assert (got["quality"] >= 0.5).all()

    con = duckdb.connect()
    for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(f).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    want = con.execute(entrymod.oracle_sql()["curated_corpus"]).df()
    assert norm_df(got) == norm_df(want)

    report = curate.curation_report(docs, out).collect()[0]
    assert report.n_input == docs.count() and report.n_curated == len(got)
    assert 0 < report.drop_fraction < 1


def test_curate_corpus_edge_rows(spark):
    """Empty, whitespace-only, NULL, and duplicate docs flow through the
    funnel without errors: dups collapse to min id, degenerate docs score
    quality 0.3 (length/stopword terms zero) and fall to the gate."""
    from log_parser_mind_spark.operators import curate

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again today"),
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, ""),
        (3, "   "),
        (4, None),
        (5, "short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate.curate_corpus(docs, min_quality=0.35).collect()
    ids = sorted(r.doc_id for r in out)
    assert 1 not in ids  # exact dup of 0 dropped (min id kept)
    assert 0 in ids
    assert not {2, 3, 5} & set(ids)  # degenerate/short docs fail the gate
    # NULL text: tokens empty -> quality 0.3 -> gated
    assert 4 not in ids


def test_simhash_and_embed_accept_string_ids(spark):
    """String doc ids (conv-style) must not be silently nulled: simhash pairs
    and the embedding client stage both keep the source id type."""
    from log_parser_mind_spark.operators import dedup as dd
    from log_parser_mind_spark.operators import embed

    rows = [
        ("conv-a", "alpha beta gamma delta epsilon zeta"),
        ("conv-b", "alpha beta gamma delta epsilon zeta"),
        ("conv-c", "totally different words entirely here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = dd.simhash_near_dup_pairs(docs, k=3).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [("conv-a", "conv-b")]

    out = embed.client_embedding_stage(
        docs, client=lambda ts: [[1.0, 2.0]] * len(ts), dim=2
    ).collect()
    assert sorted(r.doc_id for r in out) == ["conv-a", "conv-b", "conv-c"]


def test_simhash_empty_docs_stay_out_of_hot_bucket(spark):
    """VERDICT r3 item 2: every token-less doc fingerprints to simhash 0, so
    a raw crawl with M empty docs would make band value 0 one M-sized bucket
    per band (Σ bucket² ≈ M² per band, with M(M−1)/2 meaningless pairs out).
    The guard excludes n_tokens=0 docs from the band join: real near-dups
    still surface, no pair touches an empty doc, and the banded join table's
    max bucket is bounded by the real corpus, not M."""
    from log_parser_mind_spark.operators import similarity

    m = 300
    empties = spark.range(m).select(
        (F.col("id") + 50_000).alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "   ").otherwise("").alias("text"),
    )
    real = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),       # hamming 0 to doc 1
            (3, "totally different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    corpus = real.unionByName(empties)

    pairs = dedup.simhash_near_dup_pairs(corpus, k=3).collect()
    ids_in_pairs = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert (1, 2) in {(r.id_a, r.id_b) for r in pairs}  # real near-dup found
    assert all(i < 50_000 for i in ids_in_pairs)        # no empty doc in any pair
    assert len(pairs) < 10                               # not M(M−1)/2 ≈ 45k

    # Cost evidence on the exact join-key table the operator uses.
    sh = dedup.simhash_table(corpus, "doc_id", "text").filter(F.col("n_tokens") > 0)
    stats = similarity.bucket_stats(dedup.simhash_banded(sh, 4), ["band_idx", "band_val"]).collect()[0]
    assert stats.max_bucket <= real.count()  # bounded by real docs, not by M

    # The trivial group is still visible through the groupBy-fingerprint path
    # (linear, one row) for callers who want to count/drop empty docs.
    groups = {r.simhash: r.n for r in dedup.simhash_near_dups(corpus).collect()}
    assert groups.get(0, 0) == m


def test_pipeline_composition_triggers_no_jobs(spark):
    """VERDICT r3 item 8: composing the curation + ANN pipeline with explicit
    ``dim`` must be pure plan construction — zero Spark jobs until an action.
    The ``.first()`` dim-inference fallback (similarity.py) is for ad-hoc use
    only; this pins that every internal path stays lazy, so a 100 TB pipeline
    doesn't silently scan the corpus while BUILDING its plan. The contrast
    case proves the test can detect a job at all."""
    from log_parser_mind_spark.operators import curate

    docs = spark.createDataFrame(
        [(i, f"some text body number {i} with words") for i in range(8)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("compose_only", "plan construction must stay lazy")
    try:
        curated = curate.curate_corpus(docs, persist_intermediate=False)
        bucketed = similarity.hyperplane_bucket(emb, dim=4, n_planes=4)
        topk = similarity.lsh_topk(emb, emb, k=2, dim=4)
        near = dedup.embedding_near_dups(emb, dim=4, n_planes=4, bands=2)
        composed = curated.join(topk, curated.doc_id == topk.query_id, "left")
        assert tracker.getJobIdsForGroup("compose_only") == []
        # Contrast: the documented ad-hoc fallback DOES run a driver-side job.
        similarity.hyperplane_bucket(emb, n_planes=4)  # dim omitted → .first()
        assert tracker.getJobIdsForGroup("compose_only") != []
        assert near.count() >= 0 and bucketed.count() > 0 and composed.count() > 0
    finally:
        sc.setJobGroup("", "")


def test_ivf_topk_recall_and_laziness(spark):
    """IVF probe search: on a corpus with genuine cluster structure, probing
    n_probe=2 of 4 lists recovers ≥0.9 of brute-force top-1 while the search
    join touches only the probed lists; with dim passed, building the plan
    triggers no k-means-unrelated jobs (the fit itself is inherently
    iterative and DOES run jobs — that is the documented contract)."""
    import numpy as np

    rng = np.random.default_rng(3)
    centers = rng.standard_normal((4, 16)) * 4
    rows = []
    for i in range(240):
        c = i % 4
        rows.append((i, [float(x) for x in centers[c] + 0.3 * rng.standard_normal(16)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 40")
    c = emb.filter("vec_id >= 40")

    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(q, c, k=1).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(q, c, k=1, n_centroids=4, n_probe=2, dim=16)
        .filter("rank = 1").collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall} below floor"

    # Determinism across repeated fits (seeded init + rounded centroids).
    again = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(q, c, k=1, n_centroids=4, n_probe=2, dim=16)
        .filter("rank = 1").collect()
    }
    assert got == again

    # The search plan stays all-JVM (no Python eval in the hot path).
    df = similarity.ivf_topk(q, c, k=2, n_centroids=4, n_probe=2, dim=16)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert marker not in plan


def test_curate_near_dup_strategies(spark):
    """Stage 2 of the curation funnel is pluggable: the simhash and
    embedding strategies drop their notion of near-dup through the SAME
    keep-smallest rule, the default stays byte-identical to 'jaccard', and
    an unknown strategy raises before any job runs."""
    from log_parser_mind_spark.operators import curate

    base = " ".join(f"tok{i}" for i in range(40))  # long doc: one appended
    # token shifts only a few simhash bits (short docs flip too many)
    rows = [
        (0, base),
        (1, base + " lambda"),               # near-dup of 0 (token appended)
        (2, "completely different text with none of those other tokens here"),
        (3, base),                           # exact dup of 0 (stage-1 drop)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def ids(persist=False, **kw):
        out = curate.curate_corpus(docs, persist_intermediate=persist, **kw)
        try:
            return sorted(r.doc_id for r in out.select("doc_id").collect())
        finally:
            out.survivors.unpersist()

    # The default persists the survivors and runs the near-dup branch on
    # its own unpersisted plan; each strategy gives the same rows with and
    # without the persist.
    assert ids(True) == ids(near_dup="jaccard") == [0, 2]
    # One appended token flips ~6 of 64 bits at this doc length, so widen
    # the dial to hamming<=6 (8 bands keep the pigeonhole guarantee).
    assert ids(near_dup="simhash", simhash_k=6, simhash_bands=8) == [0, 2]
    assert ids(True, near_dup="simhash", simhash_k=6, simhash_bands=8) == [0, 2]
    assert ids(near_dup="embedding", embedding_threshold=0.9) == [0, 2]
    assert ids(True, near_dup="embedding", embedding_threshold=0.9) == [0, 2]
    # A lax threshold keeps the near-dup — the strategy dial actually dials.
    assert 1 in ids(near_dup="embedding", embedding_threshold=0.999)
    with pytest.raises(ValueError, match="near_dup"):
        curate.curate_corpus(docs, near_dup="bogus")


def test_curate_survivors_unpersist_handle(spark):
    """curate_corpus returns its persisted exact-dedup survivors as
    ``.survivors`` so a long-lived session can release the cache."""
    from pyspark import StorageLevel

    from log_parser_mind_spark.operators import curate

    docs = spark.createDataFrame([(0, "a b c d"), (1, "a b c d")], "doc_id long, text string")
    out = curate.curate_corpus(docs)
    assert out.survivors.storageLevel != StorageLevel.NONE
    out.survivors.unpersist()
    assert out.survivors.storageLevel == StorageLevel.NONE
    assert curate.curate_corpus(docs, persist_intermediate=False).survivors.storageLevel == StorageLevel.NONE


def test_ivf_topk_degenerate_corpora(spark):
    """Review findings (r4): a duplicate-heavy corpus collapses the k-means
    fit below n_centroids — n_probe must clamp to the surviving lists
    instead of slice() silently emitting zero results; and zero-norm vectors
    (hashing_embedding_table emits them for token-less docs) must not crash
    the fit under ANSI mode."""
    dup = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    got = similarity.ivf_topk(
        dup.filter("vec_id < 2"), dup.filter("vec_id >= 2"),
        k=3, n_centroids=4, n_probe=2, dim=4,
    ).collect()
    assert len(got) == 6  # 2 queries × top-3, none silently dropped

    withzero = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.ivf_topk(
        withzero.filter("vec_id = 0"), withzero.filter("vec_id > 0"),
        k=1, n_centroids=2, n_probe=2, dim=2,
    ).collect()  # no DIVIDE_BY_ZERO; zero vector assigns deterministically
    assert rows and rows[0].neighbor_id == 3

    with pytest.raises(ValueError, match="n_probe"):
        similarity.ivf_topk(dup, dup, n_probe=0, dim=4)


def test_ivf_topk_broadcasts_probes_not_corpus(spark):
    """The search join's key (centroid_id) has ≤ n_centroids distinct values
    — the probe side must broadcast or the whole corpus shuffles into
    ≤ n_centroids hash groups."""
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, 0.0]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    df = similarity.ivf_topk(emb.filter("vec_id < 3"), emb.filter("vec_id >= 3"),
                             k=2, n_centroids=4, n_probe=2, dim=4)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "BroadcastHashJoin" in plan


def test_decontaminate_cross_corpus_only(spark):
    """Decontamination drops verbatim and near-verbatim matches of the
    blocklist, keeps unrelated docs, and the candidate join is strictly
    corpus × blocklist — corpus-internal duplicates never show up as pairs
    (they are minhash_lsh_candidates' job, and would explode the buckets on
    a dup-heavy corpus)."""
    from log_parser_mind_spark.operators import curate

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog tonight"),
            (1, "the quick brown fox jumps over the lazy dog tonight"),  # internal dup
            (2, "the quick brown fox jumps over the lazy cat tonight"),  # near bench
            (3, "completely unrelated content about distributed query engines"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    pairs = dedup.cross_corpus_near_dups(
        corpus, bench, threshold=0.7, k=32, bands=32, shingle_n=1
    ).collect()
    assert all(r.block_id == 100 for r in pairs)  # never corpus-internal
    assert {r.corpus_id for r in pairs} == {0, 1, 2}

    clean = curate.decontaminate(
        corpus, bench, threshold=0.7, minhash_k=32, minhash_bands=32, shingle_n=1
    )
    assert sorted(r.doc_id for r in clean.collect()) == [3]


def test_strip_boilerplate_lines(spark):
    """C4-style line-level cleaning: lines in >= min_docs distinct docs are
    dropped everywhere, surviving lines keep their original order, and docs
    reduced to nothing (or NULL text) survive as empty strings."""
    from log_parser_mind_spark.operators.curate import strip_boilerplate

    nav = "Home | About | Contact"
    rows = [
        (0, f"{nav}\nunique story alpha\nsecond line alpha"),
        (1, f"unique story beta\n{nav}"),
        (2, f"{nav}"),                       # only boilerplate → ""
        (3, "standalone text gamma"),
        (4, None),                           # NULL text survives as ""
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text for r in strip_boilerplate(docs, min_docs=3).collect()}
    assert out == {
        0: "unique story alpha\nsecond line alpha",
        1: "unique story beta",
        2: "",
        3: "standalone text gamma",
        4: "",
    }
    # Fractional threshold: nav appears in 3/5 docs; min_doc_frac=0.8 keeps it.
    kept = {r.doc_id: r.text for r in strip_boilerplate(docs, min_doc_frac=0.8).collect()}
    assert nav in kept[0]


def test_repetition_scores_hand_computed(spark):
    """Gopher repetition metrics on hand-computed docs: duplicate lines
    (count + char mass), mode 2-/3-gram coverage, blank-line filtering,
    NULL text, gram-less docs, and a (count, len) tie whose value is
    invariant to which gram wins."""
    from log_parser_mind_spark.operators.curate import repetition_scores

    rows = [
        (0, "x\nx\ny z y z\n\n  \nunique"),
        (1, None),
        (2, "tok"),
        (3, "a b a b c d c d"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_scores(docs).collect()}
    assert len(out) == 4

    a = out[0]
    # lines kept: [x, x, "y z y z", unique] — the blank and "  " drop out
    assert a.n_lines == 4
    assert a.dup_line_frac == pytest.approx(2 / 4)
    assert a.dup_line_char_frac == pytest.approx(round(2 / 15, 6))
    # 2-grams: "y z" twice (val 2*3=6); text length 22
    assert a.top_2gram_char_frac == pytest.approx(round(6 / 22, 6))
    # 3-grams all unique; longest is "y z unique" (len 10)
    assert a.top_3gram_char_frac == pytest.approx(round(10 / 22, 6))

    b = out[1]
    assert (b.n_lines, b.dup_line_frac, b.dup_line_char_frac) == (0, 0.0, 0.0)
    assert (b.top_2gram_char_frac, b.top_3gram_char_frac) == (0.0, 0.0)

    c = out[2]  # one token → no grams; one line, no dups
    assert (c.n_lines, c.dup_line_frac) == (1, 0.0)
    assert (c.top_2gram_char_frac, c.top_3gram_char_frac) == (0.0, 0.0)

    d = out[3]  # "a b" and "c d" both occur twice, same length → same value
    assert d.top_2gram_char_frac == pytest.approx(round(6 / 15, 6))


def test_repetition_scores_zero_shuffle_plan(spark, sf_dir):
    """The 100 TB property: per-doc metrics must not shuffle. The physical
    plan over a parquet scan must contain no Exchange at all."""
    import os

    from log_parser_mind_spark.operators.curate import repetition_scores

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = repetition_scores(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_ivf_full_probe_equals_brute_force(spark):
    """Pin the probe/recall contract from both ends: probing EVERY list
    (n_probe = n_centroids) makes IVF candidate sets the whole corpus, so
    results must equal brute force exactly; recall is monotone in n_probe
    (candidate sets only grow). This is the identity that justifies calling
    IVF an ANN of the exact search rather than a different metric."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((4, 16)) * 4
    rows = []
    for i in range(200):
        c = i % 4
        rows.append((i, [float(x) for x in centers[c] + 0.3 * rng.standard_normal(16)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 30")
    c = emb.filter("vec_id >= 30")

    exact = {
        (r.query_id, r.neighbor_id, round(r.cosine, 6), r.rank)
        for r in similarity.brute_force_topk(q, c, k=3).collect()
    }
    top1_exact = {(a, b) for a, b, _, rk in exact if rk == 1}

    recalls = []
    for n_probe in (1, 2, 4):
        res = similarity.ivf_topk(q, c, k=3, n_centroids=4, n_probe=n_probe, dim=16)
        rows_ = res.collect()
        if n_probe == 4:
            got_full = {
                (r.query_id, r.neighbor_id, round(r.cosine, 6), r.rank) for r in rows_
            }
            assert got_full == exact  # full probe IS the exact search
        top1 = {(r.query_id, r.neighbor_id) for r in rows_ if r.rank == 1}
        recalls.append(len(top1 & top1_exact) / len(top1_exact))
    assert recalls[0] <= recalls[1] <= recalls[2] == 1.0, recalls


def test_dedup_paragraphs_keeps_canonical_occurrence(spark):
    """Global span dedup: a repeated paragraph keeps exactly its minimum
    (doc, pos) occurrence — across docs, within a doc, and under whitespace/
    case normalization; blank segments are exempt structure; NULL/empty and
    fully-deduped docs survive as empty strings."""
    from log_parser_mind_spark.operators.curate import dedup_paragraphs

    rows = [
        (0, "alpha beta\n\nshared para\n\nuniq0"),
        (1, "shared para\n\nuniq1"),
        (2, "  SHARED   para \n\nuniq2"),   # normalized identity match
        (3, ""),
        (4, None),
        (5, "shared para"),                 # whole doc is the dup
        (6, "par one\n\n\n\npar one"),      # in-doc dup + blank exempt
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in dedup_paragraphs(docs).collect()}
    assert got == {
        0: "alpha beta\n\nshared para\n\nuniq0",
        1: "uniq1",
        2: "uniq2",
        3: "",
        4: "",
        5: "",
        6: "par one\n\n",
    }


def test_dedup_paragraphs_skew_safe_plan(spark, sf_dir):
    """The canonical-occurrence pass must be a hash aggregate (map-side
    combine absorbs a billion-fold repeated paragraph), never a Window over
    the paragraph key (which funnels the hot key into one sorted
    partition)."""
    import os

    from log_parser_mind_spark.operators.curate import dedup_paragraphs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    df = dedup_paragraphs(docs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final around the exchange


def test_length_profile_exact_and_approx(spark):
    """Exact profile matches hand-computed interpolated percentiles; the
    approx variant (the high-cardinality scale path) has the same schema
    and lands near the exact numbers on a small frame."""
    from log_parser_mind_spark.operators.curate import length_profile

    rows = [(i, "x " * i, "s") for i in range(1, 6)]  # n_chars = 2*i
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = length_profile(docs).collect()[0]
    assert got.n_docs == 5
    assert got.mean_chars == pytest.approx(6.0)  # (2+4+6+8+10)/5
    assert got.p50_chars == pytest.approx(6.0)
    assert got.p90_chars == pytest.approx(9.2)   # linear interpolation
    approx = length_profile(docs, exact=False).collect()[0]
    assert set(approx.asDict()) == set(got.asDict())
    assert abs(approx.p50_chars - got.p50_chars) <= 2.0


def test_span_ops_treat_sep_as_literal(spark):
    """sep must be literal, not Java regex: '|' (regex: empty alternation)
    and '. ' (any-char + space) must split and reassemble exactly."""
    from log_parser_mind_spark.operators.curate import dedup_paragraphs, strip_boilerplate

    rows = [(0, "keep me|shared"), (1, "shared|keep too")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in dedup_paragraphs(docs, sep="|").collect()}
    assert got == {0: "keep me|shared", 1: "keep too"}

    b = strip_boilerplate(docs, sep="|", min_docs=2)
    assert {r.doc_id: r.text for r in b.collect()} == {0: "keep me", 1: "keep too"}


def test_shuffled_sequence_packing_composition(spark):
    """The documented composition: pack_corpus over global_shuffle's shard
    in pos_in_shard order — packs follow the SHUFFLED order (not key order)
    and the running-sum budget law still holds per pack."""
    from log_parser_mind_spark.operators.sample import global_shuffle, pack_corpus

    docs = spark.range(0, 120).selectExpr("id as doc_id", "repeat('w ', 10) as text")
    shuffled = global_shuffle(docs, n_shards=4, salt=5)
    packed = pack_corpus(
        shuffled, budget_tokens=35, shard_col="shard", order_col="pos_in_shard"
    )
    rows = packed.collect()
    assert len(rows) == 120
    pos = {r.doc_id: r for r in shuffled.collect()}
    by_pack = {}
    for r in rows:
        by_pack.setdefault((r.shard, r.pack_id), []).append(r)
    for (_, _), members in by_pack.items():
        assert sum(m.n_tokens for m in members) <= 35 + 10  # overflow ≤ last doc
        # members are consecutive in SHUFFLED order within the shard
        ps = sorted(pos[m.doc_id].pos_in_shard for m in members)
        assert ps == list(range(ps[0], ps[0] + len(ps)))


def test_connected_components_chains_and_cliques(spark):
    """Min-label propagation: a 4-chain collapses to its min id (transitive,
    unlike the keep-smallest pair rule), disjoint components stay separate,
    results are identical under repartitioning, and an over-long chain with
    max_iter=1 raises instead of returning an unconverged labeling."""
    pairs = spark.createDataFrame(
        [(1, 9), (9, 4), (4, 7),   # chain {1,9,4,7} -> 1
         (20, 21), (21, 20),       # duplicate-ish edges, component {20,21}
         (30, 31)],
        "id_a long, id_b long",
    )
    got = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {1: 1, 9: 1, 4: 1, 7: 1, 20: 20, 21: 20, 30: 30, 31: 30}

    again = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(pairs.repartition(7)).collect()
    }
    assert again == got

    with pytest.raises(RuntimeError, match="did not converge"):
        # chain 1-2-3-4-5 needs >1 round for 5 to learn label 1
        long_chain = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
        )
        dedup.connected_components(long_chain, max_iter=1)


def test_connected_components_deep_chain_bounded_plan(spark):
    """Regression: a path graph needing ~20 propagation rounds must stay
    cheap. Before the per-round localCheckpoint, persist() cached the DATA
    but the logical plan still nested every prior round (2x/round), so a
    deep chain OOMed the driver in the optimizer — caught by hypothesis on
    a 26-edge random graph."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long"
    )
    got = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(chain, max_iter=50).collect()
    }
    assert got == {i: 0 for i in range(21)}


def test_top_ngrams_heavy_hitters(spark):
    """Corpus heavy hitters: totals count every occurrence, n_docs counts
    documents, the tie-break is total, k truncates deterministically."""
    from log_parser_mind_spark.operators.curate import top_ngrams

    rows = [
        (0, "a b a b"),        # "a b" x2, "b a" x1
        (1, "a b c"),          # "a b", "b c"
        (2, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.gram, r["count"], r.n_docs) for r in top_ngrams(docs, n=2, k=2).collect()]
    assert got == [("a b", 3, 2), ("b a", 1, 1)]  # "b a" < "b c" on the tie


def test_real_decode_known_vectors(spark):
    """PPM and WAV decoders against hand-computable payloads, the header
    grammar (comments), malformed-input errors, and the still-gated formats."""
    import io
    import struct
    import wave

    import numpy as np
    import pytest as _pytest

    # 2x2 PPM: R, G, B, white — with a header comment
    raster = bytes([255,0,0, 0,255,0, 0,0,255, 255,255,255])
    ppm = b"P6\n# comment\n2 2\n255\n" + raster
    w, h, px = multimodal.decode_ppm(ppm)
    assert (w, h) == (2, 2) and px.shape == (2, 2, 3)
    assert px[0, 0].tolist() == [255, 0, 0] and px[1, 1].tolist() == [255, 255, 255]
    feats = multimodal._ppm_features(ppm)
    assert len(feats) == multimodal.FEATURE_DIM
    # mean of each channel over [1,0,0],[0,1,0],[0,0,1],[1,1,1] = 0.5
    assert feats[2:5] == [0.5, 0.5, 0.5]

    with _pytest.raises(ValueError, match="truncated"):
        multimodal.decode_ppm(b"P6\n2 2\n255\n" + raster[:-1])
    with _pytest.raises(ValueError, match="maxval"):
        multimodal.decode_ppm(b"P6\n1 1\n65535\n" + b"\0" * 6)
    with _pytest.raises(ValueError, match="P6 magic"):
        multimodal.decode_ppm(b"P3\n1 1\n255\n0 0 0")

    # WAV: constant +8192 amplitude -> rms = peak = 0.25, zcr = 0
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1); wf.setsampwidth(2); wf.setframerate(8000)
        wf.writeframes(struct.pack("<100h", *([8192] * 100)))
    n_ch, rate, samples = multimodal.decode_wav(buf.getvalue())
    assert (n_ch, rate, samples.tolist()) == (1, 8000, [8192] * 100)
    af = multimodal._wav_features(buf.getvalue())
    assert af[3] == af[5] == 0.25 and af[4] == 0.0
    assert af[2] == round(100 / 8000, 6)

    # end-to-end over the synthetic real assets: Spark == driver-side map
    assets = multimodal.synth_real_assets(spark, n=8)
    got = {
        r.asset_id: tuple(round(float(x), 6) for x in r.features)
        for r in multimodal.decode_and_featurize(assets, fake=False).collect()
    }
    for row in assets.select("asset_id", "media_type", "payload").collect():
        want = multimodal._real_features(row.media_type, bytes(row.payload))
        assert got[row.asset_id] == tuple(want), row.asset_id

    # gate stays loud for undeodable formats
    fake_assets = multimodal.synth_assets(spark, n=3)  # x-fake payloads
    with _pytest.raises(Exception, match="codec|NotImplemented"):
        multimodal.decode_and_featurize(fake_assets, fake=False).collect()


def test_decode_ppm_rejects_header_and_trailing_garbage():
    """Review fix: the 'never a silent partial decode' contract — a
    non-whitespace byte after maxval and trailing bytes after the raster
    must both raise, not silently decode."""
    import pytest as _pytest

    raster = bytes(range(12))
    with _pytest.raises(ValueError, match="whitespace"):
        multimodal.decode_ppm(b"P6\n2 2\n255X" + raster)
    with _pytest.raises(ValueError, match="trailing"):
        multimodal.decode_ppm(b"P6\n2 2\n255\n" + raster + b"junk")


def test_dedup_ngram_spans_hand_computed(spark):
    """Substring-level dedup (k=3): repeated token spans keep their minimum
    (doc, pos) copy; only the interior of a duplicate span is removed (edge
    tokens sit under canonical straddling windows); case-folded identity with
    original-case rebuild; <k-token docs pass through; a whole-doc duplicate
    survives as ''."""
    from log_parser_mind_spark.operators.curate import dedup_ngram_spans

    rows = [
        (0, "a b c d e f"),            # canonical copy — untouched
        (1, "x y a b c d e f z w"),    # interior c,d removed; edges survive
        (2, "a b c d e f"),            # exact whole-doc dup → ''
        (3, "p q"),                    # n < k → untouched
        (4, None),                     # NULL → ''
        (5, "Q A B C D E F R"),        # case-folded match, original case kept
        (6, "m  n\tq"),                # whitespace normalized by rebuild
        (7, "t t t t t t"),            # in-doc repetition collapses interior
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in dedup_ngram_spans(docs, k=3).collect()}
    assert got == {
        0: "a b c d e f",
        1: "x y a b e f z w",
        2: "",
        3: "p q",
        4: "",
        5: "Q A B E F R",
        6: "m n q",
        7: "t t t",
    }
    with pytest.raises(ValueError):
        dedup_ngram_spans(docs, k=1)


def test_dedup_ngram_spans_skew_safe_plan(spark, sf_dir):
    """Same skew contract as dedup_paragraphs: the canonical pass is a hash
    aggregate with map-side combine (a billion-fold repeated span is absorbed
    before the exchange), never a Window over the gram key, and no Python
    stage anywhere."""
    import os

    from log_parser_mind_spark.operators.curate import dedup_ngram_spans

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    df = dedup_ngram_spans(docs, k=8)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "FlatMapGroupsInPandas" not in plan and "BatchEvalPython" not in plan


def test_ngram_lm_scores_hand_computed(spark):
    """Self-trained bigram LM with Laplace smoothing: hand-computed NLL/ppl;
    <2-token docs carry NULL scores with n_bigrams 0; unseen contexts under a
    foreign ref score 1/V."""
    import math

    from log_parser_mind_spark.operators.curate import ngram_lm_scores

    rows = [(0, "a b a b"), (1, "a b"), (2, "z"), (3, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in ngram_lm_scores(docs).collect()}
    # counts: (a,b)=3 (b,a)=1; ctx a=3 b=1; V=3
    nll_ab = -math.log(4 / 6)
    nll_ba = -math.log(2 / 4)
    avg0 = (2 * nll_ab + nll_ba) / 3
    assert got[0].n_bigrams == 3
    assert got[0].avg_nll == pytest.approx(avg0, abs=1e-6)
    assert got[0].ppl == pytest.approx(math.exp(avg0), abs=1e-6)
    assert got[1].n_bigrams == 1
    assert got[1].avg_nll == pytest.approx(nll_ab, abs=1e-6)
    assert got[2].n_bigrams == 0 and got[2].avg_nll is None and got[2].ppl is None
    assert got[3].n_bigrams == 0 and got[3].avg_nll is None

    ref = docs.filter("doc_id = 0")  # vocab {a,b}, V=2; ctx z unseen
    foreign = spark.createDataFrame([(9, "z b")], "doc_id long, text string")
    scored = {r.doc_id: r for r in ngram_lm_scores(foreign, ref=ref).collect()}
    assert scored[9].avg_nll == pytest.approx(math.log(2), abs=1e-6)


def test_ngram_lm_scores_all_jvm_plan(spark, sf_dir):
    """LM scoring is pure expression work: no Python stages, no Window; the
    vocabulary scalar rides as a broadcast one-row aggregate (no driver-side
    count during composition)."""
    import os

    from log_parser_mind_spark.operators.curate import ngram_lm_scores

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    df = ngram_lm_scores(docs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "BatchEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row vocab scalar


def test_dedup_ngram_spans_null_id_rows_are_inert(spark):
    """A NULL-id row must neither claim canonical status (which would delete
    its spans from every doc with no surviving copy) nor be deduped itself —
    it passes through untouched, and the non-null copies still dedup among
    themselves."""
    from log_parser_mind_spark.operators.curate import dedup_ngram_spans

    rows = [
        (None, "a b c d e f"),
        (1, "a b c d e f"),   # canonical among NON-NULL rows
        (2, "a b c d e f"),   # dup of doc 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in dedup_ngram_spans(docs, k=3).collect()}
    assert got == {None: "a b c d e f", 1: "a b c d e f", 2: ""}


def test_ngram_lm_scores_empty_ref_yields_null_not_perfect(spark):
    """A token-free reference must produce NULL scores (no model), never the
    IEEE-division artifact ppl = 0.0 that would rank every doc as perfect
    quality."""
    from log_parser_mind_spark.operators.curate import ngram_lm_scores

    docs = spark.createDataFrame([(0, "a b c"), (1, "x y")], "doc_id long, text string")
    empty_ref = docs.filter("doc_id < 0")
    got = {r.doc_id: r for r in ngram_lm_scores(docs, ref=empty_ref).collect()}
    assert got[0].n_bigrams == 2  # bigrams still counted
    for r in got.values():
        assert r.avg_nll is None and r.ppl is None


def test_exact_contamination_verbatim_span_and_filter(spark):
    """Exact n-gram contamination: a verbatim benchmark span inside an
    otherwise-unique doc is caught (the case Jaccard decontamination
    dilutes away), identity is case-folded, sub-n docs and NULL text report
    zero grams, min_hits raises the bar, and the filter wrapper drops
    exactly the flagged docs."""
    from log_parser_mind_spark.operators import curate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (0, "my unique page content includes Beta Gamma Delta Epsilon pasted verbatim here"),
            (1, "completely unrelated words about distributed query engines instead"),
            (2, "tiny doc"),
            (3, None),
            (4, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    rep = {
        r.doc_id: r
        for r in curate.exact_contamination(corpus, bench, n=4).collect()
    }
    assert len(rep) == 5
    # doc 0: 12 tokens -> 9 distinct 4-grams, exactly ONE inside the bench
    assert (rep[0].n_grams, rep[0].n_hit_grams, rep[0].contaminated) == (9, 1, True)
    assert rep[0].overlap_frac == round(1 / 9, 6)
    assert (rep[1].n_hit_grams, rep[1].contaminated) == (0, False)
    for d in (2, 3):  # under n tokens: no grams, never flagged
        assert (rep[d].n_grams, rep[d].overlap_frac, rep[d].contaminated) == (0, 0.0, False)
    assert (rep[4].n_hit_grams, rep[4].overlap_frac, rep[4].contaminated) == (5, 1.0, True)

    strict = {
        r.doc_id: r.contaminated
        for r in curate.exact_contamination(corpus, bench, n=4, min_hits=2).collect()
    }
    assert strict[0] is False and strict[4] is True

    clean = curate.exact_decontaminate(corpus, bench, n=4)
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2, 3]

    with pytest.raises(ValueError, match="n must be"):
        curate.exact_contamination(corpus, bench, n=0)
    with pytest.raises(ValueError, match="min_hits"):
        curate.exact_contamination(corpus, bench, min_hits=0)


def test_sft_examples_clipping_and_rendering(spark):
    """SFT reshape semantics: maximal whole-turn suffix within the budget
    (an overflowing turn drops with everything older — no gaps), NULL text
    renders as 'role: ' and counts 0 tokens, first-turn assistant gets an
    empty context, target rides verbatim, and the result is partitioning-
    invariant."""
    from log_parser_mind_spark.operators.prep import sft_examples

    rows = [
        ("c", 0, "user", "hello there"),      # 2 tokens
        ("c", 1, "assistant", "hi"),           # 1
        ("c", 2, "user", "a b c d e"),        # 5
        ("c", 3, "user", None),                # 0
        ("c", 4, "assistant", "answer text"),
        ("d", 0, "assistant", "first"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")

    got = {
        (r.conv_id, r.target_turn_idx): r
        for r in sft_examples(df, context_budget_tokens=6).collect()
    }
    assert set(got) == {("c", 1), ("c", 4), ("d", 0)}
    r = got[("c", 4)]
    # suffix walk: t3(0) + t2(5) + t1(1) = 6 <= 6; adding t0 would hit 8
    assert r.context == "assistant: hi\nuser: a b c d e\nuser: "
    assert (r.n_context_turns, r.n_context_tokens) == (3, 6)
    assert r.target == "answer text"
    assert got[("c", 1)].context == "user: hello there"
    assert (got[("d", 0)].context, got[("d", 0)].n_context_turns) == ("", 0)

    # whole-turn rule: budget 4 fits t3(0) but t2(5) overflows -> t1/t0 are
    # ALSO dropped even though t1 alone would fit (context is a contiguous
    # suffix, never a gapped selection)
    tight = {
        (r.conv_id, r.target_turn_idx): r
        for r in sft_examples(df, context_budget_tokens=4).collect()
    }
    r4 = tight[("c", 4)]
    assert r4.context == "user: " and (r4.n_context_turns, r4.n_context_tokens) == (1, 0)

    # partitioning invariance
    again = {
        (r.conv_id, r.target_turn_idx): (r.context, r.n_context_turns, r.n_context_tokens)
        for r in sft_examples(df.repartition(7), context_budget_tokens=6).collect()
    }
    assert again == {
        k: (v.context, v.n_context_turns, v.n_context_tokens) for k, v in got.items()
    }

    with pytest.raises(ValueError, match="context_budget_tokens"):
        sft_examples(df, context_budget_tokens=0)


def test_sft_examples_compose_with_packing(spark):
    """Composition seam: SFT rows flow into pack_corpus through the
    documented n_tokens hook (context+target whitespace tokens) — every
    example lands in exactly one (shard, pack) and the grid bound holds."""
    from log_parser_mind_spark.functions.text import lower_tokens
    from log_parser_mind_spark.operators.prep import sft_examples
    from log_parser_mind_spark.operators.sample import pack_corpus

    rows = [
        (c, i, "assistant" if i % 2 else "user", f"w{i} " * (i % 5 + 1))
        for c in ("a", "b", "c")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    ex = sft_examples(df, context_budget_tokens=6)
    n_ex = ex.count()
    keyed = ex.select(
        F.abs(F.xxhash64("conv_id", "target_turn_idx")).alias("doc_id"),
        (F.col("n_context_tokens") + F.size(lower_tokens(F.col("target"))).cast("long")).alias("n_tokens"),
        F.concat_ws("\n", "context", "target").alias("text"),
    )
    packs = pack_corpus(keyed, budget_tokens=16, n_shards=2).collect()
    assert len(packs) == n_ex and len({r.doc_id for r in packs}) == n_ex
    agg = {}
    for r in packs:
        s, m = agg.get((r.shard, r.pack_id), (0, 0))
        agg[(r.shard, r.pack_id)] = (s + r.n_tokens, max(m, r.n_tokens))
    for s, m in agg.values():
        assert s - m < 16  # budget-grid bound: overflow <= last example


def test_preference_pairs_selection_semantics(spark):
    """DPO pair construction: prompts that mask to the same template group
    across conversations; chosen/rejected by rounded quality score under
    the total (score, conv, turn) order; singleton and zero-gap groups emit
    nothing; assistant turns not directly preceded by a user turn never
    become candidates; result is partitioning-invariant."""
    from log_parser_mind_spark.operators.prep import preference_pairs

    good = "the answer is that these numbers add to a larger value overall"
    bad = "!!! ??? !!!"
    mid = "it is a sum of the values"
    rows = [
        # conv a: prompt "add 42 apples" -> masks to "add <*> apples"
        ("a", 0, "user", "add 42 apples"),
        ("a", 1, "assistant", good),
        # conv b: same masked prompt, worse answer
        ("b", 0, "user", "add 7 apples"),
        ("b", 1, "assistant", bad),
        # conv c: same masked prompt, middling answer
        ("c", 0, "user", "add 99 apples"),
        ("c", 1, "assistant", mid),
        # conv d: assistant preceded by assistant -> not a candidate
        ("d", 0, "assistant", "orphan lead"),
        ("d", 1, "assistant", "follows assistant"),
        # conv e: singleton prompt group -> no pair
        ("e", 0, "user", "completely unique prompt words"),
        ("e", 1, "assistant", "lonely answer"),
        # conv f+g: identical prompts AND identical answers -> zero gap
        ("f", 0, "user", "repeat 5 times"),
        ("f", 1, "assistant", "same text"),
        ("g", 0, "user", "repeat 8 times"),
        ("g", 1, "assistant", "same text"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = preference_pairs(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r.prompt_sig == "add <*> apples"
    assert r.n_candidates == 3
    assert (r.chosen_conv, r.chosen_text) == ("a", good)
    assert (r.rejected_conv, r.rejected_text) == ("b", bad)
    assert r.chosen_score > r.rejected_score

    again = preference_pairs(df.repartition(7)).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_candidates"):
        preference_pairs(df, min_candidates=1)


def test_preference_pairs_tiebreak_total_order(spark):
    """Equal rounded scores fall back to the lexicographic (conv, turn)
    tiebreak — chosen takes the greatest, rejected the least — and the
    strict-gap filter compares the SAME rounded values the output reports."""
    from log_parser_mind_spark.operators.prep import preference_pairs

    # Same answer text => identical scores; differing third answer gives gap.
    rows = [
        ("a", 0, "user", "sum 1 up"),
        ("a", 1, "assistant", "equal words here"),
        ("b", 0, "user", "sum 2 up"),
        ("b", 1, "assistant", "equal words here"),
        ("c", 0, "user", "sum 3 up"),
        ("c", 1, "assistant", "!!!"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    r = preference_pairs(df).collect()[0]
    # Both 'equal words here' rows outscore '!!!'; chosen must be the
    # greater (conv, turn) among the tied maxima -> conv b.
    assert r.chosen_conv == "b" and r.rejected_conv == "c"


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_index_reuse_roundtrip_and_guard(spark, tmp_path):
    """The incremental-ingestion contract: the index is built ONCE from the
    base corpus, survives a parquet round-trip, admits two successive
    increments with results identical to the from-scratch cross-corpus
    path, refuses a geometry mismatch, and an empty index admits
    everything."""
    base = _mk_docs(spark, [
        (1, "alpha beta gamma delta"),
        (2, "epsilon zeta eta theta"),
        (3, "iota kappa lambda mu"),
    ])
    inc1 = _mk_docs(spark, [
        (100, "alpha beta gamma delta"),      # exact dup of 1 -> dropped
        (101, "totally new words here"),       # novel -> kept
    ])
    inc2 = _mk_docs(spark, [
        (200, "epsilon zeta eta theta"),       # dup of 2 -> dropped
        (201, "alpha beta gamma delta"),       # dup of 1 -> dropped
        (202, "other fresh content entirely"), # novel -> kept
    ])
    cfg = dict(k=32, bands=32, shingle_n=1, threshold=0.7)
    p = str(tmp_path / "idx")
    dedup.build_minhash_index(base, k=32, bands=32, shingle_n=1).write.parquet(p)
    idx = spark.read.parquet(p)

    for inc in (inc1, inc2):
        audit = {r.id: (r.n_base_dups, r.kept)
                 for r in dedup.dedup_against_index(inc, idx, base, **cfg).collect()}
        scratch = dedup.cross_corpus_near_dups(
            inc, base, threshold=0.7, k=32, bands=32, shingle_n=1
        )
        dup_ids = {r.corpus_id for r in scratch.collect()}
        for r_id, (n, kept) in audit.items():
            assert kept == (r_id not in dup_ids)
    a1 = {r.id: r.kept for r in dedup.dedup_against_index(inc1, idx, base, **cfg).collect()}
    assert a1 == {100: False, 101: True}
    a2 = {r.id: r.kept for r in dedup.dedup_against_index(inc2, idx, base, **cfg).collect()}
    assert a2 == {200: False, 201: False, 202: True}

    with pytest.raises(ValueError, match="geometry"):
        dedup.incremental_near_dups(inc1, idx, base, k=16, bands=8, shingle_n=1).count()

    empty_idx = dedup.build_minhash_index(base.limit(0), k=32, bands=32, shingle_n=1)
    ae = {r.id: r.kept for r in dedup.dedup_against_index(inc1, empty_idx, base, **cfg).collect()}
    assert ae == {100: True, 101: True}


def test_incremental_index_near_dup_threshold(spark):
    """Near (not exact) duplicates cross the index too: 4/5 shared unigrams
    = Jaccard 0.667 < 0.7 stays, 5/6 = 0.714 >= 0.7 drops — the exact-verify
    stage decides, not the band collision."""
    base = _mk_docs(spark, [(1, "a b c d e f")])          # 6 distinct shingles
    inc = _mk_docs(spark, [
        (10, "a b c d e g"),   # inter 5, union 7 -> 0.714... >= 0.7 drop
        (11, "a b c d x y"),   # inter 4, union 8 -> 0.5 keep
    ])
    idx = dedup.build_minhash_index(base, k=32, bands=32, shingle_n=1)
    got = {r.id: r.kept for r in dedup.dedup_against_index(
        inc, idx, base, threshold=0.7, k=32, bands=32, shingle_n=1).collect()}
    assert got == {10: False, 11: True}


def test_extend_minhash_index_catches_prior_increment(spark):
    """Index maintenance closes the loop: after inc1's survivors are folded
    in (geometry inherited FROM the index), a doc in inc2 that near-dups an
    inc1-admitted doc is caught — the original index alone would admit it.
    Extending an empty index raises (no geometry to inherit)."""
    base = _mk_docs(spark, [(1, "alpha beta gamma delta")])
    inc1 = _mk_docs(spark, [
        (100, "alpha beta gamma delta"),    # dup of base -> dropped
        (101, "totally new words here"),     # novel -> admitted
    ])
    inc2 = _mk_docs(spark, [
        (200, "totally new words here"),     # dup of ADMITTED 101
        (201, "yet another fresh doc"),
    ])
    cfg = dict(k=32, bands=32, shingle_n=1, threshold=0.7)
    idx = dedup.build_minhash_index(base, k=32, bands=32, shingle_n=1)

    a1 = {r.id: r.kept for r in dedup.dedup_against_index(inc1, idx, base, **cfg).collect()}
    assert a1 == {100: False, 101: True}
    admitted = inc1.filter(F.col("doc_id") == 101)

    # Without maintenance, 200 sails through.
    stale = {r.id: r.kept for r in dedup.dedup_against_index(inc2, idx, base, **cfg).collect()}
    assert stale == {200: True, 201: True}

    idx2 = dedup.extend_minhash_index(idx, admitted)
    base2 = base.unionByName(admitted)
    fresh = {r.id: r.kept for r in dedup.dedup_against_index(inc2, idx2, base2, **cfg).collect()}
    assert fresh == {200: False, 201: True}

    empty = dedup.build_minhash_index(base.limit(0), k=32, bands=32, shingle_n=1)
    with pytest.raises(ValueError, match="EMPTY index"):
        dedup.extend_minhash_index(empty, admitted)


def test_best_of_n_selection_and_boundary_ties(spark):
    """best-of-n: top-n per masked prompt by score with the (score DESC,
    conv ASC, turn ASC) total order — a tie AT the rank-n boundary keeps
    the earlier transcript (exactly what top_per_group's ascending key
    tiebreak implements); groups smaller than n survive whole; no strict
    gap requirement (singleton groups emit their lone winner)."""
    from log_parser_mind_spark.operators.prep import best_of_n

    rows = [
        ("a", 0, "user", "add 1 items"), ("a", 1, "assistant", "same answer text"),
        ("b", 0, "user", "add 2 items"), ("b", 1, "assistant", "same answer text"),
        ("c", 0, "user", "add 3 items"), ("c", 1, "assistant", "same answer text"),
        ("d", 0, "user", "add 4 items"), ("d", 1, "assistant", "!!!"),
        ("e", 0, "user", "solo prompt here"), ("e", 1, "assistant", "alone"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    got = [(r.prompt_sig, r.rank, r.conv) for r in
           best_of_n(df, n=2).orderBy("prompt_sig", "rank").collect()]
    # three tied top scores: ascending conv keeps a then b; d ("!!!") never ranks
    assert got == [
        ("add <*> items", 1, "a"),
        ("add <*> items", 2, "b"),
        ("solo prompt here", 1, "e"),
    ]

    whole = best_of_n(df, n=10)
    assert whole.filter(F.col("prompt_sig") == "add <*> items").count() == 4

    again = [(r.prompt_sig, r.rank, r.conv) for r in
             best_of_n(df.repartition(5), n=2).orderBy("prompt_sig", "rank").collect()]
    assert again == got

    with pytest.raises(ValueError, match="n must be"):
        best_of_n(df, n=0)


def test_near_dup_keep_best_semantics(spark):
    """Quality-aware survivor: exactly one kept per component, the best
    scorer wins (ties: min id), singletons keep, and the decision DIFFERS
    from keep-smallest exactly when the best doc is not the smallest id —
    the refinement the op exists for."""
    from log_parser_mind_spark.operators.curate import near_dup_keep_best

    docs = spark.createDataFrame(
        [(1, 0.3), (2, 0.9), (3, 0.5), (5, 0.4), (6, 0.4), (9, 0.2)],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    out = {r.doc_id: (r.component_id, r.kept) for r in
           near_dup_keep_best(docs, pairs, "q").collect()}
    assert out == {
        1: (1, False), 2: (1, True), 3: (1, False),   # best (0.9) wins, not min id
        5: (5, True), 6: (5, False),                   # tie -> min id
        9: (9, True),                                  # singleton
    }
    per_comp = {}
    for _id, (comp, kept) in out.items():
        per_comp[comp] = per_comp.get(comp, 0) + int(kept)
    assert all(v == 1 for v in per_comp.values())

    again = {r.doc_id: (r.component_id, r.kept) for r in
             near_dup_keep_best(docs.repartition(5), pairs, "q").collect()}
    assert again == out


def test_temperature_mixture_fraction_math(spark):
    """Temperature shares: alpha=1 reproduces natural proportions (every
    fraction = target/total); alpha=0 splits the budget uniformly across
    sources; small sources clamp at 1; validation rejects negatives."""
    from log_parser_mind_spark.operators.sample import temperature_mixture

    rows = [(i, "big", 10) for i in range(900)] + [
        (1000 + i, "small", 10) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")

    f1 = {r.source: r.keep_fraction for r in
          temperature_mixture(df, 1.0, 5000).select("source", "keep_fraction").distinct().collect()}
    assert f1 == {"big": 0.5, "small": 0.5}  # alpha=1: fraction = target/total mass

    f0 = {r.source: r.keep_fraction for r in
          temperature_mixture(df, 0.0, 5000).select("source", "keep_fraction").distinct().collect()}
    # alpha=0: each source gets 2500 target tokens; big 2500/9000, small clamps 1.0
    assert f0 == {"big": round(2500 / 9000, 6), "small": 1.0}

    out = temperature_mixture(df, 0.5, 5000, salt=3)
    again = temperature_mixture(df.repartition(7), 0.5, 5000, salt=3)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))

    with pytest.raises(ValueError, match="alpha"):
        temperature_mixture(df, -0.1, 100)
    with pytest.raises(ValueError, match="target_tokens"):
        temperature_mixture(df, 0.5, -1)


def test_corpus_diff_statuses(spark):
    """Snapshot diff: added/removed/changed/unchanged per id; NULL text
    compares like a value (NULL→NULL unchanged, NULL→text changed); the
    join moves only (id, hash) — text never rides the exchange."""
    from log_parser_mind_spark.operators.curate import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None), (6, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (5, "e"), (4, None), (6, "now set")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "unchanged", 5: "added", 6: "changed"}


def test_ninth_wave_null_and_string_id_contracts(spark):
    """Review regressions: (a) NULL-source docs stay in temperature_mixture's
    decision table as a real group (eqNullSafe join); (b) string doc ids
    keep per-singleton components in near_dup_keep_best (no long cast
    collapsing singletons into one NULL component)."""
    from log_parser_mind_spark.operators.curate import near_dup_keep_best
    from log_parser_mind_spark.operators.sample import temperature_mixture

    rows = [(i, "a" if i < 40 else None, 10) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = temperature_mixture(df, 0.5, 300)
    assert out.count() == 60  # NULL-source rows present, not dropped
    fr = {r.source: r.keep_fraction
          for r in out.select("source", "keep_fraction").distinct().collect()}
    assert set(fr) == {"a", None} and all(v is not None for v in fr.values())

    docs = spark.createDataFrame(
        [("x", 0.5), ("y", 0.9), ("z", 0.2), ("solo1", 0.1), ("solo2", 0.1)],
        "doc_id string, q double",
    )
    pairs = spark.createDataFrame([("x", "y")], "id_a string, id_b string")
    res = near_dup_keep_best(docs, pairs, "q", id_col="doc_id")
    got = {r.doc_id: (r.component_id, r.kept) for r in res.collect()}
    res.mapped.unpersist()
    assert got == {"x": ("x", False), "y": ("x", True), "z": ("z", True),
                   "solo1": ("solo1", True), "solo2": ("solo2", True)}
