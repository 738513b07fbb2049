"""End-to-end training-corpus curation — the composed job a large-scale
training-data pipeline actually runs over raw documents, built entirely from
the suite's proven operators:

  stage 1 EXACT DEDUP    keep min(id) per normalized text (dedup.exact_dedup:
                         the shuffle moves 8-byte hashes, not documents)
  stage 2 NEAR-DUP DROP  pluggable strategy (``near_dup=``): minhash-LSH
                         candidates → exact-Jaccard verify ≥ t (default;
                         candidates pruned BEFORE the shingle self-join), or
                         simhash hamming ≤ k band join, or embedding-cosine
                         via banded hyperplane LSH + exact verify → drop
                         every doc with a verified near-dup of smaller
                         id. Keep-smallest pair rule: deterministic with no
                         union-find/iteration; a chain a<b<c with edges
                         (a,b),(b,c) keeps only a — more aggressive than
                         connected-component-min when the chain is not a
                         clique, which is the safe direction for dedup.
  stage 3 QUALITY GATE   tokens materialized ONCE (text.with_tokens — one
                         regex split in the whole plan), then language-ID +
                         quality score; gate on both.
  stage 4 ANNOTATE       per-doc lang / quality / token count survive into
                         the curated output for downstream sampling.

Every stage is JVM-side; the only shuffles are the dedup groupBys/joins each
operator already bounds (Σ bucket², never all-pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import text as tx
from . import dedup


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    minhash_k: int = 32,
    minhash_bands: int = 8,
    shingle_n: int = 3,
    min_quality: float = 0.0,
    persist_intermediate: bool = True,
    near_dup: str = "jaccard",
    simhash_k: int = 3,
    simhash_bands: int = 4,
    embedding_dim: int = 64,
    embedding_threshold: float = 0.9,
    model: tuple[list[float], float] | None = None,
    model_buckets: int = 128,
    min_model_score: float = 0.5,
) -> DataFrame:
    """Curated corpus: input columns plus (lang, quality, n_tokens) — and
    ``model_score`` when a trained model gates the funnel. The result
    carries ``.survivors``, the exact-dedup survivors (persisted unless
    ``persist_intermediate=False``); long-lived sessions unpersist it
    after consuming the result.

    ``model`` = (weights, bias) from ``classifier.train_logreg`` adds a
    FOURTH stage after the heuristic quality gate: hashed-bag features are
    built from the funnel's already-materialized tokens (no second regex
    pass), scored with the stateless sigmoid projection, and docs below
    ``min_model_score`` drop. Token-less docs have no features and drop
    with the model stage enabled (nothing to score — and nothing to train
    on). ``model_buckets`` MUST equal the n_buckets the model was trained
    with (the weight vector's length is checked — a silent mismatch would
    score garbage).

    Two LSH regimes, and the difference is THE scale decision:

      SCALE (the defaults — k=32, bands=8, rows_per_band=4, 3-shingles):
        band collision probability is the standard S-curve 1-(1-s⁴)⁸ — at
        s=0.3 only 0.6% of dissimilar pairs become candidates, so the
        candidate set tracks true near-dup density. This is the only shape
        that survives a saturated large corpus.
      PROVABLE (k=bands=32, rows_per_band=1, unigrams — what the
        `curated_corpus` contract query passes): per-band collision
        probability equals the raw similarity itself, so the miss probability
        at s=0.7 is 0.3³² ≈ 2e-17 and LSH→verify is provably EQUAL to the
        exhaustive oracle — but every weakly-similar pair floods the
        candidate set (1-(1-0.3)³² ≈ 1 at s=0.3), which measured effectively
        all-pairs on a 16×-replicated 80k-doc notch. Correctness
        configuration for oracle checks at small SF; never the 100 TB one."""
    if near_dup not in ("jaccard", "simhash", "embedding"):
        # Fail before stage 1 registers a persist() cache entry.
        raise ValueError(f"near_dup must be jaccard|simhash|embedding, got {near_dup!r}")
    if model is not None and len(model[0]) != model_buckets:
        raise ValueError(
            f"model has {len(model[0])} weights but model_buckets={model_buckets} "
            "— the scoring buckets must match the training buckets"
        )
    exact = dedup.exact_dedup(docs, id_col, text_col)
    # Two plans over the exact-dedup survivors. Under AQE (session.py)
    # Spark 4.1 reuses no exchange that has a cached relation beneath it,
    # so one query should read a persisted frame at most once when
    # exchanges sit above it. The near-dup branch reads its input ~15 times
    # in one write, and over the persisted survivors each read re-ran the
    # shingle explode and MinHash aggregate. It runs instead on ``near``,
    # an unpersisted plan whose repeated exchanges AQE reuses (curate_docs,
    # 100 documents: 15 cache reads -> 1, 0 reused exchanges -> 9, 51
    # Spark jobs -> 26 per write). ``near`` joins on keep_id directly:
    # spelled like ``survivors``, a docs frame of just (id, text) would
    # make it the cached plan again. The persisted ``survivors`` feeds only
    # the drop and the quality gate; without it Catalyst pushes both joins
    # below read_table's round-robin scan floor, and the same rows are
    # written as 4 files instead of 1.
    survivors = docs.join(exact.select(F.col("keep_id").alias(id_col)), id_col, "left_semi")
    if persist_intermediate:
        survivors = survivors.persist()
    near = docs.select(id_col, text_col).join(
        exact, F.col(id_col) == F.col("keep_id"), "left_semi"
    )

    # Stage-2 strategy is pluggable — all three emit (id_a < id_b) pairs and
    # share the keep-smallest drop rule, so they swap without changing the
    # funnel's semantics, only its notion of "near":
    #   jaccard   — shingle-overlap (the default; catches edits/insertions)
    #   simhash   — hamming ≤ k over 64-bit token fingerprints (cheapest:
    #               one groupBy + a 4-band join of 3-long rows; catches
    #               small token-multiset changes)
    #   embedding — cosine over hashing-trick vectors via banded hyperplane
    #               LSH + exact verify (catches token-frequency similarity
    #               regardless of order; swap in a learned embedder via
    #               operators/embed for semantic paraphrases)
    if near_dup == "jaccard":
        cand = dedup.minhash_lsh_candidates(
            near, id_col, text_col, k=minhash_k, bands=minhash_bands, shingle_n=shingle_n
        )
        verified = dedup.ngram_jaccard_pairs(
            near, id_col, text_col,
            n=shingle_n, threshold=jaccard_threshold, candidates=cand,
        )
    elif near_dup == "simhash":
        verified = dedup.simhash_near_dup_pairs(
            near, id_col, text_col, k=simhash_k, bands=simhash_bands
        )
    elif near_dup == "embedding":
        from .embed import hashing_embedding_table

        emb = hashing_embedding_table(near, id_col=id_col, text_col=text_col,
                                      dim=embedding_dim)
        verified = dedup.embedding_near_dups(
            emb, id_col=id_col, threshold=embedding_threshold, dim=embedding_dim
        )
    else:  # pragma: no cover — rejected above before any plan is built
        raise AssertionError(near_dup)
    near_dup_drop = verified.select(F.col("id_b").alias(id_col)).distinct()
    t = tx.with_tokens(survivors.join(near_dup_drop, id_col, "left_anti"), text_col)
    t = (
        t.withColumn("lang", tx.lang_id_from(F.col("tokens")))
        .withColumn("quality", tx.quality_score_from(F.col("tokens"), F.col(text_col)))
        .withColumn("n_tokens", F.size("tokens"))
    )
    out = t.filter(F.col("quality") >= min_quality)
    if model is not None:
        from .classifier import score_logreg, token_bucket_features

        w, b = model
        feats = token_bucket_features(
            out, model_buckets, id_col=id_col, tokens_col="tokens"
        )
        # Alias BEFORE the join: the funnel input may legitimately carry a
        # 'score' column of its own, and joining one in would make the
        # filter's reference ambiguous (hard AnalysisException).
        scores = score_logreg(feats, w, b).select(
            id_col, F.col("score").alias("model_score")
        )
        out = out.join(scores, id_col).filter(F.col("model_score") >= min_model_score)
    out = out.drop("tokens")
    out.survivors = survivors  # unpersist handle — see the docstring
    return out


def curation_report(docs: DataFrame, curated: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One-row funnel report (input vs survivors, drop fraction) — cheap
    enough to run alongside the curation job itself."""
    n_in = docs.select(F.count(F.lit(1)).alias("n_input"))
    n_out = curated.select(
        F.count(F.lit(1)).alias("n_curated"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return n_in.crossJoin(n_out).select(
        "n_input",
        "n_curated",
        F.round(1 - F.col("n_curated") / F.col("n_input"), 6).alias("drop_fraction"),
        "avg_quality",
        "total_tokens",
    )


def decontaminate(
    corpus: DataFrame,
    blocklist: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    minhash_k: int = 32,
    minhash_bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Drop every corpus doc within ``threshold`` shingle-Jaccard of ANY
    blocklist doc (dedup.cross_corpus_near_dups) — benchmark
    decontamination for a training corpus. Exact copies are Jaccard 1.0, so
    a single threshold covers verbatim and near-verbatim contamination.
    Returns the surviving corpus rows unchanged."""
    dirty = (
        dedup.cross_corpus_near_dups(
            corpus, blocklist, id_col, text_col,
            threshold=threshold, k=minhash_k, bands=minhash_bands, shingle_n=shingle_n,
        )
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    return corpus.join(dirty, id_col, "left_anti")


def distinct_gram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int, extra_cols: tuple = ()
) -> DataFrame:
    """(_id, [extra_cols...,] _gh: array<bigint>) — per-row DISTINCT xxhash64
    word-n-gram hashes over the shared case-folded tokenizer. A pure
    projection (no shuffle, no state), so it is legal on BATCH and STREAMING
    frames alike — the one gram-identity definition shared by
    exact_contamination and the streaming ingestion alerts (the two must
    never drift, or a doc could be 'clean' at ingestion and 'contaminated'
    in the batch audit). ``extra_cols`` pass through untouched (the
    streaming path threads its event-time column for the watermark)."""
    # tokens in their OWN projection: word_ngrams_expr references the array
    # size + n slices per gram and Catalyst does not CSE the regex-split
    # chain (functions/text.py:35-40 trap).
    t = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in extra_cols],
        tx.lower_tokens(F.col(text_col)).alias("_t"),
    )
    return t.select(
        "_id",
        *extra_cols,
        F.array_distinct(
            F.transform(tx.word_ngrams_expr(F.col("_t"), n), lambda g: F.xxhash64(g))
        ).alias("_gh"),
    )


def blocklist_gram_set(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """One-column (_h) frame of the blocklist's DISTINCT gram hashes — the
    broadcast side of both the batch audit (exact_contamination) and the
    streaming ingestion alerts. ONE derivation so the two paths' hit
    definitions cannot drift."""
    return (
        distinct_gram_hashes(df, id_col, text_col, n)
        .select(F.explode("_gh").alias("_h"))
        .distinct()
    )


def exact_contamination(
    corpus: DataFrame,
    blocklist: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """GPT-3/PaLM-style EXACT n-gram contamination report: for every corpus
    doc, how many of its distinct case-folded word ``n``-grams also occur
    anywhere in the ``blocklist`` (benchmark) corpus. The complementary
    method to ``decontaminate``'s Jaccard LSH: the LSH path catches
    whole-document near-copies, this one catches a verbatim benchmark
    QUESTION pasted inside an otherwise-unique page — overlap that
    document-level Jaccard dilutes below any safe threshold. GPT-3 used
    13-grams with min_hits=1; FLAN/PaLM-era audits commonly report the
    overlap fraction too, so both come back:

      (id, n_grams, n_hit_grams, overlap_frac, contaminated)

    n_grams = distinct grams in the doc (0 for docs under ``n`` tokens —
    they cannot be flagged by this method; length-gate or use
    ``decontaminate`` for tiny docs), overlap_frac = hits/n_grams rounded
    6dp (0.0 when no grams), contaminated = n_hit_grams >= ``min_hits``.

    Scale shape: gram identity is xxhash64 of the space-joined gram, so
    only 8-byte keys move; per-doc DISTINCT is row-local
    (``array_distinct`` inside the row — never a corpus-wide distinct);
    the blocklist's gram set (benchmarks are MBs against a 100 TB corpus)
    is globally distinct'd then BROADCAST left-outer onto the corpus gram
    stream (explode_outer keeps gram-less docs as one NULL-gram row), and
    ONE groupBy(id) counts grams and hits together — the corpus is never
    self-joined, never shuffled by gram, and no corpus-sized frame is ever
    joined against another (the naive sizes⟕hits plan is a sort-merge join
    of two corpus-sized tables). Tokens via the suite's shared whitespace
    tokenizer (functions/text.lower_tokens).

    Reference analog: none — part of the training-data suite the brief
    adds."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    # explode_outer: a gram-less doc (under n tokens, NULL text) survives as
    # one NULL-hash row, so the single groupBy below reports it with
    # n_grams = 0 instead of dropping it.
    exploded = distinct_gram_hashes(corpus, id_col, text_col, n).select(
        "_id", F.explode_outer("_gh").alias("_h")
    )
    block_set = blocklist_gram_set(blocklist, id_col, text_col, n).withColumn(
        "_hit", F.lit(1)
    )
    per_doc = exploded.join(F.broadcast(block_set), "_h", "left").groupBy("_id").agg(
        F.count("_h").alias("n_grams"), F.count("_hit").alias("_hits")
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("_hits").cast("long").alias("n_hit_grams"),
        F.when(F.col("n_grams") > 0, F.round(F.col("_hits") / F.col("n_grams"), 6))
        .otherwise(F.lit(0.0))
        .alias("overlap_frac"),
        (F.col("_hits") >= min_hits).alias("contaminated"),
    )


def exact_decontaminate(
    corpus: DataFrame,
    blocklist: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Drop every corpus doc ``exact_contamination`` flags; surviving rows
    come back unchanged. Compose with ``decontaminate`` for both regimes
    (verbatim span + whole-doc near-copy) in one funnel."""
    dirty = (
        exact_contamination(corpus, blocklist, id_col, text_col, n, min_hits)
        .filter(F.col("contaminated"))
        .select(id_col)
    )
    return corpus.join(dirty, id_col, "left_anti")


def _regex_literal(sep: str) -> str:
    """Quote a literal separator for Java-regex F.split (Pattern.quote
    algorithm: \\Q...\\E with embedded \\E escaped) — without this, a caller
    passing sep='|' or '. ' would silently split on the regex reading and
    reassemble with the literal, mangling every document."""
    return "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def strip_boilerplate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_doc_frac: float = 0.05,
    min_docs: int | None = None,
) -> DataFrame:
    """C4/RefinedWeb-style boilerplate LINE removal: a line (``sep``-separated
    segment) appearing in ≥ ``min_docs`` distinct documents (default:
    ``min_doc_frac`` of the corpus) is navigation/footer/header noise — drop
    every occurrence, keep the remaining lines in their original order.
    Whitespace-normalized, case-folded line identity; a doc whose every line
    is boilerplate survives as an empty string (the row itself must not
    vanish — downstream joins key on it).

    Scale shape: posexplode(lines) → groupBy the 8-byte line HASH with
    map-side combine (the shuffle moves one row per DISTINCT line, keyed by
    xxhash64, never the line text) → join verdicts back on the hash →
    re-assemble per doc (array_sort on (pos, line) structs, one groupBy).
    The corpus-size divisor rides the plan as a broadcast one-row aggregate
    — no driver-side count() during composition. Three shuffles total, each
    bounded by |lines| or |distinct lines|; inherently a global-frequency
    pass, the cheapest correct shape for it."""
    from . import dedup

    line_key = F.xxhash64(dedup.normalized_text(F.col("line")))
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _regex_literal(sep))
        ).alias("pos", "line"),
    )
    freq = (
        lines.select(line_key.alias("lk"), "_id")
        .groupBy("lk")
        .agg(F.countDistinct("_id").alias("n_docs"))
    )
    total = docs.agg(F.countDistinct(id_col).alias("_total"))
    thresh = (
        F.lit(int(min_docs)).cast("long")
        if min_docs is not None
        else F.greatest(
            F.lit(2).cast("long"),
            F.ceil(F.col("_total") * F.lit(float(min_doc_frac))).cast("long"),
        )
    )
    boiler = (
        freq.crossJoin(F.broadcast(total))
        .filter(F.col("n_docs") >= thresh)
        .select("lk")
    )
    kept = lines.join(
        F.broadcast(boiler).withColumnRenamed("lk", "_blk"),
        line_key == F.col("_blk"),
        "left_anti",
    )
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("_clean")
    )
    return (
        docs.join(rebuilt, docs[id_col] == rebuilt["_id"], "left")
        .drop("_id")
        .withColumn(text_col, F.coalesce(F.col("_clean"), F.lit("")))
        .drop("_clean")
    )


def repetition_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition quality metrics (Rae et al. 2021, §A1.1; the
    same family Dolma/RefinedWeb filter on), per document:

      n_lines             non-blank lines (trim(line) <> '')
      dup_line_frac       fraction of non-blank lines whose exact text occurs
                          more than once in the doc (all occurrences counted)
      dup_line_char_frac  chars in those duplicated lines / chars in all
                          non-blank lines
      top_2gram_char_frac chars covered by the most frequent word 2-gram
                          (count × gram length) / length(text); gram chosen by
                          (count desc, gram length desc) — ties beyond that
                          have identical count×length, so the value is unique
      top_3gram_char_frac same for 3-grams

    Grams come from the suite's shared lowercase whitespace tokenizer
    (text.lower_tokens), joined with single spaces. Docs with no lines /
    too few tokens score 0 (never NULL). All ratios rounded to 6dp.

    Scale shape — the part that matters at 100 TB: every metric is
    PER-DOCUMENT, so nothing here shuffles. The naive relational form
    (explode lines → groupBy(doc, line) → groupBy(doc) → join back) moves
    every line of the corpus through two exchanges to compute a per-row
    statistic; instead each metric is a JVM higher-order expression over the
    row itself: duplicate lines via array_sort + adjacent-equality scan
    (O(L log L) per row), the mode n-gram via array_sort + a single
    run-length fold with an empty-string sentinel to flush the last run
    (grams are never empty — tokens are blank-filtered — so the sentinel
    cannot collide). The whole plan is Project over the scan: embarrassingly
    parallel, zero exchanges, survives any corpus size that scans.

    Each derived array is materialized in its OWN projection step
    (withColumn chain) — Catalyst does not CSE higher-order-function trees,
    so referencing an inlined sort/split N times would re-run it N times
    (the trap documented at functions/text.py:35-40).
    """
    from ..functions import text as tx

    text = F.coalesce(F.col(text_col), F.lit(""))

    def _top_gram_val(grams_sorted: Column) -> Column:
        # Run-length fold over the sorted grams; sentinel '' flushes the
        # final run. State: (prev gram, current run, best count, best len);
        # best updated on (count, len) lexicographic strictly-greater, so
        # among (count, len) ties the FIRST (lexicographically smallest)
        # gram wins — its count×len value is identical to any other tie.
        arr = F.concat(grams_sorted, F.array(F.lit("")))
        init = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("bcnt"),
            F.lit(0).cast("long").alias("blen"),
        )

        def step(acc: Column, g: Column) -> Column:
            same = g == acc["prev"]
            plen = F.length(acc["prev"])
            better = (acc["run"] > acc["bcnt"]) | (
                (acc["run"] == acc["bcnt"]) & (plen > acc["blen"])
            )
            return F.struct(
                g.alias("prev"),
                F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
                F.when(same, acc["bcnt"])
                .otherwise(F.when(better, acc["run"]).otherwise(acc["bcnt"]))
                .alias("bcnt"),
                F.when(same, acc["blen"])
                .otherwise(F.when(better, plen.cast("long")).otherwise(acc["blen"]))
                .alias("blen"),
            )

        return F.aggregate(arr, init, step, lambda acc: acc["bcnt"] * acc["blen"])

    with_arrays = (
        docs.withColumn(
            "_ls",
            F.array_sort(
                F.filter(F.split(text, "\n"), lambda l: F.trim(l) != "")
            ),
        )
        .withColumn("_toks", tx.lower_tokens(F.col(text_col)))
        .withColumn("_g2", F.array_sort(tx.word_ngrams_expr(F.col("_toks"), 2)))
        .withColumn("_g3", F.array_sort(tx.word_ngrams_expr(F.col("_toks"), 3)))
    )

    ls = F.col("_ls")
    n_lines = F.size(ls)
    # One fold computes (duplicated-line count, duplicated-line chars,
    # total line chars) over the sorted lines via adjacent equality:
    # an occurrence is "duplicated" iff it equals its sorted neighbor.
    idx = F.when(n_lines > 0, F.sequence(F.lit(1), n_lines)).otherwise(
        F.array().cast("array<int>")
    )
    dup_init = F.struct(
        F.lit(0).cast("long").alias("cnt"),
        F.lit(0).cast("long").alias("chars"),
        F.lit(0).cast("long").alias("total"),
    )

    def dup_step(acc: Column, i: Column) -> Column:
        cur = F.element_at(ls, i)
        is_dup = ((i > 1) & (cur == F.element_at(ls, i - 1))) | (
            (i < F.size(ls)) & (cur == F.element_at(ls, i + 1))
        )
        clen = F.length(cur).cast("long")
        return F.struct(
            (acc["cnt"] + F.when(is_dup, 1).otherwise(0)).alias("cnt"),
            (acc["chars"] + F.when(is_dup, clen).otherwise(F.lit(0).cast("long"))).alias(
                "chars"
            ),
            (acc["total"] + clen).alias("total"),
        )

    scored = with_arrays.withColumn("_dup", F.aggregate(idx, dup_init, dup_step))

    def ratio(num: Column, den: Column) -> Column:
        return F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6)

    text_len = F.length(text)
    return scored.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        ratio(F.col("_dup.cnt"), n_lines.cast("long")).alias("dup_line_frac"),
        ratio(F.col("_dup.chars"), F.col("_dup.total")).alias("dup_line_char_frac"),
        ratio(_top_gram_val(F.col("_g2")), text_len).alias("top_2gram_char_frac"),
        ratio(_top_gram_val(F.col("_g3")), text_len).alias("top_3gram_char_frac"),
    )


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """C4-style global SPAN dedup: a paragraph (``sep``-separated segment,
    whitespace-normalized + case-folded identity) that occurs anywhere else
    in the corpus keeps only its CANONICAL first occurrence — the minimum
    (doc, position) — and is dropped everywhere else; remaining paragraphs
    are reassembled in their original order. Differs from strip_boilerplate
    (which drops EVERY occurrence of a frequent line): here one copy always
    survives, so unique content is never lost, only repetition.

    Paragraphs whose normalized form is shorter than ``min_chars`` (default:
    only blanks) are exempt — they are document structure, not content, and
    deduping "Introduction" across a corpus would mangle every doc but one.
    Docs reduced to nothing survive as empty strings (rows must not vanish —
    downstream joins key on them).

    Scale shape — the dedup decision never moves paragraph TEXT at all: the
    exploded table carries only (id, pos, xxhash64(norm)), the canonical
    occurrence comes from ``groupBy(hash).agg(min(struct(doc, pos)))``
    (partial aggregation collapses a paragraph repeated a billion times
    map-side — the hot-key skew a WINDOW over the same key would funnel into
    one sorted partition never reaches the exchange), and the kept POSITIONS
    are folded back to one int-array row per doc. Document text crosses the
    wire exactly once, in the final rebuild join by doc id, where the kept
    paragraphs are re-extracted from the original text by position (one
    extra split per doc — CPU traded for the shuffle of every paragraph
    string, the right side of that trade at 100 TB)."""
    from . import dedup as dd

    lit_sep = _regex_literal(sep)
    text = F.coalesce(F.col(text_col), F.lit(""))
    # _norm materialized in its OWN projection: Catalyst does not CSE the
    # regex-normalization chain, and the next step references it twice
    # (length + hash) — the trap documented at functions/text.py:35-40.
    keyed = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.posexplode_outer(F.split(text, lit_sep)).alias("pos", "para"),
        )
        .withColumn("_norm", dd.normalized_text(F.col("para")))
        .select(
            "_id",
            "pos",
            (F.length("_norm") < min_chars).alias("_exempt"),
            F.xxhash64("_norm").alias("_pk"),
        )
    )
    canon = (
        keyed.filter(~F.col("_exempt"))
        .groupBy("_pk")
        .agg(F.min(F.struct(F.col("_id").alias("d"), F.col("pos").alias("p"))).alias("_first"))
    )
    kept_pos = (
        keyed.join(canon, on="_pk", how="left")
        .filter(
            F.col("_exempt")
            | ((F.col("_first.d") == F.col("_id")) & (F.col("_first.p") == F.col("pos")))
        )
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("_keep"))
    )
    # Split materialized once per row — a split inlined into the transform
    # lambda would re-split the document for EVERY kept position.
    rebuilt_text = F.array_join(
        F.transform(
            F.coalesce(F.col("_keep"), F.array().cast("array<int>")),
            lambda p: F.element_at(F.col("_parts"), p + 1),
        ),
        sep,
    )
    return (
        docs.join(kept_pos, docs[id_col] == kept_pos["_id"], "left")
        .drop("_id")
        .withColumn("_parts", F.split(text, lit_sep))
        .withColumn(text_col, rebuilt_text)
        .drop("_keep", "_parts")
    )


def length_profile(
    docs: DataFrame,
    by: str = "source",
    text_col: str = "text",
    exact: bool = True,
) -> DataFrame:
    """Per-group corpus length profile — the distribution report every
    curation round starts from: doc count, char/token means, and p50/p90/p99
    of character length.

    ``exact=True`` uses Spark's exact interpolated ``percentile`` (the same
    linear-interpolation definition as DuckDB's quantile_cont, so the
    contract oracle can recompute it); it buffers each GROUP's values, fine
    for the handful-of-sources grouping here. At 100 TB with high-cardinality
    groups pass ``exact=False`` for ``percentile_approx`` (t-digest-style
    sketch, mergeable map-side, bounded memory) — same columns, approximate
    values."""
    from ..functions.text import lower_tokens

    n_chars = F.length(F.coalesce(F.col(text_col), F.lit("")))
    n_tokens = F.size(lower_tokens(F.col(text_col)))
    pct = F.percentile if exact else (
        lambda c, p: F.percentile_approx(c, p, 10_000)
    )
    base = docs.select(F.col(by), n_chars.alias("_nc"), n_tokens.alias("_nt"))
    return base.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("_nc"), 6).alias("mean_chars"),
        F.round(F.avg("_nt"), 6).alias("mean_tokens"),
        F.round(pct(F.col("_nc"), F.lit(0.5)), 6).alias("p50_chars"),
        F.round(pct(F.col("_nc"), F.lit(0.9)), 6).alias("p90_chars"),
        F.round(pct(F.col("_nc"), F.lit(0.99)), 6).alias("p99_chars"),
    )


def top_ngrams(
    docs: DataFrame,
    n: int = 2,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide heavy hitters: the ``k`` most frequent word n-grams with
    total and document frequencies — the inspection query behind boilerplate
    thresholds, contamination probes, and tokenizer-vocab sanity checks.
    Deterministic tie-break: (count desc, n_docs desc, gram asc).

    Scale shape: tokens from the shared tokenizer, grams exploded once,
    ONE groupBy(gram) with map-side combine (count + approx-free distinct
    docs via a two-level agg: (gram, doc) partial first, so the hot gram's
    doc set never concentrates in one reducer), then a global
    TakeOrdered(k) — no full sort of the gram table."""
    per_doc = (
        docs.withColumn("_toks", tx.lower_tokens(F.col(text_col)))
        .select(
            F.col(id_col).alias("_rid"),
            F.explode(tx.word_ngrams_expr(F.col("_toks"), n)).alias("gram"),
        )
    )
    # Two-level agg: collapse (gram, doc) first so a gram appearing in every
    # doc combines map-side before the per-gram reduce.
    doc_level = per_doc.groupBy("gram", "_rid").agg(F.count(F.lit(1)).alias("c"))
    agg = doc_level.groupBy("gram").agg(
        F.sum("c").alias("count"), F.count(F.lit(1)).alias("n_docs")
    )
    return (
        agg.orderBy(F.col("count").desc(), F.col("n_docs").desc(), F.col("gram"))
        .limit(int(k))
    )


def dedup_ngram_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Substring-level exact dedup (the token-granularity form of Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models Better"):
    any token whose EVERY covering ``k``-token window also occurs at an
    earlier (doc, pos) somewhere in the corpus is removed; one canonical
    copy of every repeated span always survives (the minimum (doc, pos)
    occurrence's windows are canonical by definition, so its tokens are
    kept). Finer-grained than dedup_paragraphs: it catches verbatim spans
    repeated MID-paragraph — licence blurbs, quoted chain-letters, templated
    sentences — that paragraph identity can't see.

    Equivalent keep rule (what the plan actually computes): a token is KEPT
    iff at least one canonical window covers it. Boundary tokens of a
    repeated span sit under windows that straddle unique context — those
    windows are canonical, so up to k-1 edge tokens of a duplicate span
    survive; only the interior is removed, which is the published
    behaviour. Docs with fewer than ``k`` tokens have no windows and pass
    through untouched, as do NULL-``id_col`` rows (a NULL id cannot hold a
    canonical claim, so it neither dedups nor is deduped — the non-null-key
    contract shared with the MINSTD sampler family).

    Output ``text_col`` is the kept tokens joined by single spaces (a
    token-level operator normalizes whitespace by construction — the same
    contract as the suite's tokenizer); window identity is case-folded,
    rebuild uses the original-case tokens.

    Scale shape — the dedup decision never moves token text: windows ride
    as (id, pos, xxhash64-of-gram) rows, the canonical occurrence is
    ``groupBy(hash).agg(min(struct(doc, pos)))`` (partial agg absorbs a
    span repeated a billion times map-side — the same skew-safe shape as
    dedup_paragraphs, never a window function over the gram key), kept
    POSITIONS fold back to one int-array row per doc, and document text
    crosses the wire exactly once in the final rebuild join. Per-row JVM
    cost of the coverage expansion is O(|canonical starts| * k).

    Reference analog: none — the reference engine has no corpus-dedup path
    at all; this is part of the training-data suite the brief adds."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    raw_expr = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"), lambda t: t != ""
    )
    # _norm in its OWN projection: the window builder references it k times
    # per window via slice — Catalyst does not CSE the lower() chain
    # (functions/text.py:35-40 trap).
    base = docs.select(F.col(id_col).alias("_id"), raw_expr.alias("_raw")).withColumn(
        "_norm", F.transform(F.col("_raw"), lambda t: F.lower(t))
    )
    # Window hashes = xxhash64 over the module-shared gram builder (ONE gram
    # definition with repetition_scores/top_ngrams — the <k guard and slice
    # semantics can never drift between them). NULL-id rows are excluded from
    # the window table entirely: a NULL id would win every min(struct) it
    # touches (nulls-first struct ordering) and then match no canonical
    # filter, deleting those spans from EVERY doc with no surviving copy.
    # They pass through untouched instead (see out_text).
    warr = F.transform(
        tx.word_ngrams_expr(F.col("_norm"), k), lambda g: F.xxhash64(g)
    )
    wins = base.filter(F.col("_id").isNotNull()).select(
        "_id", F.posexplode(warr).alias("_pos", "_wh")
    )
    canon = wins.groupBy("_wh").agg(
        F.min(F.struct(F.col("_id").alias("d"), F.col("_pos").alias("p"))).alias("_first")
    )
    canon_starts = (
        wins.join(canon, "_wh")
        .filter((F.col("_first.d") == F.col("_id")) & (F.col("_first.p") == F.col("_pos")))
        .groupBy("_id")
        .agg(F.collect_list("_pos").alias("_cs"))
    )
    kept_pos = F.array_sort(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.coalesce(F.col("_cs"), F.array().cast("array<int>")),
                    lambda s: F.sequence(s, s + (k - 1)),
                )
            )
        )
    )
    rebuilt = F.concat_ws(
        " ", F.transform(kept_pos, lambda p: F.element_at(F.col("_raw"), p + 1))
    )
    # n < k → no windows exist; keep every token. NULL-id rows are outside
    # the dedup entirely (see wins) — pass them through too. A doc that HAS
    # windows but no canonical ones (its whole stream duplicates an earlier
    # doc) rebuilds to '' — the row must survive for downstream joins, like
    # the other span ops.
    out_text = F.when(
        (F.col("_n") < k) | F.col(id_col).isNull(), F.concat_ws(" ", F.col("_raw"))
    ).otherwise(rebuilt)
    return (
        docs.join(canon_starts, docs[id_col] == canon_starts["_id"], "left")
        .drop("_id")
        .withColumn("_raw", raw_expr)
        .withColumn("_n", F.size(F.col("_raw")))
        .withColumn(text_col, out_text)
        .drop("_cs", "_raw", "_n")
    )


def ngram_lm_scores(
    docs: DataFrame,
    ref: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style statistical-LM quality scoring: a Laplace-smoothed BIGRAM
    language model is trained on ``ref`` (default: ``docs`` itself —
    self-perplexity flags outliers) and every document is scored by its mean
    token negative log-likelihood and perplexity. Low-perplexity docs read
    like the reference corpus; high-perplexity docs are boilerplate soup,
    wrong-language, or garbled — the standard corpus-quality filter signal
    (CCNet filters CommonCrawl by Wikipedia-LM perplexity exactly this way).

      P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c_ctx(w_{i-1}) + V)

    with c_ctx the context's bigram-start count, V the reference's distinct
    unigram vocabulary, and unseen contexts scoring 1/V. Docs with < 2
    tokens carry NULL scores (n_bigrams 0) — they are length-filter
    territory, not LM territory, and a fake score would poison percentile
    gates downstream. A token-free ``ref`` likewise yields NULL scores for
    every doc (no model) instead of the IEEE-division artifact ppl = 0.0,
    which would silently rank everything as perfect quality.

    Columns added: n_bigrams, avg_nll (round 6), ppl = exp(avg_nll)
    (round 6).

    Scale shape: counts are two groupBys over exploded ref bigrams (map-side
    combine; the shuffle carries (ctx, nxt, count) rows bounded by DISTINCT
    bigrams); scoring is an equi-join of corpus bigrams against the count
    tables on the token keys — a plain shuffled hash join that AQE sizes
    (the count tables are vocabulary-sized, broadcastable for small refs but
    NOT in general at web scale, so the plan must not assume it); V rides
    the plan as a broadcast one-row aggregate, the same no-driver-count
    pattern as strip_boilerplate. Everything is JVM-side expression work.

    Reference analog: none — quality scoring beyond rule ratios is part of
    the training-data suite the brief adds."""
    from ..functions.text import lower_tokens

    if ref is None:
        ref = docs

    def _bigrams(df: DataFrame, with_id: bool) -> DataFrame:
        ids = [F.col(id_col).alias("_id")] if with_id else []
        b = (
            df.select(*ids, lower_tokens(F.col(text_col)).alias("_t"))
            .withColumn("_n", F.size(F.col("_t")))
        )
        pairs = F.when(
            F.col("_n") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.col("_n") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("_t"), i).alias("ctx"),
                    F.element_at(F.col("_t"), i + 1).alias("nxt"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<ctx:string,nxt:string>>"))
        out_ids = ["_id"] if with_id else []
        return b.select(*out_ids, F.explode(pairs).alias("_bg")).select(
            *out_ids, F.col("_bg.ctx").alias("ctx"), F.col("_bg.nxt").alias("nxt")
        )

    bc = _bigrams(ref, with_id=False).groupBy("ctx", "nxt").agg(
        F.count(F.lit(1)).alias("_c")
    )
    cc = bc.groupBy("ctx").agg(F.sum("_c").alias("_cc"))
    vocab = ref.select(
        F.explode(lower_tokens(F.col(text_col))).alias("_w")
    ).agg(F.countDistinct("_w").alias("_v"))
    # _v == 0 (token-free ref) would make the smoothed probability 1/0 →
    # IEEE Infinity → nll = -Inf → ppl 0.0: every doc silently scored
    # PERFECT, the worst possible failure for a quality gate. Score NULL
    # instead — visibly "no model", same contract as <2-token docs.
    nll = F.when(
        F.col("_v") > 0,
        -F.log(
            (F.coalesce(F.col("_c"), F.lit(0)) + F.lit(1))
            / (F.coalesce(F.col("_cc"), F.lit(0)) + F.col("_v"))
        ),
    )
    scored = (
        _bigrams(docs, with_id=True)
        .join(bc, ["ctx", "nxt"], "left")
        .join(cc, "ctx", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
            F.round(F.exp(F.avg(nll)), 6).alias("ppl"),
        )
    )
    return (
        docs.join(scored, docs[id_col] == scored["_id"], "left")
        .drop("_id")
        .withColumn("n_bigrams", F.coalesce(F.col("n_bigrams"), F.lit(0)))
    )


def near_dup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Quality-aware near-dup survivor selection (the SlimPajama refinement
    of the funnel's keep-smallest rule): cluster ``pairs`` into transitive
    components, then keep each component's BEST doc by ``score_col``
    (ties: min id) instead of its smallest id — when a paraphrase cluster
    mixes a clean original with mangled mirrors, the clean one survives.
    Docs in no pair are their own component and always keep.

    Returns the auditable decision table ``(id, component_id, score,
    kept)`` — exactly one kept=true per component. Scores must be non-null
    / non-NaN (the ``top_per_group`` contract; score upstream). The result
    carries ``.mapped`` — the persisted docs⋈components table consumed by
    three downstream branches (Catalyst does not CSE across them); long-
    lived sessions unpersist it after consuming the result.

    Scale shape: components cost O(diameter) label-prop rounds over the
    PAIR table; the winner per component comes from ``top_per_group``'s
    bounded local-prune + bounded global aggregate — a viral template
    cluster with millions of members never buffers on one reducer the way
    a row_number window would. The winners⋈decision join is left unhinted:
    winners has one row per COMPONENT (~corpus-sized on a mostly-unique
    corpus), so forcing a broadcast would be exactly the build-side OOM
    the rest of this suite avoids; Catalyst broadcasts it only when its
    size estimate says it fits.

    Reference analog: the keep-one-per-cluster rule generalizes the
    template grouping of drain.go:263-276; the quality-aware choice is
    training-data-suite semantics with no reference counterpart.
    """
    from .dedup import connected_components
    from .sample import top_per_group

    comps = connected_components(pairs, id_a=id_a, id_b=id_b, max_iter=max_iter)
    mapped = (
        docs.select(F.col(id_col).alias("_id"), F.col(score_col).alias("_score"))
        .join(
            comps.select(
                F.col("doc_id").alias("_cid"), F.col("component_id").alias("_comp")
            ),
            F.col("_id") == F.col("_cid"),
            "left",
        )
        # NO cast on the singleton fallback: component ids are min labels
        # over the SAME id type as the input, so coalesce types already
        # agree — a cast("long") would NULL every non-numeric singleton id
        # and collapse all singletons into one NULL component.
        .select("_id", "_score", F.coalesce("_comp", F.col("_id")).alias("component_id"))
        .persist()
    )
    winners = top_per_group(
        mapped, 1, group_col="component_id", order_col="_score",
        key_cols=("_id",), ascending=False,
    ).select(F.col("_id").alias("_win_id"))
    out = mapped.join(winners, F.col("_id") == F.col("_win_id"), "left").select(
        F.col("_id").alias(id_col),
        "component_id",
        F.col("_score").alias("score"),
        F.col("_win_id").isNotNull().alias("kept"),
    )
    out.mapped = mapped  # unpersist handle — see the persist note above
    return out


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dataset versioning: per-doc status between two corpus snapshots —
    ``added`` (id only in new), ``removed`` (only in old), ``changed``
    (both, text differs), ``unchanged``. The audit a pipeline emits
    alongside every refresh so a training run can pin exactly what moved
    between data versions.

    Scale shape: each side collapses to (id, xxhash64(text)) BEFORE the
    join — the full-outer join moves 16 bytes per doc, never text. Equal
    hashes are reported ``unchanged`` without a byte-compare: at 64 bits a
    false ``unchanged`` needs a hash collision (~2⁻⁶⁴ per changed doc —
    the same trust the exact-dedup and span-dedup passes already place in
    xxhash64); NULL text hashes like any value (two NULLs compare
    unchanged).
    """
    oh = old.select(
        F.col(id_col).alias("_id"), F.xxhash64(F.col(text_col)).alias("_oh")
    )
    nh = new.select(
        F.col(id_col).alias("_id"), F.xxhash64(F.col(text_col)).alias("_nh")
    )
    joined = oh.join(nh, "_id", "full_outer")
    status = (
        F.when(F.col("_oh").isNull(), F.lit("added"))
        .when(F.col("_nh").isNull(), F.lit("removed"))
        .when(F.col("_oh") == F.col("_nh"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(F.col("_id").alias(id_col), status.alias("status"))
