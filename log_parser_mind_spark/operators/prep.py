"""Training-data preparation operators: tf-idf keyword extraction,
sliding-window token chunking, and a rollup corpus datacard.

These extend the reference's text-analytics surface (quality/lang/token
counting in ``functions/text.py``) with the document-shaping passes an LLM
training pipeline runs right before export — no reference analog (the
reference stops at per-log templates; see README.md:1-40 scope), so the
semantics follow the public-standard definitions (tf·idf with natural-log
idf; RAG-style overlapping chunks; per-slice corpus statistics).

Scale shapes (100 TB):

  tfidf_keywords  — explode → groupBy(doc, term) with map-side combine (the
                    big shuffle moves distinct (doc, term) pairs, Zipf-thin
                    vs raw tokens) → vocabulary-sized df table → equi-join on
                    term (both sides shuffle-partitioned by term; the vocab
                    side is NOT broadcast because a web-scale vocabulary is
                    itself huge) → per-doc window over ≤|doc vocab| rows.
  chunk_documents — pure per-row explode: zero shuffles, scan-scaling;
                    chunk boundaries are a closed-form function of the
                    token count, so no state crosses rows.
  corpus_datacard — one rollup aggregation; map-side partial aggs bound the
                    shuffle by |lang|×|source| groups per task.
  sft_examples    — ONE conversation-keyed exchange (two window specs share
                    the (conv, order) sort); the context walk is a per-row
                    JVM HOF over the running collect_list, so cost is
                    Σ conv_len² BYTES per conversation — bounded by max
                    transcript length, never corpus size (chunk giant convs
                    first; a join-based O(output) formulation exists but
                    shuffles the turn table twice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.masking import masked_sig_expr, masked_tokens_expr, tokens_expr
from ..functions.text import lower_tokens, quality_score_from, with_tokens

__all__ = [
    "tfidf_keywords",
    "chunk_documents",
    "corpus_datacard",
    "sft_examples",
    "preference_pairs",
    "best_of_n",
]


def tfidf_keywords(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` keywords per document by tf·idf.

    tf = in-document term count over the shared whitespace tokenizer
    (``lower_tokens`` — ONE tokenizer across the text suite, so keyword
    terms can never drift from the quality/lang/fingerprint passes);
    idf = ln(N / df) with N = total input documents and df = number of
    documents containing the term. N counting token-less docs is a PINNED
    CONVENTION, not a neutral choice: score = tf·(ln N − ln df), so
    changing N shifts every term by tf·Δ(ln N) and CAN reorder terms with
    different tf — the oracle recomputes the same N, and the committed
    results depend on it. Ties rank by term ASC (deterministic:
    (score, term) is unique per doc because terms are distinct per doc).
    Docs with no tokens yield no rows. Scores are rounded to 6dp — ln is
    not IEEE-correctly-rounded, so the last ulps are engine-specific; 6dp
    is the repo-wide float-compare convention.

    Returns (id, term, tf, df, tfidf, rank), rank in 1..k. The result
    carries ``.doc_terms`` — the internally persisted doc-term table (see
    the persist note in the body); long-lived sessions unpersist it after
    consuming the result.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    tf = (
        docs.select(F.col(id_col), F.explode(lower_tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        # Both the df table and the score join read this subtree; Catalyst
        # does not CSE across join branches, so WITHOUT a persist the full
        # corpus explode+shuffle runs TWICE (verified in the formatted
        # plan). MEMORY_AND_DISK: the doc-term table spills rather than
        # recomputes. The RETURNED frame is a projection, not this cache,
        # so the handle rides along as ``result.doc_terms`` — long-lived
        # sessions call result.doc_terms.unpersist() after consuming.
        .persist()
    )
    df_tab = tf.groupBy("term").agg(F.count("*").alias("df"))
    # df is computed by groupBy, NOT count().over(Window.partitionBy(term)):
    # window aggregation buffers whole term partitions, and stopword terms
    # appear in nearly every document — groupBy's map-side partial
    # aggregation absorbs exactly that skew.
    # 1-row total: crossJoin(broadcast) keeps N distributed-computed without
    # a driver collect (same pattern as curate.curation_report).
    n_docs = docs.select(F.count("*").alias("_n_docs"))
    scored = (
        tf.join(df_tab, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    out = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )
    out.doc_terms = tf  # unpersist handle — see the persist note above
    return out


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window token chunks: chunk ``i`` covers whitespace tokens
    ``[i*stride, i*stride + chunk_tokens)`` of the ORIGINAL-case text
    (tokens = non-empty splits on ``\\s+``; no lowercasing — chunk text is
    training payload, not an analysis key). The window count is the minimal
    cover: 1 chunk when n <= chunk_tokens, else ``1 + ceil((n - C) / S)``,
    so every token lands in >= 1 chunk and only the last chunk may be short.
    ``stride <= chunk_tokens`` is enforced (a larger stride silently drops
    tokens between windows). Docs with zero tokens yield no rows.

    Returns (id, chunk_idx, n_tokens, chunk_text).
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not 1 <= stride <= chunk_tokens:
        raise ValueError(
            f"stride must be in [1, chunk_tokens], got stride={stride} "
            f"chunk_tokens={chunk_tokens}"
        )
    c, s = int(chunk_tokens), int(stride)
    # Materialize the tokenization in its OWN projection first: Catalyst
    # does not CSE non-cheap expression trees, so referencing the split
    # inline from n / n_chunks / the guard would re-run the regex ~4x per
    # row (the documented trap at functions/text.py:35-40).
    tokd = docs.select(
        F.col(id_col),
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"), lambda t: t != ""
        ).alias("_toks"),
    )
    n = F.size(F.col("_toks"))
    # Integer ceil((n-c)/s) via (n - c + s - 1) div s; values are doc-token
    # counts (far below 2^53), so the double division is exact after floor.
    n_chunks = F.when(n <= c, F.lit(1)).otherwise(
        (F.lit(1) + F.floor((n - c + (s - 1)) / s)).cast("int")
    )
    # sequence(0, -1) would auto-step DESCENDING (the documented trap in
    # functions/text.py word_ngrams_expr) — n==0 rows take the empty array.
    idxs = F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return (
        tokd.select(F.col(id_col), F.col("_toks"), F.explode(idxs).alias("chunk_idx"))
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.slice(F.col("_toks"), F.col("chunk_idx") * s + 1, c).alias("_chunk"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.size("_chunk").cast("long").alias("n_tokens"),
            F.array_join("_chunk", " ").alias("chunk_text"),
        )
    )


def corpus_datacard(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-(lang, source) corpus statistics with ROLLUP subtotals — the
    "data card" a curation round reports: doc counts, token/char mass, and
    mean quality per slice, per language, and overall. Rollup levels are
    labeled via GROUPING() ('ALL'), so a NULL data value can never collide
    with a subtotal row ('(null)').

    avg() over DOUBLES is combine-order sensitive, and round(6) does NOT
    absorb it when the true mean sits on a round-half boundary (observed at
    sf0.01: 0.631034 vs 0.631035 across engines). Quality is therefore
    aggregated as exact integer MICRO-units (per-doc 6dp score × 1e6 → long;
    integer sum is order-invariant), and the mean is one deterministic
    division chain over exact integers — bit-identical in any engine.
    avg_tokens needs no such treatment: the int sum is exact and a single
    long/long IEEE division is correctly rounded.

    Returns (lang, source, n_docs, total_tokens, avg_tokens, total_chars,
    avg_quality) — one row per (lang, source), per lang, and one grand total.
    """
    t = with_tokens(docs, text_col=text_col)
    base = t.select(
        "lang",
        "source",
        F.size("tokens").alias("_nt"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("_nc"),
        F.round(
            quality_score_from(F.col("tokens"), F.col(text_col)) * 1e6
        )
        .cast("long")
        .alias("_qm"),
    )
    agg = base.rollup("lang", "source").agg(
        F.grouping("lang").alias("_gl"),
        F.grouping("source").alias("_gs"),
        F.count("*").alias("n_docs"),
        F.sum("_nt").cast("long").alias("total_tokens"),
        F.round(F.avg("_nt"), 6).alias("avg_tokens"),
        F.sum("_nc").cast("long").alias("total_chars"),
        F.round(
            F.sum("_qm") / F.count("*") / F.lit(1e6), 6
        ).alias("avg_quality"),
    )
    label = lambda col, g: F.when(F.col(g) == 1, F.lit("ALL")).otherwise(  # noqa: E731
        F.coalesce(F.col(col), F.lit("(null)"))
    )
    return agg.select(
        label("lang", "_gl").alias("lang"),
        label("source", "_gs").alias("source"),
        "n_docs",
        "total_tokens",
        "avg_tokens",
        "total_chars",
        "avg_quality",
    )


def sft_examples(
    turns: DataFrame,
    context_budget_tokens: int = 512,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    target_role: str = "assistant",
) -> DataFrame:
    """Supervised-fine-tuning example construction: one training example per
    ``target_role`` turn, whose ``context`` is the MAXIMAL suffix of the
    conversation's preceding turns that fits ``context_budget_tokens``
    whitespace tokens — turns are included WHOLE (a turn that would overflow
    the budget is dropped along with everything older; training never sees a
    half-turn), newest turns win, and the first turn of a conversation gets
    an empty context. The standard chat-transcript → SFT-row reshape a
    training pipeline runs right before packing/export.

    Returns ``(conv, target_turn_idx, context, target, n_context_turns,
    n_context_tokens)`` where ``context`` is the included turns rendered
    oldest-first as ``role: text`` joined by newlines (NULL text renders as
    ``role: `` and counts 0 tokens), ``target`` is the target turn's text
    verbatim, and ``n_context_tokens`` is the included turns' token sum
    (<= budget). ``order_col`` must be unique within a conversation — the
    running token sum uses an explicit ROWS frame, so ties would make the
    clip boundary engine-dependent.

    Semantics via prefix sums: with P(i) the running inclusive token count,
    preceding turn ``s`` is included for target ``t`` iff
    ``P(t-1) - P(s-1) <= budget`` — a pure per-row predicate over the
    running window, no iteration. All JVM-side: one conversation-keyed
    exchange (both window specs share the (conv, order) sort), then
    higher-order filter/transform/aggregate over the collected prefix.
    Memory note: the running ``collect_list`` makes per-conversation cost
    quadratic in turns (bytes, not shuffle) — fine for transcripts, which
    are bounded; chunk pathological conversations first.

    Reference analog: none — part of the training-data suite the brief
    adds (the reference stops at per-log templates).
    """
    if context_budget_tokens < 1:
        raise ValueError(
            f"context_budget_tokens must be >= 1, got {context_budget_tokens}"
        )
    budget = F.lit(int(context_budget_tokens)).cast("long")
    # Tokenization in its OWN projection (the CSE trap at text.py:35-40).
    base = turns.select(
        F.col(conv_col).alias("_conv"),
        F.col(order_col).alias("_ord"),
        F.coalesce(F.col(role_col), F.lit("")).alias("_role"),
        F.col(text_col).alias("_text"),
    ).withColumn("_ntok", F.size(lower_tokens(F.col("_text"))).cast("long"))
    w_cum = (
        Window.partitionBy("_conv")
        .orderBy("_ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_prev = (
        Window.partitionBy("_conv")
        .orderBy("_ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = base.withColumn("_pre", F.sum("_ntok").over(w_cum)).withColumn(
        "_ctx", F.collect_list(F.struct("_ord", "_role", "_text", "_ntok", "_pre")).over(w_prev)
    )
    prev_pre = F.col("_pre") - F.col("_ntok")  # P(t-1)
    # The clipped context array is materialized ONCE as its own attribute —
    # deriving context/turns/tokens from an inlined filter would re-run the
    # HOF 3x per row (Catalyst does not CSE higher-order expressions).
    clipped = staged.filter(F.col("_role") == target_role).select(
        "_conv",
        "_ord",
        "_text",
        F.filter(
            F.col("_ctx"), lambda x: (prev_pre - (x["_pre"] - x["_ntok"])) <= budget
        ).alias("_inc"),
    )
    return clipped.select(
        F.col("_conv").alias(conv_col),
        F.col("_ord").alias("target_turn_idx"),
        F.array_join(
            F.transform(
                F.col("_inc"),
                lambda x: F.concat(x["_role"], F.lit(": "), F.coalesce(x["_text"], F.lit(""))),
            ),
            "\n",
        ).alias("context"),
        F.col("_text").alias("target"),
        F.size("_inc").cast("long").alias("n_context_turns"),
        F.aggregate(
            F.col("_inc"), F.lit(0).cast("long"), lambda a, x: a + x["_ntok"]
        ).alias("n_context_tokens"),
    )


def preference_pairs(
    turns: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    user_role: str = "user",
    assistant_role: str = "assistant",
    min_candidates: int = 2,
) -> DataFrame:
    """DPO/RLHF preference-pair construction: group assistant responses from
    ACROSS conversations by the masked template of their immediately
    preceding user turn (the drain masking pass — two prompts asking the
    same thing with different literals share a group), score each response
    with the deterministic composite quality score, and emit one
    (chosen, rejected) pair per prompt group: chosen = the response with the
    lexicographically greatest (score, conv, order), rejected = the least.
    Groups smaller than ``min_candidates`` or without a STRICT score gap
    (chosen_score > rejected_score) emit nothing — a pair with equal scores
    carries no preference signal.

    Returns ``(prompt_sig, n_candidates, chosen_conv, chosen_turn,
    chosen_text, chosen_score, rejected_conv, rejected_turn, rejected_text,
    rejected_score)``. Scores are rounded to 6dp BEFORE the ordering — the
    tiebreak must see exactly what the output reports, or two engines could
    rank near-ties differently. ``(conv, order)`` must be unique and
    orderable (the standard transcript key), which makes the selection a
    total order and the output engine/parallelism-independent.

    Scale shape (100 TB): one conversation-keyed exchange for the
    prev-turn lag, then ONE groupBy(prompt_sig) whose min/max-of-struct
    aggregates combine map-side — a hot prompt template ("hi") with
    millions of candidates collapses to one row per partition before the
    shuffle, where the row_number()-window formulation would buffer the
    whole hot group in one task. The structs order on (score, conv, order)
    with text as a trailing NEVER-COMPARED field (the key prefix is unique),
    so response text rides the aggregation instead of a second self-join.

    Reference analog: none — training-data suite (the reference stops at
    per-log templates); grouping-by-masked-template is the same canonical
    signature as drain.go:308-310.
    """
    if min_candidates < 2:
        raise ValueError(f"min_candidates must be >= 2, got {min_candidates}")
    scored = _scored_response_candidates(
        turns, conv_col, order_col, role_col, text_col, user_role, assistant_role
    )
    sel = F.struct("_score", "_conv", "_ord", "_text")
    g = scored.groupBy("prompt_sig").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max(sel).alias("_c"),
        F.min(sel).alias("_r"),
    )
    return g.filter(
        (F.col("n_candidates") >= min_candidates)
        & (F.col("_c._score") > F.col("_r._score"))
    ).select(
        "prompt_sig",
        "n_candidates",
        F.col("_c._conv").alias("chosen_conv"),
        F.col("_c._ord").alias("chosen_turn"),
        F.col("_c._text").alias("chosen_text"),
        F.col("_c._score").alias("chosen_score"),
        F.col("_r._conv").alias("rejected_conv"),
        F.col("_r._ord").alias("rejected_turn"),
        F.col("_r._text").alias("rejected_text"),
        F.col("_r._score").alias("rejected_score"),
    )


def _scored_response_candidates(
    turns: DataFrame,
    conv_col: str,
    order_col: str,
    role_col: str,
    text_col: str,
    user_role: str,
    assistant_role: str,
) -> DataFrame:
    """Shared candidate stage for ``preference_pairs`` and ``best_of_n``:
    assistant turns directly preceded by a user turn, keyed by the masked
    template of that prompt, scored by the composite quality score
    (rounded 6dp inside ``quality_score_from`` — ordering sees exactly
    what the output reports). ONE definition so the two selection ops can
    never disagree on what a candidate or its score is."""
    w = Window.partitionBy("_conv").orderBy("_ord")
    prev = turns.select(
        F.col(conv_col).alias("_conv"),
        F.col(order_col).alias("_ord"),
        F.col(role_col).alias("_role"),
        F.col(text_col).alias("_text"),
    ).select(
        "*",
        F.lag("_role").over(w).alias("_prev_role"),
        F.lag("_text").over(w).alias("_prev_text"),
    )
    cand = prev.filter(
        (F.col("_role") == assistant_role) & (F.col("_prev_role") == user_role)
    ).select(
        masked_sig_expr(masked_tokens_expr(tokens_expr(F.col("_prev_text")))).alias(
            "prompt_sig"
        ),
        "_conv",
        "_ord",
        "_text",
    )
    # Tokenize in a separate projection from the score (the CSE trap at
    # text.py:35-40).
    return cand.withColumn("_toks", lower_tokens(F.col("_text"))).withColumn(
        "_score", quality_score_from(F.col("_toks"), F.col("_text"))
    )


def best_of_n(
    turns: DataFrame,
    n: int = 1,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    user_role: str = "user",
    assistant_role: str = "assistant",
) -> DataFrame:
    """Rejection sampling / best-of-n selection: the top ``n`` assistant
    responses per masked prompt template by quality score — the harvesting
    complement of ``preference_pairs`` (same candidate stage, same score,
    same total (score, conv, order) order), keeping the winners instead of
    contrasting extremes. Groups smaller than ``n`` survive whole; there is
    no gap requirement (a lone candidate is still the best sample for its
    prompt).

    Returns ``(prompt_sig, rank, conv, turn, text, score)``, rank 1..n by
    (score DESC, conv ASC, order ASC) — ties prefer the EARLIER transcript,
    the exact order ``top_per_group``'s ascending key tiebreak implements,
    so selection and ranking can never disagree at the rank-n boundary.
    (preference_pairs' chosen side prefers the LATER transcript on ties —
    a max-of-struct is descending in every field; both are total orders,
    each pinned by its oracle.) Selection never runs a row_number window
    over the prompt group (a viral prompt = a hot key):
    ``sample.top_per_group``'s bounded local-prune + bounded global
    aggregate picks the winners, and only the ≤ n kept rows per group —
    bounded by construction — enter the ranking window.

    Reference analog: none — training-data suite; the selection core is
    shared with cap_per_group (sample.py).
    """
    from .sample import top_per_group

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    scored = _scored_response_candidates(
        turns, conv_col, order_col, role_col, text_col, user_role, assistant_role
    )
    kept = top_per_group(
        scored, n, group_col="prompt_sig", order_col="_score",
        key_cols=("_conv", "_ord"), ascending=False,
    )
    w = Window.partitionBy("prompt_sig").orderBy(
        F.desc("_score"), F.asc("_conv"), F.asc("_ord")
    )
    return kept.select(
        "prompt_sig",
        F.row_number().over(w).cast("long").alias("rank"),
        F.col("_conv").alias("conv"),
        F.col("_ord").alias("turn"),
        F.col("_text").alias("text"),
        F.col("_score").alias("score"),
    )
