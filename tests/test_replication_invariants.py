"""Exact replication invariants of the corpus operators.

A ×R copy of a corpus, with every replica's ids shifted by ``rep * OFFSET``
and the text left alone, must give each operator's per-row output once per
replica, unchanged, and its corpus-level counts exactly ×R. These are the
invariants the scale-notch runs asserted at 80k documents (BENCH/BASELINE.md);
here they run on the sf0.001 tables (500 documents, 1,000 events) × R=3, one
shared base/×R corpus for every case.
"""

from __future__ import annotations

import os
from collections import Counter
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

R = 3
OFFSET = 1_000_000  # replica r's ids are base id + r * OFFSET; replica 0 keeps the base ids


def _replicate(df, spark, shift, **replace):
    """``df`` × R: each column in ``shift`` becomes col + rep*OFFSET, each
    keyword in ``replace`` becomes its Column (which may use ``rep``)."""
    rep = spark.range(R).select(F.col("id").alias("rep"))

    def col(c):
        if c in shift:
            return (F.col(c) + F.col("rep") * OFFSET).alias(c)
        return replace.get(c, F.col(c)).alias(c)

    return df.crossJoin(rep).select(*map(col, df.columns))


def _assert_replicated(base_rows, big_rows, key):
    """Every base row appears exactly once per replica with only its ``key``
    field shifted, and the ×R output holds nothing else."""
    def norm(rows):
        return Counter(tuple((k, v % OFFSET if k == key else v) for k, v in r.asDict().items())
                       for r in rows)

    base = norm(base_rows)
    assert base, "the base output must not be empty"
    assert norm(big_rows) == Counter({k: R * n for k, n in base.items()})


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    from __spark_entry__ import _turns_from_events

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text", "lang", "source"
    ).persist()
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).persist()
    n_docs, max_doc, distinct_docs = docs.agg(
        F.count("*"), F.max("doc_id"), F.countDistinct("doc_id")
    ).first()
    n_ev, max_ev, max_user = ev.agg(F.count("*"), F.max("event_id"), F.max("user_id")).first()
    assert R >= 2 and distinct_docs == n_docs and max(max_doc, max_ev, max_user) < OFFSET

    big_docs = _replicate(docs, spark, ["doc_id"]).persist()
    big_ev = _replicate(ev, spark, ["event_id", "user_id"]).persist()
    assert big_docs.count() == R * n_docs and big_ev.count() == R * n_ev
    c = SimpleNamespace(
        spark=spark,
        docs=docs,
        big_docs=big_docs,
        ev=ev,
        big_ev=big_ev,
        turns=_turns_from_events(ev),
        # events keep their ids so a replica conversation is an exact copy
        big_turns=_turns_from_events(_replicate(ev, spark, ["user_id"])).persist(),
    )
    yield c
    for df in (docs, ev, big_docs, big_ev, c.big_turns):
        df.unpersist()


CASES = {}


def _case(fn):
    CASES[fn.__name__] = fn
    return fn


@_case
def repetition_scores(c):
    from log_parser_mind_spark.operators.curate import repetition_scores

    _assert_replicated(
        repetition_scores(c.docs).collect(), repetition_scores(c.big_docs).collect(), "doc_id"
    )


@_case
def dedup_paragraphs(c):
    # Replicas keep only blank structure (every paragraph has an earlier
    # canonical copy in replica 0), so the non-whitespace mass is unchanged.
    from log_parser_mind_spark.operators.curate import dedup_paragraphs

    def nws(df):
        return df.agg(F.sum(F.length(F.regexp_replace("text", r"\s", "")))).first()[0]

    assert nws(dedup_paragraphs(c.big_docs)) == nws(dedup_paragraphs(c.docs))


@_case
def top_ngrams(c):
    from log_parser_mind_spark.operators.curate import top_ngrams

    base = [tuple(r) for r in top_ngrams(c.docs, n=2, k=20).collect()]
    big = [tuple(r) for r in top_ngrams(c.big_docs, n=2, k=20).collect()]
    assert len(base) == 20
    assert big == [(g, n * R, d * R) for g, n, d in base]


@_case
def global_shuffle(c):
    # The shard is a pure function of the key, and the within-shard order
    # of replica 0 survives the interleaved replicas.
    from log_parser_mind_spark.operators.sample import global_shuffle

    def order(rows):
        out = {}
        for r in sorted(rows, key=lambda r: (r.shard, r.pos_in_shard)):
            out.setdefault(r.shard, []).append(r.doc_id)
        return out

    big = global_shuffle(c.big_docs, n_shards=8).filter(F.col("doc_id") < OFFSET)
    assert order(big.collect()) == order(global_shuffle(c.docs, n_shards=8).collect())


@_case
def dedup_ngram_spans(c):
    # Replica 0 holds every canonical occurrence, so it equals the ×1 output,
    # and every replica with >= K tokens rebuilds to ''; only the <K-token
    # pass-through docs add mass, (R-1) times.
    from log_parser_mind_spark.functions.text import lower_tokens
    from log_parser_mind_spark.operators.curate import dedup_ngram_spans

    k = 8
    base = dedup_ngram_spans(c.docs, k=k).select("doc_id", "text").collect()
    big = dedup_ngram_spans(c.big_docs, k=k).select("doc_id", "text").collect()
    assert sorted(r for r in big if r.doc_id < OFFSET) == sorted(base)
    small_mass = (
        c.docs.select(lower_tokens(F.col("text")).alias("t"))
        .filter(F.size("t") < k)
        .agg(F.sum(F.length(F.concat_ws(" ", "t"))))
        .first()[0]
        or 0
    )
    mass = lambda rows: sum(len(r.text or "") for r in rows)  # noqa: E731
    assert mass(big) == mass(base) + (R - 1) * small_mass
    assert mass(big) < R * mass(base)  # the replicas really were deduplicated


@_case
def ngram_lm_scores(c):
    # With the reference held fixed, a score is a pure function of the text.
    from log_parser_mind_spark.operators.curate import ngram_lm_scores

    def score(df):
        return ngram_lm_scores(df, ref=c.docs).select(
            "doc_id", "n_bigrams", "avg_nll", "ppl"
        ).collect()

    _assert_replicated(score(c.docs), score(c.big_docs), "doc_id")


@_case
def bpe(c):
    # Every word frequency scales ×R, so pair order and tie resolution stay.
    from log_parser_mind_spark.functions.bpe import train_bpe, with_bpe_tokens

    merges = train_bpe(c.docs, num_merges=60)
    assert len(merges) == 60
    assert train_bpe(c.big_docs, num_merges=60) == merges

    def total(df):
        return with_bpe_tokens(df, merges).agg(F.sum(F.size("bpe_tokens"))).first()[0]

    assert total(c.big_docs) == R * total(c.docs)


@_case
def exact_contamination(c):
    # The blocklist stays un-replicated, so each replica reports its base row.
    from log_parser_mind_spark.operators.curate import exact_contamination

    block = c.docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 900_000).alias("doc_id"), "text"
    )

    def report(df):
        return exact_contamination(df.select("doc_id", "text"), block, n=8).select(
            "doc_id", "n_grams", "n_hit_grams", "overlap_frac", "contaminated"
        ).collect()

    base = report(c.docs)
    assert any(r.contaminated for r in base)
    _assert_replicated(base, report(c.big_docs), "doc_id")


@_case
def sft_examples(c):
    from log_parser_mind_spark.operators.prep import sft_examples

    def examples(turns):
        return sft_examples(turns, 8).select(
            "conv_id", "target_turn_idx", "context", "target",
            "n_context_turns", "n_context_tokens",
        ).collect()

    _assert_replicated(examples(c.turns), examples(c.big_turns), "conv_id")


@_case
def preference_pairs(c):
    # The (score, conv, turn) total order picks replica 0 of the same base
    # winner and loser, never a different candidate.
    from log_parser_mind_spark.operators.prep import preference_pairs

    cols = ["chosen_text", "chosen_score", "rejected_text", "rejected_score"]
    base = {r.prompt_sig: r for r in preference_pairs(c.turns).collect()}
    big = {r.prompt_sig: r for r in preference_pairs(c.big_turns).collect()}
    assert base and big.keys() == base.keys()
    for sig, g in big.items():
        b = base[sig]
        assert g.n_candidates == R * b.n_candidates, sig
        assert [g[k] for k in cols] == [b[k] for k in cols], sig


@_case
def best_of_n(c):
    # Ties go to the earlier conversation, and every replica-r conv id is
    # above every replica-0 one: at ×R the top R of a prompt group are the
    # base's top-score ties, replica by replica.
    from log_parser_mind_spark.operators.prep import best_of_n

    def ranked(turns):
        out = {}
        for r in sorted(best_of_n(turns, n=R).collect(), key=lambda r: r.rank):
            out.setdefault(r.prompt_sig, []).append(r)
        return out

    base, big = ranked(c.turns), ranked(c.big_turns)
    assert base and big.keys() == base.keys()
    for sig, rows in big.items():
        ties = [b for b in base[sig] if b.score == base[sig][0].score]
        want = [(t.conv + rep * OFFSET, t.turn, t.text, t.score) for rep in range(R) for t in ties]
        assert [(r.conv, r.turn, r.text, r.score) for r in rows] == want[:R], sig


@_case
def incremental_index_dedup(c):
    # Every token of replica r is prefixed with its tag: within a replica the
    # shingle geometry is the base corpus's, across replicas it is disjoint.
    # Base/increment membership is decided on the base id, so every base
    # decision must appear once per replica, unchanged.
    from log_parser_mind_spark.operators import dedup

    cfg = dict(k=32, bands=16, shingle_n=3)

    def audit(docs):
        base = docs.filter(F.col("doc_id") % OFFSET % 5 != 0)
        inc = docs.filter(F.col("doc_id") % OFFSET % 5 == 0)
        index = dedup.build_minhash_index(base, **cfg)
        rows = dedup.dedup_against_index(inc, index, base, threshold=0.7, **cfg).select(
            "id", "n_base_dups", "kept"
        ).collect()
        assert len(rows) == inc.count()  # one decision per increment doc
        return rows

    tagged = _replicate(
        c.docs.select("doc_id", "text"), c.spark, ["doc_id"],
        text=F.regexp_replace("text", r"(\S+)", F.concat(F.lit("rep"), F.col("rep"), F.lit("·$1"))),
    )
    base = audit(c.docs.select("doc_id", "text"))
    assert any(r.n_base_dups for r in base)
    _assert_replicated(base, audit(tagged), "id")


@_case
def tfidf_keywords(c):
    # df and N both scale ×R, so idf = ln(N/df) is unchanged.
    from log_parser_mind_spark.operators.prep import tfidf_keywords

    def kw(df):
        return tfidf_keywords(df, k=5).select("doc_id", "term", "tf", "tfidf", "rank").collect()

    _assert_replicated(kw(c.docs), kw(c.big_docs), "doc_id")


@_case
def chunk_documents(c):
    from log_parser_mind_spark.operators.prep import chunk_documents

    def stats(df):
        return tuple(chunk_documents(df, 64, 48).agg(F.count("*"), F.sum("n_tokens")).first())

    n, tokens = stats(c.docs)
    assert n > 0 and stats(c.big_docs) == (R * n, R * tokens)


@_case
def corpus_datacard(c):
    # Per-slice counts and masses ×R; the means are of the same values.
    from log_parser_mind_spark.operators.prep import corpus_datacard

    def card(df):
        return {(r.lang, r.source): r for r in corpus_datacard(df).collect()}

    base, big = card(c.docs), card(c.big_docs)
    assert big.keys() == base.keys()
    for k, b in base.items():
        g = big[k]
        assert (g.n_docs, g.total_tokens, g.total_chars) == (
            R * b.n_docs, R * b.total_tokens, R * b.total_chars
        ), k
        assert (g.avg_tokens, g.avg_quality) == (b.avg_tokens, b.avg_quality), k


@_case
def quality_classifier(c):
    # Each gradient sum and n both scale ×R, so grad/n (rounded 6dp by the
    # trainer) and hence the model are unchanged.
    from log_parser_mind_spark.operators.classifier import (
        score_logreg,
        token_bucket_features,
        train_logreg,
    )

    label = F.coalesce(F.col("lang") == "en", F.lit(False))

    def fit(df):
        fb = token_bucket_features(df, 128, label=label)
        w, b = train_logreg(fb, 128, 5, 4.0)
        return (w, b), score_logreg(fb, w, b).select("doc_id", "score").collect()

    base_model, base_scores = fit(c.docs)
    big_model, big_scores = fit(c.big_docs)
    assert big_model == base_model
    _assert_replicated(base_scores, big_scores, "doc_id")


@_case
def sessions_and_joins(c):
    # Replicas only add users, so sessions are exactly ×R; the sessions
    # partition the events (interval join total and unique), and the as-of
    # join keeps exactly one row per left row.
    from log_parser_mind_spark.operators import asof
    from log_parser_mind_spark.operators.sessionize import conversation_sessions

    def sessions(ev):
        return conversation_sessions(
            ev, gap_minutes=30, conv_col="user_id", ts_col="ts", tiebreak_col="event_id"
        )

    sess = sessions(c.big_ev)
    assert sess.count() == R * sessions(c.ev).count()
    iv = asof.interval_join(
        c.big_ev.select("event_id", "user_id", "ts"),
        sess.select("user_id", "session_idx", "start_ts", "end_ts"),
        key="user_id",
    )
    n_ev = R * c.ev.count()
    assert tuple(iv.agg(F.count("*"), F.countDistinct("event_id")).first()) == (n_ev, n_ev)
    errors = c.big_ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    purchases = c.big_ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), "value"
    )
    aj = asof.asof_join(
        errors, purchases, key="user_id", right_cols=["purchase_id", "value"],
        tiebreak_col="purchase_id",
    )
    n_err = errors.count()
    assert n_err > 0
    assert tuple(aj.agg(F.count("*"), F.countDistinct("event_id")).first()) == (n_err, n_err)


@pytest.mark.parametrize("case", sorted(CASES))
def test_replication_invariant(corpus, case):
    CASES[case](corpus)
