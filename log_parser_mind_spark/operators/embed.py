"""Text→vector embedding stage (SURVEY §2.10 X5).

The reference embeds text by calling OpenAI Ada-002 per string
(internal/agent/llm/client.go:252-268) — a remote learned model. Two
backends here:

  ``hashing_embedding_table`` — REAL, deterministic, entirely JVM-side: the
      feature-hashing trick (Weinberger et al., ICML 2009 — public
      technique): each token hashes to one of ``dim`` signed buckets (sign =
      one hash bit), bucket sums are L2-normalized. Same scale shape as
      dedup.simhash_table: explode → xxhash64 → ``dim`` conditional sums
      with map-side combine, so the one shuffle moves a single dim-wide row
      per document. No model, no Python, no network — the sandbox-honest
      embedding that still yields cosine-meaningful vectors (shared tokens ⇒
      shared signed buckets), and it feeds the whole similarity suite
      (brute_force_topk / lsh_topk / embedding_near_dups) directly.

  ``client_embedding_stage`` — the learned-model seam: Arrow-batched
      mapInPandas calling an injectable batch client (the operators/agent.py
      pattern). Raises without a client or endpoint — never silently fakes.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.text import lower_tokens


def hashing_embedding_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, embedding array<float>) per document, L2-normalized.

    bucket = pmod(xxhash64(seed, token), dim); vote = ±1 from hash bit 62
    (independent of the low bits pmod consumes). Integer votes sum in any
    order → the vector is identical at any parallelism; the single float
    division per component happens once per document at the end. Docs with
    no tokens get the zero vector (cosine against them is NULL downstream,
    ranked last)."""
    h = F.xxhash64(F.lit(seed), F.col("tok"))
    one = F.lit(1).cast("long")
    exploded = docs.select(
        F.col(id_col).alias("id"), F.explode_outer(lower_tokens(F.col(text_col))).alias("tok")
    ).select(
        "id",
        F.when(F.col("tok").isNotNull(), F.pmod(h, F.lit(dim))).alias("bucket"),
        F.when(
            F.col("tok").isNotNull(),
            F.shiftrightunsigned(h, 62).bitwiseAND(one) * F.lit(2) - F.lit(1),
        ).alias("sign"),
    )
    votes = [
        F.coalesce(F.sum(F.when(F.col("bucket") == i, F.col("sign"))), F.lit(0).cast("long")).alias(
            f"b{i}"
        )
        for i in range(dim)
    ]
    agg = exploded.groupBy("id").agg(*votes)
    # Materialize the norm in its OWN projection: inlining the 64-term
    # sum-of-squares into each of the 64 array slots is a 64×64 expression
    # blowup that breaks whole-stage codegen (janino method-size limit →
    # interpreted fallback, measured) — the same no-CSE trap documented at
    # functions/text.py:35-40. CollapseProject keeps a non-cheap alias
    # referenced 64×, so the plan computes sqrt once per row.
    norm = F.sqrt(
        sum(F.col(f"b{i}") * F.col(f"b{i}") for i in range(dim)).cast("double")
    )
    with_norm = agg.select("*", norm.alias("_norm"))
    vec = F.array(
        *[
            F.when(F.col("_norm") > 0, (F.col(f"b{i}") / F.col("_norm")).cast("float"))
            .otherwise(F.lit(0.0).cast("float"))
            for i in range(dim)
        ]
    )
    return with_norm.select(F.col("id").alias(id_col), vec.alias("embedding"))


def client_embedding_stage(
    docs: DataFrame,
    client: Callable[[list[str]], list[list[float]]] | None = None,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Learned-model embedding via an injectable batch client over Arrow
    batches. Without a client, requires LOGMIND_EMBED_ENDPOINT to be set and
    raises otherwise (the reference's OpenAI call has no sandbox analog —
    this seam is where it plugs in; it is never silently faked)."""
    import pandas as pd

    if client is None:
        endpoint = os.environ.get("LOGMIND_EMBED_ENDPOINT")
        if not endpoint:
            raise NotImplementedError(
                "no embedding client injected and LOGMIND_EMBED_ENDPOINT is "
                "not set; use hashing_embedding_table for the model-free path"
            )
        raise NotImplementedError(
            f"HTTP embedding client for {endpoint!r} not implemented in this "
            "sandbox; inject a client callable"
        )

    schema = T.StructType(
        [
            # id keeps the input column's type — hardcoding LongType would
            # break string ids at the Arrow boundary.
            T.StructField("id", docs.schema[id_col].dataType),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            texts = pdf[text_col].fillna("").tolist()
            vecs = client(texts)
            # Validate count AND width here, where misalignment is still
            # attributable — a lossy or wrong-dim client downstream just
            # yields silently-truncated dot products.
            if len(vecs) != len(texts):
                raise ValueError(f"client returned {len(vecs)} vectors for {len(texts)} texts")
            bad = [len(v) for v in vecs if len(v) != dim]
            if bad:
                raise ValueError(f"client returned vectors of widths {set(bad)}, expected {dim}")
            yield pd.DataFrame({"id": pdf[id_col], "embedding": vecs})

    return (
        docs.select(id_col, text_col)
        .mapInPandas(run, schema=schema)
        .select(F.col("id").alias(id_col), "embedding")
    )
