"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same arguments
give the same rows at any parallelism. The program under test only ever
receives the path of the table written here.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import DataFrame, SparkSession

from log_parser_mind_spark.sources.tables import write_transcripts
from log_parser_mind_spark.streaming.stream import pin_stream_file_order
from log_parser_mind_spark.synth import synth_transcripts

_CONSONANTS = "bdgklmnprstvz"
_VOWELS = "aeiou"


def vocabulary(size: int, seed: int = 7) -> list[str]:
    """Distinct six-letter consonant-vowel words. Masking keeps them: no
    digits, no '@' or '/', never eight hex letters in a row, never inf/nan."""
    rng = random.Random(seed)
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS) for _ in range(3)))
    return sorted(words)


def fleet(spark: SparkSession, seed: int, n_convs: int, n_rows: int) -> DataFrame:
    """The reference generator's 15 log shapes, 1% hot conversations at 100x
    turns and 2% PII lines (``synth.synth_transcripts`` defaults), cut to the
    first ``n_rows`` turns in (conv_id, turn_idx) order so that every seed
    gives the same row count."""
    return synth_transcripts(spark, n_convs, seed=seed).orderBy("conv_id", "turn_idx").limit(n_rows)


def write_fleet(spark: SparkSession, path: str, seed: int, n_convs: int, n_rows: int) -> None:
    """A transcripts table of 4 conv_id buckets: a few thousand rows fill
    one small file per bucket, not 32 tiny ones."""
    write_transcripts(fleet(spark, seed, n_convs, n_rows), path, n_buckets=4)


def write_fleet_files(spark: SparkSession, path: str, seed: int, n_convs: int, n_rows: int, n_files: int) -> None:
    """The fleet input split by conv_id range into ``n_files`` parquet files
    ``part-00000.parquet`` ..., with mtimes pinned to path order so that a
    file stream reads them in conv_id order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = fleet(spark, seed, n_convs, n_rows).toPandas()
    convs = pdf["conv_id"].drop_duplicates().tolist()
    bounds = [convs[len(convs) * k // n_files] for k in range(1, n_files)]
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    os.makedirs(path, exist_ok=True)
    lo = None
    for k, hi in enumerate([*bounds, None]):
        part = pdf[((pdf.conv_id >= lo) if lo else True) & ((pdf.conv_id < hi) if hi else True)]
        part = part.assign(ts=part.ts.dt.tz_localize("UTC"))
        pq.write_table(pa.Table.from_pandas(part, schema, preserve_index=False),
                       os.path.join(path, f"part-{k:05d}.parquet"))
        lo = hi
    pin_stream_file_order(path)


def write_documents(
    path: str, seed: int, n_docs: int, exact_frac: float = 0.05, near_frac: float = 0.05
) -> int:
    """A documents table (doc_id, text, lang, source, n_chars) as ONE parquet
    file with one row group, so ``read_table`` sees a single-split scan.
    ``exact_frac`` of the docs are exact copies of an earlier doc (after case
    and whitespace normalisation) and ``near_frac`` are near-copies: an
    earlier doc with two words replaced. Returns the number of exact copies."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    words = vocabulary(3000)
    texts: list[str] = []
    n_exact = 0
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < exact_frac:
            src = texts[rng.randrange(i)]
            texts.append("  " + src.upper() if rng.random() < 0.5 else src + " ")
            n_exact += 1
        elif i > 10 and r < exact_frac + near_frac:
            toks = texts[rng.randrange(i)].split()
            for _ in range(2):
                toks[rng.randrange(len(toks))] = rng.choice(words)
            texts.append(" ".join(toks))
        else:
            n = rng.randint(30, 60)
            texts.append(" ".join(rng.choices(words, k=n)) + ".")
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": ["en"] * n_docs,
            "source": [("web", "forum", "wiki")[i % 3] for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path, row_group_size=n_docs)
    return n_exact
