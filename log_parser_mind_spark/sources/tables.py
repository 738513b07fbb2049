"""Table readers/writers (SURVEY §2.1).

The batch source replacing the reference's push ingest (S1-S3) is a
partitioned columnar read; sinks S4-S7 are snapshot commits (manifest.py).
When an Iceberg catalog is configured, ``iceberg.snapshot_store`` routes the
same calls through ``writeTo`` (iceberg.IcebergStore); the
sandbox has no Iceberg jar (SURVEY §7.2), so `iceberg_available()` gates
that path and the parquet emulation is the in-sandbox default.
"""

from __future__ import annotations

import logging
import os
from urllib.parse import urlparse
from urllib.request import url2pathname

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import TRANSCRIPTS

log = logging.getLogger(__name__)


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath. A missing
    class arrives as py4j's wrapped ``ClassNotFoundException``; any other
    failure is a broken session and propagates."""
    from py4j.protocol import Py4JJavaError

    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Py4JJavaError:
        return False


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """S1-S3: the transcripts fact source. Fixed schema — never inferred."""
    return spark.read.schema(TRANSCRIPTS).parquet(path)


def write_transcripts(df: DataFrame, path: str, n_buckets: int = 32) -> None:
    """Write transcripts the way the 10^12-turn table would be laid out:
    Iceberg ``PARTITIONED BY (months(ts), bucket(N, conv_id))`` emulated as
    hive-style month dir + conv-hash bucket file grouping, with rows
    clustered by (conv_id, turn_idx) inside files."""
    out = df.withColumn("month", F.date_format("ts", "yyyy-MM"))
    (
        out.repartition(n_buckets, F.col("month"), F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)))
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(path)
    )


def repartition_salted(
    df: DataFrame, key: str, n_partitions: int, salt_buckets: int = 16
) -> DataFrame:
    """Salted hash repartitioning for skewed keys (north rule; SURVEY §4.2).

    A plain ``repartition(n, key)`` sends every row of a hot key (a 100×-turn
    conversation) to ONE partition; salting spreads each key over
    ``salt_buckets`` partitions deterministically. Use for per-row stages that
    partition by conv_id; keyed aggregations don't need it (map-side partial
    aggregation absorbs the skew), and joins get AQE skew splitting
    (spark.sql.adaptive.skewJoin.enabled, on by default in session.py).
    """
    salt = F.pmod(F.xxhash64(F.col(key), F.col("turn_idx") if "turn_idx" in df.columns else F.lit(0)), F.lit(salt_buckets))
    return df.repartition(n_partitions, F.col(key), salt)


# Repartition small scans only when rows carry a payload wide enough that
# per-row compute (shingle hashing, tokenize folds, vector math) plausibly
# dominates the scan. Narrow fact rows (events/lineitem-shaped, ~20 B/row)
# feed plain aggregates whose single-task partial agg is already cheaper
# than an extra exchange — measured +0.4 s on error_rates_events when they
# were repartitioned unconditionally.
_MIN_PARALLEL_ROW_BYTES = 64


def _byte_conf(spark: SparkSession, key: str, default: str) -> int:
    v = spark.conf.get(key, default)
    return int(
        spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)  # type: ignore[union-attr]
    )


def scan_with_min_parallelism(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """Scan-parallelism floor (optimization guide §2.2/§6, r6).

    A small table stored as one single-row-group parquet file scans as ONE
    task — ``spark.sql.files.maxPartitionBytes`` can only split BETWEEN row
    groups, so every downstream per-row stage (shingle hashing, HOF folds,
    regex masking) serializes on one core no matter how many are free
    (measured: dedup_minhash spent 4.5 s of its 5.2 s wall in a single scan
    task at sf0.1). Round-robin repartition to ``defaultParallelism`` when
    (a) the scan would yield fewer splits than cores AND (b) the table's
    compressed bytes-per-row ≥ 64 — i.e. rows carry a text/vector payload
    whose per-row compute dwarfs one small shuffle. Scale-adaptive by
    construction: a table big enough to split past the core count returns
    early from the file-size probe and pays NOTHING — the exchange exists
    only when it buys parallelism, and its cost is bounded by the (small)
    table it spreads. Probing reads parquet footers (local driver
    metadata), never the data. Results are partitioning-independent (the
    suite's N-vs-4N executor invariance), so this is a pure plan-shape
    change. ``path`` may be a local path or a ``file:`` URI; on any other
    scheme, or when the probe fails, the scan is returned unchanged and a
    warning names the path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = spark.sparkContext.defaultParallelism
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        log.warning("scan floor skipped for %s: only local paths are probed", path)
        return df
    local = url2pathname(url.path) if url.scheme == "file" else path
    try:
        if os.path.isfile(local):
            files = [local]
        else:
            files = [
                os.path.join(dp, fn)
                for dp, _dirs, fns in os.walk(local)
                for fn in fns
                if fn.endswith(".parquet")
            ]
        if not files:
            return df
        max_split = _byte_conf(spark, "spark.sql.files.maxPartitionBytes", "128MB")
        sizes = [os.path.getsize(f) for f in files]
        est_splits = sum(-(-s // max_split) for s in sizes)
        if est_splits >= target:
            return df  # big table: scan already parallel, probe stops here
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if rows == 0 or sum(sizes) / rows < _MIN_PARALLEL_ROW_BYTES:
            return df
    except (OSError, pa.ArrowException) as e:
        log.warning("scan floor skipped for %s: footer probe failed: %s", path, e)
        return df
    return df.repartition(target)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    return scan_with_min_parallelism(spark.read.parquet(path), spark, path)


def documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's ``documents`` corpus (doc_id, text, lang, source,
    n_chars) to the transcripts shape so the full pipeline can run over a
    provided table: one document = one single-turn conversation, with a
    deterministic timestamp derived from doc_id."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        F.format_string("conv_%08d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("source").alias("role"),
        "text",
        F.lit("none").alias("tool"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=(F.col("doc_id") % 86400).cast("double"))
        ).alias("ts"),
    )
