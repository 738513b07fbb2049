"""Per-sink aggregates (SURVEY §2.4 A1-A14, §2.6 O1-O5, §2.7 U1).

Each function maps one reference aggregate to a declarative DataFrame plan.
All of them are partial-aggregation friendly (map-side combine before the
exchange), which is what makes them survive 100 TB: the shuffle moves one row
per (group key × partition), not per input row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .route import severity_class_expr


def global_stats(parsed: DataFrame) -> DataFrame:
    """A1 — GetStats (internal/storage/clickhouse/client.go:273-300):
    count, uniq(template_id), Σ original, Σ compressed, derived ratio.
    ClickHouse ``uniq`` is approximate; the distinct count here is exact,
    which is what oracle equality needs."""
    return parsed.agg(
        F.count(F.lit(1)).alias("total_logs"),
        F.countDistinct("template_id").alias("unique_templates"),
        F.sum("original_size").cast("long").alias("total_original_size"),
        F.sum("compressed_size").cast("long").alias("total_compressed_size"),
    ).select(
        "*",
        F.when(
            F.col("total_original_size") > 0,
            F.col("total_compressed_size") / F.col("total_original_size"),
        ).otherwise(F.lit(0.0)).alias("compression_ratio"),
    )


def hourly_rollup(parsed: DataFrame) -> DataFrame:
    """A2 — hourly MV (001_clickhouse_schema.sql:37-48):
    GROUP BY source, template_id, toStartOfHour(ts)."""
    return parsed.groupBy(
        "source", "template_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("log_count"),
        F.sum("original_size").cast("long").alias("total_original_size"),
        F.sum("compressed_size").cast("long").alias("total_compressed_size"),
    )


def error_rates(parsed: DataFrame) -> DataFrame:
    """A3 — per-minute error-rate MV (001_clickhouse_schema.sql:51-62):
    after the J1 template join, countIf(pattern LIKE %ERROR%/%WARN%) + count
    per (source, minute)."""
    sev = severity_class_expr(F.col("template"))
    return parsed.groupBy("source", F.date_trunc("minute", "ts").alias("minute")).agg(
        F.count(F.when(sev == "error", 1)).alias("error_count"),
        F.count(F.when(sev == "warn", 1)).alias("warn_count"),
        F.count(F.lit(1)).alias("total_count"),
    )


def top_templates(parsed: DataFrame, k: int = 10) -> DataFrame:
    """A4/O3 — top-K templates by count (001_clickhouse_schema.sql:65).
    groupBy → orderBy → limit compiles to TakeOrderedAndProject: each task
    keeps only K rows, the driver merges — no global sort."""
    return (
        parsed.groupBy("template_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("template_id"))
        .limit(k)
    )


def template_stats(templates: DataFrame) -> DataFrame:
    """A6 — drain.GetStats (drain.go:419-438): cluster count, Σ size, avg."""
    return templates.agg(
        F.count(F.lit(1)).alias("total_clusters"),
        F.sum("log_count").alias("total_logs"),
        F.avg("log_count").alias("average_size"),
    )


def baselines(series: DataFrame, key: str = "key", value: str = "value") -> DataFrame:
    """A8 — calculateBaseline (cmd/anomaly/main.go:224-253): population mean +
    σ per key; σ=0 → 1 (the reference's div-by-zero guard)."""
    return series.groupBy(key).agg(
        F.avg(value).alias("mean"),
        F.coalesce(F.stddev_pop(value), F.lit(0.0)).alias("stddev_raw"),
        F.count(F.lit(1)).alias("n_points"),
    ).select(
        key,
        "mean",
        F.when(F.col("stddev_raw") == 0.0, F.lit(1.0)).otherwise(F.col("stddev_raw")).alias("stddev"),
        "n_points",
    )


def recent_window(
    series: DataFrame,
    now: str,
    key: str = "key",
    value: str = "value",
    window_minutes: int = 5,
    agg: str = "sum",
) -> DataFrame:
    """A9 — trailing 5-minute scan per key (cmd/anomaly/main.go:119-127
    errors=sum, :170-182 volume=mean). ``now`` replaces time.Now() for
    determinism (SURVEY §2.9 T3: we use event time, strictly better)."""
    fn = F.sum(value) if agg == "sum" else F.avg(value)
    return (
        series.filter(F.col("ts") > F.expr(f"timestamp'{now}' - interval {window_minutes} minutes"))
        .groupBy(key)
        .agg(fn.alias("recent"))
    )


def sustainability_metrics(stats: DataFrame) -> DataFrame:
    """A14 — derived compression/bytes-saved metrics (models.go:179-187,
    cmd/gateway/main.go:277-300). CO₂/cost factors are the reference's
    hardcoded demo constants."""
    saved = F.col("total_original_size") - F.col("total_compressed_size")
    return stats.select(
        "*",
        saved.alias("bytes_saved"),
        (saved / F.lit(1024.0**3) * F.lit(0.0002)).alias("co2_kg_saved"),
        (saved / F.lit(1024.0**3) * F.lit(0.023)).alias("cost_usd_saved"),
    )


def latest_per_key(df: DataFrame, key: str, order_col: str, tiebreak: str) -> DataFrame:
    """U1 — ReplacingMergeTree(last_seen) dedup (001_clickhouse_schema.sql:33):
    keep the newest row per key; deterministic tiebreak column required."""
    w = Window.partitionBy(key).orderBy(F.desc(order_col), F.desc(tiebreak))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def order_limit_offset(
    df: DataFrame, order_by: list[Column], limit: int, offset: int = 0
) -> DataFrame:
    """O1/O4 — ORDER BY … DESC LIMIT n OFFSET m
    (internal/storage/clickhouse/client.go:228-235). Spark has no OFFSET on
    DataFrames pre-sort → row_number window over a degenerate (single)
    partition; fine for API paging (limit+offset ≪ data), not for bulk."""
    if offset == 0:
        return df.orderBy(*order_by).limit(limit)
    w = Window.orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") > offset) & (F.col("_rn") <= offset + limit))
        .drop("_rn")
    )


def worker_metrics(parsed: DataFrame) -> DataFrame:
    """A13 — worker-pool processed/error counters (worker.go:47-54,213-223)
    recast as per-partition row counts for the manifest (north-rule lineage)."""
    return parsed.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when(F.col("template_id").isNull(), 1)).alias("errors"),
    )
