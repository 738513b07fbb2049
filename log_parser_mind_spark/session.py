"""SparkSession builder with scale-appropriate defaults.

Single place to pin the configs that matter both on local[N] and on a real
multi-executor cluster: AQE (runtime re-plan + skew-join splitting), UTC
session timezone (oracle parity with DuckDB), Arrow for the pandas-UDF
boundary, and shuffle parallelism sized to cores instead of the 200 default.
"""

from __future__ import annotations

import logging
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def get_spark(
    app_name: str = "log_parser_mind_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    prewarm_python_workers: bool = True,
) -> SparkSession:
    cpus = os.cpu_count() or 4
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = cpus if inner == "*" else max(int(inner), 1)
        else:
            shuffle_partitions = 200  # cluster: let AQE coalesce downward

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # lz4 for shuffle + parquet (r6): interleaved min-take A/B at sf0.1
        # measured lz4 faster than the zstd defaults of rounds 2-5 both for
        # the many small shuffles (−5 s suite) and for the write-once
        # intermediate parquet snapshots the pipeline emits (−3 s) — zstd's
        # better ratio only pays when shuffle/storage bandwidth is the
        # bottleneck, which local NVMe + small blocks are not
        # (OPTIMIZATION_r06.md). On network-bound clusters where ratio
        # matters, override via SPARK_GRAFT_EXTRA_CONF=
        # "spark.io.compression.codec=zstd;spark.sql.parquet.compression.codec=zstd".
        .config("spark.io.compression.codec", "lz4")
        .config("spark.sql.parquet.compression.codec", "lz4")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Deploy-time overrides without code changes (cluster tuning knob —
    # semicolon-separated key=value pairs), applied before caller extras.
    for pair in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";")):
        k, _, v = pair.partition("=")
        if k.strip() and v.strip():
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # getOrCreate on a live context returns it with its worker pool already
    # warm; only a context built here pays the first-stage fork.
    new_context = SparkContext._active_spark_context is None
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if prewarm_python_workers and new_context:
        _prewarm_python_workers(spark)
    return spark


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Fork and warm one reusable Python worker per core at session build
    (r6, guide §4.5's once-per-task principle applied once-per-session).

    The first Python stage of a session otherwise pays daemon start + worker
    fork + pyarrow/package imports inline in whatever query happens to run
    first (measured 1-2 s on the miner's clusterer stage). Worker reuse
    (`spark.python.worker.reuse`, default on) keeps the warmed pool alive
    for every later Python stage. This touches no data and computes nothing
    query-specific — it is pool warmup, the same work the first query would
    do, moved to session build. Disable with get_spark(prewarm_python_workers=False)."""

    def warm(batches):
        try:  # the package import is best-effort: a worker whose path
            import log_parser_mind_spark.operators.miner  # noqa: F401
        except Exception:  # misses the repo still warms pyarrow + protocol
            pass
        for b in batches:
            yield b

    try:
        n = spark.sparkContext.defaultParallelism
        (
            spark.range(n)
            .repartition(n)
            .mapInArrow(warm, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception as e:  # warmup must never break session creation
        log.warning(
            "python worker prewarm failed, first Python stage pays the fork: %r", e, exc_info=True
        )
