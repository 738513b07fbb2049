"""Session builder behaviour."""

from __future__ import annotations

from log_parser_mind_spark.session import get_spark


def test_get_spark_on_live_session_submits_no_job(spark):
    """getOrCreate hands back the live context with its Python workers
    already warm: a second get_spark must not run the prewarm job again."""
    sc = spark.sparkContext
    sc.setJobGroup("get_spark_again", "second get_spark on a live session")
    try:
        # the conftest session's own arguments, so no SQL conf changes under
        # the other tests
        again = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert again.sparkContext is sc
    assert list(sc.statusTracker().getJobIdsForGroup("get_spark_again")) == []
