"""The flagship parse → mine → enrich → route → aggregate job (SURVEY §3.1).

One lazily-built logical plan per sink over a shared parse stage; Catalyst +
AQE replace the reference's gateway→ingestion→compression→anomaly process
boundaries entirely (SURVEY §3.1 "Spark rebuild of this path"). Stages commit
snapshots through the manifest store: ``parsed_turns`` first, then every other
sink concurrently. A killed or failed run resumes from the sinks it committed
(``run`` is idempotent per run_id).

In-memory mode (``root=None``) returns the sink DataFrames without writing —
used by tests, __spark_entry__ and the DuckDB oracle comparisons.
"""

from __future__ import annotations

import functools
import logging
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from ..config import PipelineConfig
from ..operators import aggregate as agg
from ..operators.anomaly import detect_all
from ..operators.enrich import enrich_with_lookup, role_tool_lookup
from ..operators.parse import parse_pipeline
from ..operators.route import DEFAULT_ROUTES, with_route
from ..sources.manifest import SnapshotStore

log = logging.getLogger(__name__)

PARSED_SORT = ["source", "template_id", "ts"]  # 001_clickhouse_schema.sql:21 sort key


@dataclass
class JobResult:
    sinks: dict[str, DataFrame]
    timings: dict[str, float] = field(default_factory=dict)
    resumed: list[str] = field(default_factory=list)


def _downstream_sinks(
    parsed: DataFrame, config: PipelineConfig, now: str | None
) -> dict[str, DataFrame]:
    """Aggregate/fan-out sinks derived from an (already enriched+routed)
    parsed_turns DataFrame — reusable over either the lazy plan or a
    committed snapshot."""
    sinks: dict[str, DataFrame] = {
        "hourly_rollup": agg.hourly_rollup(parsed),
        "error_rates": agg.error_rates(parsed),
        "top_templates": agg.top_templates(parsed),
        "global_stats": agg.global_stats(parsed),
    }
    for r in DEFAULT_ROUTES:
        sinks[f"route_{r.name}"] = parsed.filter(r.predicate)
    if now is not None:
        sinks["alerts"] = detect_all(parsed, now, config.anomaly)
    return sinks


def _parse_stage(
    spark: SparkSession, transcripts: DataFrame, config: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """The shared parse plan: (enriched + routed parsed_turns, templates)."""
    parsed, templates, _ = parse_pipeline(transcripts, config)
    return with_route(enrich_with_lookup(parsed, role_tool_lookup(spark))), templates


def build_sinks(
    spark: SparkSession,
    transcripts: DataFrame,
    config: PipelineConfig | None = None,
    now: str | None = None,
) -> dict[str, DataFrame]:
    """Build every sink DataFrame lazily from one shared parse plan."""
    config = config or PipelineConfig()
    enriched, templates = _parse_stage(spark, transcripts, config)
    sinks: dict[str, DataFrame] = {"parsed_turns": enriched, "templates": templates}
    sinks.update(_downstream_sinks(enriched, config, now))
    return sinks


def run(
    spark: SparkSession,
    transcripts: DataFrame,
    root: str | None = None,
    run_id: str = "run_0",
    config: PipelineConfig | None = None,
    now: str | None = None,
    namespace: str | None = None,
) -> JobResult:
    """Execute the job. With ``root`` set, each sink is committed as a
    snapshot; on re-run with the same run_id, sinks already committed by that
    run are skipped (resume-from-checkpoint, north rule), and a new run_id
    recomputes every sink. ``namespace`` selects the Iceberg catalog backend
    when its runtime is present."""
    config = config or PipelineConfig()
    if root is None:
        return JobResult(sinks=build_sinks(spark, transcripts, config, now))

    # Backend dispatch: a configured Iceberg namespace + runtime selects the
    # real catalog path; in-sandbox this always resolves to the
    # parquet+manifest emulation (sources/iceberg.snapshot_store).
    from ..sources.iceberg import snapshot_store

    store = snapshot_store(spark, root, namespace=namespace)
    # Both backends carry the same resume surface: manifest() lineage rows
    # cross-checked against is_committed() (parquet: _COMMITTED marker files;
    # Iceberg: snapshot ids in catalog metadata, where the atomic data commit
    # IS the marker — sources/iceberg.py).
    result = JobResult(sinks={})
    done = _committed_by_run(store, run_id)

    def commit_stage(name: str, df_fn, sort=None, partition_by=None):
        """Commit one sink unless this run already did. Returns its commit
        seconds (None when it resumes) and its committed snapshot."""
        took = None
        if name not in done:
            t0 = time.time()
            store.commit(
                df_fn(), name, run_id=run_id, sort_within_partitions=sort, partition_by=partition_by
            )
            took = time.time() - t0
        return took, store.read(name)

    def record(name: str, took: float | None, committed: DataFrame) -> None:
        if took is None:
            result.resumed.append(name)
        else:
            result.timings[name] = took
        result.sinks[name] = committed

    # Step 1: the expensive parse+mine pass, committed alone; every other
    # sink reads either the committed columnar snapshot (one big scan total,
    # not one per sink) or the assignments its broadcast join cached.
    build_parse = functools.cache(functools.partial(_parse_stage, spark, transcripts, config))

    # parsed_turns is month-partitioned (001_clickhouse_schema.sql:20
    # PARTITION BY toYYYYMM) so SnapshotStore.expire() can TTL whole month
    # directories without ever rewriting surviving data.
    record("parsed_turns", *commit_stage(
        "parsed_turns",
        lambda: build_parse()[0].withColumn("month", F.date_format("ts", "yyyy-MM")),
        sort=PARSED_SORT,
        partition_by=["month"],
    ))

    # Step 2: the other sinks at once, one thread each. Each is a few small
    # jobs; committed one after another they leave most task slots idle
    # while the driver waits. Under the FIFO scheduler a job that fills the
    # slots still runs first, so on a cluster this degrades to serial order.
    # Targets are wrapped here, on the caller's thread, so its job group,
    # description and tags carry over to the commit jobs.
    wave = {"templates": lambda: build_parse()[1]}
    for name, df in _downstream_sinks(result.sinks["parsed_turns"], config, now).items():
        wave[name] = lambda df=df: df
    with ThreadPoolExecutor(max_workers=len(wave)) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(commit_stage), name, df_fn)
            for name, df_fn in wave.items()
        }
    # Every commit has finished here. The first failure in sink order is
    # raised and any later ones logged; the sinks that did commit stay
    # committed, and a re-run with the same run_id resumes them.
    failed = [(name, f.exception()) for name, f in futures.items() if f.exception()]
    for name, e in failed[1:]:
        log.error("commit of sink %s failed as well: %s", name, e)
    if failed:
        raise failed[0][1]
    for name, future in futures.items():
        record(name, *future.result())
    return result


def maintain(
    spark: SparkSession,
    root: str,
    ttl_cutoff: str | None = None,
    append_sinks: tuple[str, ...] = ("stream_parsed",),
    keep_history: int = 3,
    dry_run: bool = False,
) -> dict:
    """Warehouse maintenance pass — the explicit analog of what ClickHouse
    does in the background (TTL part drops + MergeTree part merges,
    001_clickhouse_schema.sql:20-22):

      1. TTL: drop parsed_turns month partitions before ``ttl_cutoff``
         (partition delete, never a rewrite of survivors).
      2. INCREMENTALLY compact each APPEND-style sink: only the raw
         post-compaction epochs (≥2 of them) consolidate into a new
         snapshot; the previous consolidated snapshot is left untouched, so
         each cycle costs O(new data), never O(table). Append-style is
         declared via ``append_sinks`` — on a replace-style sink compaction
         would union history into duplicates, so it is never inferred.
      3. Vacuum superseded epoch dirs; prune replace-style sink history to
         the newest ``keep_history`` snapshots (read() = latest; older
         snapshots are mere history).

    Append-ness is the union of the DECLARED ``append_sinks`` and any sink
    whose own commit markers carry the ``append_style`` tag (the streaming
    path tags its epochs) — a forgotten declaration degrades to a skipped
    compaction, never to keep_last pruning live epochs (ADVICE r3).

    ``dry_run=True`` reports what each step WOULD do without touching disk,
    and still runs the same up-front validation as the real pass (a cutoff
    the real run would reject raises in the preview too). Report shapes:
    ``compacted[sink]`` is the would-be source list on a dry run vs the new
    snapshot id on a real one; ``vacuumed[sink]`` on a dry run includes the
    compaction sources that the real pass would supersede then reclaim.

    Idempotent, and safe alongside a live streaming writer: snapshot ids are
    mkdir-reserved (no overwrite race) and an epoch committed mid-compaction
    stays visible because compaction supersedes only its listed sources.
    Maintenance runs on the parquet emulation (an Iceberg deployment gets
    rewrite_data_files/expire_snapshots from the catalog instead). Returns a
    per-sink report."""
    import os

    store = SnapshotStore(spark, root)
    report: dict = {"expired": [], "compacted": {}, "vacuumed": {}}
    sinks = [
        d
        for d in sorted(os.listdir(root))
        if d != "_manifest" and os.path.isdir(os.path.join(root, d))
    ]
    if ttl_cutoff is not None:
        # Validate even when nothing will be expired / on a preview: a dry
        # run reporting success for a cutoff the real run rejects defeats
        # the preview's purpose.
        from ..sources.manifest import _normalize_cutoff_month

        _normalize_cutoff_month(ttl_cutoff)
        if store.committed_snapshots("parsed_turns"):
            if not dry_run:
                store.expire("parsed_turns", "ts", ttl_cutoff)
            report["expired"].append("parsed_turns")
    for sink in sinks:
        if not store.committed_snapshots(sink):
            continue
        if sink in append_sinks or store.is_append_style(sink):
            raw_epochs = [
                s
                for s in store.visible_snapshots(sink)
                if "compacted_from" not in store._marker(sink, s, default={})
            ]
            would_compact = len(raw_epochs) > 1
            if would_compact:
                if dry_run:
                    report["compacted"][sink] = raw_epochs
                else:
                    report["compacted"][sink] = store.compact(sink, sources=raw_epochs)
            vacuumed = store.vacuum(sink, dry_run=dry_run)
            if dry_run and would_compact:
                # The real pass's compaction supersedes its sources, which
                # the subsequent vacuum then reclaims — preview that too.
                vacuumed = sorted(set(vacuumed) | set(raw_epochs))
        else:
            vacuumed = store.vacuum(sink, keep_last=keep_history, dry_run=dry_run)
        if vacuumed:
            report["vacuumed"][sink] = vacuumed
    return report


def _committed_by_run(store: SnapshotStore, run_id: str) -> set[str]:
    # A fresh root reads as an empty manifest (explicit schema), so an error
    # here means unreadable lineage: recompute everything, but say so.
    try:
        m = store.manifest()
        rows = (
            m.filter((m.run_id == run_id) & (m.partition_id == -1) & (m.status == "committed"))
            .select("stage", "snapshot")
            .distinct()
            .collect()
        )
    except (Py4JJavaError, PySparkException) as e:
        where = getattr(store, "root", None) or store.namespace
        cause = e.java_exception.toString() if isinstance(e, Py4JJavaError) else e
        log.warning("manifest of %s is unreadable, recomputing every sink: %s", where, cause)
        return set()
    # Trust the manifest only when the snapshot's COMMIT marker actually
    # exists — a manifest row without a marker (crash window / partial state)
    # must trigger recompute, never a FileNotFoundError at read time.
    return {r.stage for r in rows if store.is_committed(r.stage, r.snapshot)}
