"""Spans around calls into the package's layers.

Each span tags its Spark jobs with a job group of its own; stage metrics are
read at the end from the live status store (it works with the UI disabled)
and attributed to the span whose group first ran the stage. A layer boundary
is forced by running the lazily built plan into a ``noop`` sink. A twin
persists only what the untraced job persists (``workloads.py`` names the
exceptions), so a span re-executes the unpersisted layers before it: those
are its *prefix*, and its self time is its wall time minus the time the
prefix span spent running its own jobs (the prefix's plan building is not
repeated, so it is not subtracted). A *probe* span measures a layer the
traced operation does not run; it is left out of the operation's totals.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

AUX_GROUP = "perfbench-aux"
STANDARD = ("self_s", "cpu_s", "shuffle_bytes", "tasks", "task_skew", "rows_out")


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Span:
    layer: str
    group: str
    prefix: "Span | None"
    probe: bool  # measures a layer outside the traced operation
    start: float = 0.0
    wall: float = 0.0
    forced: float = 0.0  # seconds spent running the span's forced jobs
    rows_out: int = 0
    observed: dict = field(default_factory=dict)
    cpu: float = 0.0
    shuffle: int = 0
    tasks: int = 0
    skew: float = 0.0


class Tracer:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, prefix: Span | None = None, probe: bool = False):
        s = Span(layer, f"perfbench-{len(self.spans)}", prefix, probe)
        self.sc.setJobGroup(s.group, layer, False)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.wall = time.perf_counter() - s.start
            self.sc.setJobGroup(AUX_GROUP, "untraced", False)
            self.spans.append(s)

    def force(self, s: Span, df: DataFrame, **extra: Column) -> dict:
        """Run ``df`` into a noop sink inside span ``s``; count its rows (and
        any ``extra`` aggregates) with an Observation, which adds no job."""
        obs = Observation(f"{s.group}-{len(s.observed)}")
        t0 = time.perf_counter()
        noop(df.observe(obs, F.count(F.lit(1)).alias("rows"), *[c.alias(k) for k, c in extra.items()]))
        got = obs.get
        s.forced += time.perf_counter() - t0
        s.rows_out += got["rows"]
        s.observed.update(got)
        return got

    def wall(self) -> float:
        """Traced wall time of the operation: first span start to last span
        end, probes left out."""
        op = [s for s in self.spans if not s.probe]
        return max(s.start + s.wall for s in op) - min(s.start for s in op)

    def self_sum(self) -> float:
        """The self times of the operation's spans, summed."""
        return sum(_self_s(s) for s in self.spans if not s.probe)

    def collect(self) -> None:
        """Read every span's stage metrics from the status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        groups = {s.group: s for s in self.spans}
        owner: dict[int, Span] = {}
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            if g.isDefined() and g.get() in groups:
                ids = [int(x) for x in j.stageIds().mkString(",").split(",") if x]
                jobs.append((j.jobId(), groups[g.get()], ids))
        for _, s, ids in sorted(jobs, key=lambda t: t[0]):
            for sid in ids:
                owner.setdefault(sid, s)
        no_status = self.spark._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        longest: dict[str, tuple[int, int, int]] = {}
        for sid, s in owner.items():
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                s.cpu += st.executorCpuTime() / 1e9
                s.shuffle += st.shuffleWriteBytes()
                s.tasks += st.numCompleteTasks()
                run = st.executorRunTime()
                if run > longest.get(s.group, (-1, 0, 0))[0]:
                    longest[s.group] = (run, sid, st.attemptId())
        for s in self.spans:
            if s.group in longest:
                _, sid, attempt = longest[s.group]
                tasks = store.taskList(sid, attempt, 1 << 20)
                durs = []
                for i in range(tasks.size()):
                    d = tasks.apply(i).duration()
                    if d.isDefined():
                        durs.append(d.get())
                if durs and statistics.median(durs) > 0:
                    s.skew = max(durs) / statistics.median(durs)

    def dump(self, path: str, **tags) -> None:
        """Append every span, with ``tags``, as one JSON line each."""
        with open(path, "a") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    **tags, "layer": s.layer, "group": s.group,
                    "prefix": s.prefix.group if s.prefix else None, "probe": s.probe,
                    "start": s.start, "wall": s.wall, "forced": s.forced, "rows_out": s.rows_out, "cpu": s.cpu,
                    "shuffle": s.shuffle, "tasks": s.tasks, "skew": s.skew,
                }) + "\n")

    def layers(self) -> dict[str, dict[str, float]]:
        """Standard fields per layer, summed over its spans. Every field but
        ``task_skew`` is the span's own share: its total minus its prefix's
        (for ``self_s``, minus the prefix's forced-job time).
        ``task_skew`` is max/median task time of the span's longest stage."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            p = s.prefix
            m = out.setdefault(s.layer, dict.fromkeys(STANDARD, 0.0))
            m["self_s"] += _self_s(s)
            m["cpu_s"] += s.cpu - (p.cpu if p else 0.0)
            m["shuffle_bytes"] += s.shuffle - (p.shuffle if p else 0)
            m["tasks"] += s.tasks - (p.tasks if p else 0)
            m["task_skew"] = max(m["task_skew"], s.skew)
            m["rows_out"] += s.rows_out
        return out


def _self_s(s: Span) -> float:
    return s.wall - (s.prefix.forced if s.prefix else 0.0)
