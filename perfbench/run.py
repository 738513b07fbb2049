"""The repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload fleet_logs --seed 3 --trace 0

Run from the root of a checkout. One Python process runs Spark at
``local[<cpus>]`` in a closed loop (one operation at a time). The run

1. sets up three times (session build, Python-worker prewarm, seeded input
   generation and write) and reports the median as ``setup_s``; traced, once;
2. with ``--trace 1``, runs the operation over a small input and checks its
   sink digests and its per-turn templates against the pandas oracle;
3. with ``--trace 0``, repeats the operation until ``--seconds``
   (BENCHMARK.json's ``run_seconds``) have passed and at least two
   operations ran, and reports the end-to-end metrics as medians over them;
   with ``--trace 1``, runs it once untraced and once traced, reports the
   per-layer metrics, and checks that the small input digests the same at
   ``local[1]``;
4. checks every operation's outputs, compares every committed sink's digest
   and every boundary count with the other operations of the run and with
   ``expected.json``, and counts each operation that fails either check.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is 1 if anything
failed. Each run appends what it observed to ``.perfbench_out/observed.jsonl``
(and, traced, its spans to ``.perfbench_out/spans.jsonl``); ``record.py``
turns the observations into ``expected.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
OUT = os.path.join(CHECKOUT, ".perfbench_out")
SETUP_REPS = 3
MIN_TIMED_OPS = 2
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:5.1f}s] {msg}", file=sys.stderr, flush=True)


def _env(workdir: str) -> None:
    """Keep Spark, its Python workers and every temp file inside the checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [CHECKOUT]


def _conf(workdir: str) -> dict[str, str]:
    tmp = os.path.join(workdir, "tmp")
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


class Run:
    """Failures and observations of one benchmark run."""

    def __init__(self, workload: str, seed: int):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        with open(os.path.join(HERE, "expected.json")) as fh:
            self.expected = json.load(fh).get(workload, {}).get(str(seed), {})
        self.observed: dict = {"sinks": None, "small": None, "counts": {}}

    def fail(self, msg: str) -> None:
        self.errors.append(msg)
        log(f"FAIL {msg}")

    def check_digests(self, what: str, key: str, got: dict[str, str]) -> bool:
        """Digests must equal the run's first set and the recorded set."""
        ok = True
        for ref, src in ((self.observed[key], "an earlier operation"), (self.expected.get(key), "expected.json")):
            if ref is not None and ref != got:
                bad = sorted(k for k in set(ref) | set(got) if ref.get(k) != got.get(k))
                self.fail(f"{what}: sink digests differ from {src}: {bad}")
                ok = False
        if self.observed[key] is None:
            self.observed[key] = got
        return ok

    def check_counts(self, counts: dict[str, float]) -> None:
        """Boundary counts must repeat exactly; drift is its own failure."""
        for k, v in counts.items():
            for ref, src in ((self.observed["counts"], "an earlier operation"), (self.expected.get("counts", {}), "expected.json")):
                if k in ref and ref[k] != v:
                    self.fail(f"determinism drift: {k} = {v}, {src} has {ref[k]}")
            self.observed["counts"].setdefault(k, v)

    def op_done(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


@dataclass
class Timing:
    wall: float
    run_s: float  # wall time with the hypervisor's steal taken out
    steal_frac: float
    cpu: float
    stored: int


def main() -> int:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        run_seconds = json.load(fh)["run_seconds"]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=run_seconds,
                    help=f"length of the timed loop (default: BENCHMARK.json run_seconds, {run_seconds})")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(CHECKOUT, "log_parser_mind_spark")):
        log("the log_parser_mind_spark package is not in this checkout")
        return 2
    workdir = os.path.join(OUT, f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(workdir)
    try:
        return _main(args, workdir)
    finally:
        _stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)


def _main(args, workdir: str) -> int:
    from log_parser_mind_spark.session import _prewarm_python_workers, get_spark

    import workloads
    from procstat import Sampler, StealClock
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
        return 2
    wl = workloads.WORKLOADS[args.workload]
    run = Run(args.workload, args.seed)
    cpus = os.cpu_count() or 1
    conf = _conf(workdir)
    inp_dir = os.path.join(workdir, "input")

    # 1. Set-up, several times (traced, once); the first also launches the JVM.
    setups, builds, prewarms = [], [], []
    reps = 1 if args.trace else SETUP_REPS
    for rep in range(reps):
        with StealClock() as clock:
            t0 = time.perf_counter()
            spark = get_spark(master=f"local[{cpus}]", extra_conf=conf, prewarm_python_workers=False)
            t1 = time.perf_counter()
            _prewarm_python_workers(spark)
            t2 = time.perf_counter()
            describe = wl.setup(spark, args.seed, inp_dir)
        setups.append(clock.run_s)
        builds.append(t1 - t0)
        prewarms.append(t2 - t1)
        if rep < reps - 1:
            spark.stop()
    inp = describe()
    log(f"{args.workload} seed={args.seed}: {inp.rows} rows, {inp.text_bytes} text bytes; "
        f"set-ups {[round(s, 2) for s in setups]}")
    jvm_pid = spark._jvm.ProcessHandle.current().pid()

    # 2. Traced runs check the operation over a small input: sink digests,
    #    and per-turn templates against the oracle.
    if args.trace:
        small, errors = wl.small_check(spark, args.seed, workdir, oracle=True)
        for e in errors:
            run.fail(e)
        run.op_done(run.check_digests("small input", "small", small) and not errors)
        log("small input checked")

    # 3. Untraced, the operation repeats until --seconds have passed and at
    #    least MIN_TIMED_OPS ran, starting from the freshly set-up session.
    #    Traced, it runs once untraced (the small input has warmed its code
    #    paths), as the reference for the traced operation.
    timings: list[Timing] = []
    with Sampler(jvm_pid) as sampler:
        t_start = time.perf_counter()
        while True:
            t = _timed_op(spark, wl, run, inp, os.path.join(workdir, f"op{len(timings)}"), sampler, len(timings))
            if t is None:
                break
            timings.append(t)
            if args.trace or (len(timings) >= MIN_TIMED_OPS and time.perf_counter() - t_start >= args.seconds):
                break
    log(f"operation walls {[round(t.wall, 2) for t in timings]}, steal {[round(t.steal_frac, 3) for t in timings]}")

    metrics: dict[str, tuple[float, str]] = {}
    if not args.trace and timings:
        metrics = {
            "rows_per_s": (inp.rows / statistics.median(t.run_s for t in timings), "rows/s"),
            "setup_s": (statistics.median(setups), "s"),
            "cpu_s": (statistics.median(t.cpu for t in timings), "s"),
            "peak_rss_mb": (sampler.peak_rss / 2**20, "MB"),
            "stored_bytes_per_input_byte": (timings[0].stored / inp.text_bytes, "ratio"),
        }
    elif timings:
        tr = Tracer(spark)
        try:
            sinks, counts = wl.traced(spark, tr, inp, os.path.join(workdir, "traced"))
            ok = run.check_digests("traced operation", "sinks", workloads.digests(sinks))
        except Exception:
            traceback.print_exc()
            run.fail("traced operation raised")
            ok, counts = False, {}
        run.op_done(ok)
        if ok:
            run.check_counts({k: counts[k] for k in workloads.LOGICAL_COUNTS if k in counts})
            tr.collect()
            tr.dump(os.path.join(OUT, "spans.jsonl"), workload=args.workload, seed=args.seed)
            metrics = _layer_metrics(tr, counts, timings[-1].wall, builds[0], statistics.median(prewarms))
            log(f"traced operation: {tr.wall():.2f} s, untraced {timings[-1].wall:.2f} s; layer self times sum "
                f"to {metrics['trace.self_sum_frac'][0]:.3f} of the untraced wall")
    spark.stop()

    # 4. Traced runs check that the small input digests the same at local[1].
    if args.trace and run.observed["small"] is not None:
        spark = get_spark(master="local[1]", extra_conf=conf, prewarm_python_workers=False)
        if wl.small_check(spark, args.seed, workdir, oracle=False)[0] != run.observed["small"]:
            run.fail(f"local[1] and local[{cpus}] sink digests differ")
        spark.stop()
        log("local[1] digests checked")

    _append_observed(args, run)
    correct = not run.errors
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed if run.attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct and metrics else 1


def _timed_op(spark, wl, run: Run, inp, root: str, sampler, i: int) -> Timing | None:
    """Run, time and check one operation; None if it raised."""
    import workloads
    from procstat import StealClock

    c0 = sampler.cpu_s()
    try:
        with StealClock() as clock:
            sinks = wl.op(spark, inp, root)
    except Exception:
        traceback.print_exc()
        run.fail(f"operation {i} raised")
        run.op_done(False)
        return None
    t = Timing(clock.wall, clock.run_s, clock.steal_frac, sampler.cpu_s() - c0, workloads.stored_files(root)[0])
    got = workloads.digests(sinks)
    errors = wl.output_errors(inp, got)
    for e in errors:
        run.fail(f"operation {i}: {e}")
    ok = run.check_digests(f"operation {i}", "sinks", got) and not errors
    n_errors = len(run.errors)
    run.check_counts({stored_key(): t.stored})
    run.op_done(ok and len(run.errors) == n_errors)
    spark.catalog.clearCache()
    shutil.rmtree(root, ignore_errors=True)
    return t


def stored_key() -> str:
    """Committed bytes depend on the number of output files, so they are
    compared only between runs on as many cores."""
    return f"manifest.commit.bytes@{os.cpu_count()}cpus"


def _layer_metrics(tr, counts: dict, untraced_wall: float, build_s: float, prewarm_s: float) -> dict:
    import workloads

    layers = tr.layers()
    out = {
        "session.build_s": (build_s, "s"),
        "session.prewarm_s": (prewarm_s, "s"),
        "trace.overhead_frac": (tr.wall() / untraced_wall - 1, "ratio"),
        "trace.self_sum_frac": (tr.self_sum() / untraced_wall, "ratio"),
    }
    for name, unit in workloads.PER_LAYER.items():
        if name not in out:
            layer, _, f = name.rpartition(".")
            out[name] = (layers[layer][f] if f in layers.get(layer, {}) else counts.get(name, 0), unit)
    return out


def _append_observed(args, run: Run) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "observed.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                             "cpus": os.cpu_count(), "errors": run.errors, **run.observed}) + "\n")


def _stop_jvm() -> None:
    """End the JVM that pyspark launched, and wait for it and its Python
    workers to exit. The JVM exits when its standard input closes."""
    from pyspark import SparkContext

    from procstat import alive, process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    tree = process_tree(proc.pid)
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(alive(p) for p in tree):
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
