"""N vs 4N EXECUTOR scaling via ``local-cluster[W,C,M]`` — separate executor
JVMs on this host, the closest in-sandbox stand-in for real multi-executor
clusters (BASELINE.md north rule: ≥0.8 throughput scaling efficiency from N
to 4N executors).

Ladder: 1 executor × 2 cores  →  4 executors × 2 cores (N=2 → 4N=8 cores),
identical executor SHAPE, only the executor COUNT changes — exactly the
north-rule experiment. Each executor JVM has its own heap, GC, and shuffle
client; what still stays shared is the host memory bus (see the bandwidth
analysis in BENCH/BASELINE.md).

Interleaved repeats with min-take (noisy-neighbor VM); appends a section to
BENCH/BASELINE.md.

Usage: python bench/scaling_cluster.py [n_convs] [repeats] [cores] [mem_mb] [codec]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_zip(path: str) -> None:
    pkg = os.path.join(REPO, "log_parser_mind_spark")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))


def prepare_input(n_convs: int) -> tuple[str, int]:
    from log_parser_mind_spark.session import get_spark
    from log_parser_mind_spark.synth import synth_transcripts

    out = os.path.join(REPO, "data", f"scaling_input_{n_convs}.parquet")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        spark = get_spark(app_name="scaling_prepare", master=f"local[{os.cpu_count() or 1}]")
        df = synth_transcripts(spark, n_convs=n_convs, seed=42).repartition(128)
        df.write.mode("overwrite").parquet(out)
        n = spark.read.parquet(out).count()
        spark.stop()
    else:
        import duckdb

        n = duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    return out, n


def run_at(
    master: str,
    zip_path: str,
    input_path: str,
    n_partitions: int,
    codec: str,
) -> dict:
    cmd = [
        "spark-submit",
        "--master", master,
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.sql.session.timeZone=UTC",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.driver.memory=16g",
        "--conf", f"spark.io.compression.codec={codec}",
        "--conf", f"spark.sql.parquet.compression.codec={codec}",
        "--py-files", zip_path,
        os.path.join(REPO, "bench", "submit_job.py"),
        input_path,
        str(n_partitions),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=1800)
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON from {master}:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")


def masters(cores: int, mem_mb: int) -> dict[str, str]:
    return {
        f"N (1 exec × {cores} cores)": f"local-cluster[1,{cores},{mem_mb}]",
        f"4N (4 exec × {cores} cores)": f"local-cluster[4,{cores},{mem_mb}]",
    }


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    mem_mb = int(sys.argv[4]) if len(sys.argv) > 4 else 6144
    codec = sys.argv[5] if len(sys.argv) > 5 else "zstd"
    MASTERS = masters(cores, mem_mb)
    zip_path = os.path.join(REPO, "data", "logmind.zip")
    os.makedirs(os.path.join(REPO, "data"), exist_ok=True)
    build_zip(zip_path)
    input_path, n_turns = prepare_input(n_convs)
    print(f"input: {input_path} ({n_turns} turns)", flush=True)

    n_label, n4_label = list(MASTERS)
    runs: dict[str, list] = {k: [] for k in MASTERS}
    for i in range(repeats):
        order = list(MASTERS.items()) if i % 2 == 0 else list(reversed(MASTERS.items()))
        for label, master in order:
            r = run_at(master, zip_path, input_path, 256, codec=codec)
            runs[label].append(r)
            print(f"{label} [{master}] run {i}: {r['elapsed_sec']}s "
                  f"({r['turns_per_sec']} turns/s)", flush=True)

    best = {k: min(v, key=lambda r: r["elapsed_sec"]) for k, v in runs.items()}
    lo, hi = best[n_label], best[n4_label]
    eff = (hi["turns_per_sec"] / lo["turns_per_sec"]) / 4
    identical = lo["checksum"] == hi["checksum"]
    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")

    md = f"""

## Measured executor scaling — local-cluster (N vs 4N executor JVMs)

Generated by `python bench/scaling_cluster.py {n_convs} {repeats} {cores} {mem_mb} {codec}` on {stamp}.
Same job, same {n_turns}-turn input, same 256 input splits, {codec}; the ONLY
difference is the executor count: `{MASTERS[n_label]}` (N = 1 executor
× {cores} cores) vs `{MASTERS[n4_label]}` (4N = 4 executors × {cores} cores). Each
executor is a separate JVM with its own heap and shuffle client — the
in-sandbox equivalent of adding worker nodes. Best of {repeats} interleaved
runs per size.

| size | master | elapsed (s) | throughput (turns/s) |
|---|---|---|---|
| N | {MASTERS[n_label]} | {lo['elapsed_sec']} | {lo['turns_per_sec']} |
| 4N | {MASTERS[n4_label]} | {hi['elapsed_sec']} | {hi['turns_per_sec']} |

**Executor-scaling efficiency (T_N→4N)/4 = {eff:.3f}** (north-rule target ≥ 0.8).
Output crc32 checksum {"IDENTICAL across both sizes" if identical else "MISMATCH"}
({lo['checksum']}).
"""
    out = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(out, "a") as fh:
        fh.write(md)
    print(md)
    if not identical:
        sys.exit(2)


if __name__ == "__main__":
    main()
