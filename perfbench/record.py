"""Record the reference outputs into ``expected.json``.

    python3 perfbench/record.py

Reads ``.perfbench_out/observed.jsonl`` (appended by every ``run.py``) and,
for each (workload, seed), records the sink digests, the small-input digests
and the logical boundary counts. Runs that failed are skipped; runs that
disagree with each other make it refuse to write. Entries for seeds not
observed again are kept.
"""

from __future__ import annotations

import json
import os
import sys

from run import HERE, OUT


def main() -> int:
    path = os.path.join(HERE, "expected.json")
    with open(path) as fh:
        expected = json.load(fh)
    seen: dict[str, dict[str, dict]] = {}
    conflicts = []
    with open(os.path.join(OUT, "observed.jsonl")) as fh:
        for line in fh:
            o = json.loads(line)
            if o["errors"]:
                continue
            entry = seen.setdefault(o["workload"], {}).setdefault(str(o["seed"]), {})
            where = f"{o['workload']} seed {o['seed']}"
            for key in ("sinks", "small"):
                if o[key] and entry.setdefault(key, o[key]) != o[key]:
                    conflicts.append(f"{where}: {key} digests differ between runs")
            for k, v in o["counts"].items():
                if entry.setdefault("counts", {}).setdefault(k, v) != v:
                    conflicts.append(f"{where}: {k} differs between runs")
    if conflicts:
        print("\n".join(conflicts), file=sys.stderr)
        return 1
    for workload, seeds in seen.items():
        expected.setdefault(workload, {}).update(seeds)
    with open(path, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"recorded {sum(len(s) for s in seen.values())} (workload, seed) entries", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
