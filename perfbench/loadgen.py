"""Open-loop stream load generator — one single-threaded process.

    python3 loadgen.py --plan plan.json

The plan names a line pool (parquet, column ``line``), the watched
directory, a staging directory on the same file system, lines per file,
the index of the first file and the publish schedule (seconds after
start). The generator loads the pool, then waits for the ``go`` file
named in the plan; the time that file appears is the schedule's start.
File i holds pool lines [i·L, (i+1)·L) and is published at its scheduled
time by an atomic rename, whether or not the consumer keeps up. One
manifest line per file records its name, scheduled and actual publish
time (epoch seconds) and phase.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def publish(lines: list[str], i: int, per_file: int, staging: str, watch: str,
            due: float | None = None) -> tuple[str, float]:
    """Stage file i, wait until ``due`` (if given), rename it into the
    watched directory; returns (name, publish time)."""
    name = f"part-{i:06d}.log"
    staged = os.path.join(staging, name)
    with open(staged, "w") as f:
        f.write("\n".join(lines[i * per_file : (i + 1) * per_file]) + "\n")
    delay = 0.0 if due is None else due - time.time()
    if delay > 0:
        time.sleep(delay)
    os.rename(staged, os.path.join(watch, name))
    return name, time.time()


def read_pool(path: str) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["line"]).column("line").to_pylist()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plan", required=True)
    with open(ap.parse_args().plan) as f:
        plan = json.load(f)

    lines = read_pool(plan["pool"])
    while not os.path.exists(plan["go"]):
        time.sleep(0.005)
    start = time.time()
    with open(plan["manifest"], "a") as manifest:
        for k, entry in enumerate(plan["schedule"]):
            i = plan["first_file"] + k
            due = start + entry["t"]
            name, t_pub = publish(lines, i, plan["lines_per_file"], plan["staging"],
                                  plan["watch"], due)
            manifest.write(json.dumps({"name": name, "file": i, "t_sched": due,
                                       "t_pub": t_pub, "phase": entry["phase"]}) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
