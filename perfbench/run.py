"""Benchmark entry point: one workload of rotel_spark per invocation.

    python3 perfbench/run.py --workload bulk_routed --seed 1 --seconds 10 --trace 0

Run from the root of a rotel_spark checkout. The command generates the
seeded inputs (cached per seed and size under ``.perfbench_work/``),
starts one Spark driver sized to this host, measures the workload for
``--seconds`` seconds, checks every output against an independent
oracle and prints one ``name value unit`` line per metric, then, as the
last line, a JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones (see BENCHMARK.json).

Exits non-zero without a result line when the program under test is
missing or any step raises.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_routed", "stream_openloop")
KEEP_INPUTS = 3  # cached inputs kept per kind (most recently used)


def process_start_time() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - max(0.0, age)


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def host_sizing() -> dict:
    """Task slots = usable cores minus one, left to the driver's JIT, GC
    and Python threads (on a 4-core host, with every core running tasks,
    their contention swung pass times by ±15 % between runs); driver
    heap = a quarter of RAM, 1-6 GB."""
    slots = max(1, len(os.sched_getaffinity(0)) - 1)
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    heap_gb = max(1, min(6, mem_kb // (4 * 1024 * 1024)))
    return {"slots": slots, "heap_gb": heap_gb, "ram_mb": mem_kb // 1024}


class Run:
    """State of one benchmark invocation shared with the workload."""

    def __init__(self, args, host: dict):
        from spans import Tracer

        self.args = args
        self.host = host
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.out = os.path.join(self.work, "out")
        self.tracer = Tracer(enabled=bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        # metric → why this run could not measure it (reported as 0)
        self.unmeasured: dict[str, str] = {}
        self.spark = None
        self.session_start_s = 0.0
        self.prep_s = 0.0
        self.t_first_pass: float | None = None
        # metric prefix → (start, end) epoch seconds of a timed phase whose
        # event-log counters are reported under that prefix
        self.eventlog_windows: dict[str, tuple[float, float]] = {}

    # -- correctness ---------------------------------------------------
    def check(self, what: str, got, expected) -> bool:
        """One operation checked against the oracle: counts an attempt,
        and a failure when the output disagrees."""
        self.attempted += 1
        if got != expected:
            self.failed += 1
            self.problems.append(f"{what}: got {got!r}, expected {expected!r}")
            return False
        return True

    # -- inputs --------------------------------------------------------
    def inputs(self, kind: str, size: int, build) -> tuple[str, dict]:
        """Generated input for (kind, seed, size), built once and cached;
        only the KEEP_INPUTS most recently used entries of a kind stay."""
        from gen import cached

        root = os.path.join(self.work, "inputs")
        os.makedirs(root, exist_ok=True)
        key = f"{kind}_s{self.args.seed}_n{size}"
        path, prep_s, meta = cached(root, key, build)
        self.prep_s += prep_s
        os.utime(path)
        mine = sorted(
            (e for e in os.scandir(root) if e.name.startswith(kind + "_")),
            key=lambda e: e.stat().st_mtime, reverse=True,
        )
        for old in mine[KEEP_INPUTS:]:
            shutil.rmtree(old.path, ignore_errors=True)
        return path, meta

    # -- timing --------------------------------------------------------
    def timed_start(self) -> None:
        """Mark the start of the first timed pass (end of set-up)."""
        if self.t_first_pass is None:
            self.t_first_pass = time.time()

    def setup_s(self) -> float:
        return self.t_first_pass - process_start_time() - self.prep_s

    def put(self, name: str, value: float) -> None:
        """Record a metric; its unit is the one metrics.py declares."""
        self.metrics[name] = float(value)

    def error_rate(self) -> float:
        return self.failed / max(1, self.attempted)

    def result(self, wanted: dict[str, str]) -> dict:
        """The result line: every wanted metric (0 for a layer this
        workload does not exercise) plus the correctness tally."""
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                n: {"value": self.metrics.get(n, 0.0), "unit": u}
                for n, u in wanted.items()
            },
        }

    # -- untraced reference for the tracing overhead --------------------
    def save_reference(self, values: dict[str, float]) -> None:
        """Untraced figures of this (workload, seed), kept for a later
        traced run's overhead; only a ``--trace 0`` run writes them."""
        if self.args.trace:
            return
        d = os.path.join(self.work, "untraced")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{self.args.workload}_s{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump({"seed": self.args.seed, **values}, f)

    def trace_overhead(self, traced_s: float, key: str) -> float | None:
        """Report ``trace.overhead_s`` = traced wall − the untraced wall
        ``key`` that a ``--trace 0`` run recorded: that of this seed, else
        the most recent of this workload (another seed, same sizes).
        Returns the untraced wall; None, with the metric left
        unmeasured, when no ``--trace 0`` run has recorded one."""
        d = os.path.join(self.work, "untraced")
        own = os.path.join(d, f"{self.args.workload}_s{self.args.seed}.json")
        found = [own] if os.path.exists(own) else sorted(
            glob.glob(os.path.join(d, f"{self.args.workload}_s*.json")), key=os.path.getmtime
        )[-1:]
        if not found:
            self.unmeasured["trace.overhead_s"] = "no --trace 0 run of this workload recorded yet"
            return None
        with open(found[0]) as f:
            ref = json.load(f)
        overhead = traced_s - ref[key]
        self.put("trace.overhead_s", overhead)
        print(f"tracing overhead: traced {traced_s:.3f} s - untraced {ref[key]:.3f} s "
              f"(--trace 0 run, seed {ref['seed']}) = {overhead:+.3f} s")
        return ref[key]

    # -- session -------------------------------------------------------
    def start_spark(self):
        from rotel_spark.session import build_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        if self.args.trace:
            log_dir = os.path.join(self.work, "eventlog")
            shutil.rmtree(log_dir, ignore_errors=True)
            os.makedirs(log_dir)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        slots = self.host["slots"]
        self.spark = build_spark(
            app_name=f"perfbench_{self.args.workload}",
            master=f"local[{slots}]",
            shuffle_partitions=slots,
            extra_conf=conf,
        )
        self.session_start_s = time.perf_counter() - t0
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None

    def peak_rss_mb(self) -> float:
        pid = self.jvm_pid()
        with open(f"/proc/{pid}/status") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
        return kb / 1024.0

    def stop_spark(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        jvm = self.jvm_pid()
        workers = descendants(jvm) if jvm else []
        self.spark.stop()
        self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        wait_gone(workers)


def descendants(pid: int) -> list[int]:
    """Every live descendant of pid (Python workers under the JVM)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def wait_gone(pids: list[int]) -> None:
    """Wait up to 20 s for pids to exit (they follow the JVM down); kill
    stragglers."""
    import signal

    deadline = time.time() + 20.0
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def configure_env(work: str, host: dict) -> None:
    """Everything the driver JVM and Python workers write stays under
    the work dir; session size comes from the host, not from defaults."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["slots"])
    os.environ["ROTEL_SPARK_DRIVER_MEM"] = f"{host['heap_gb']}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "rotel_spark", "__init__.py")):
        print(f"rotel_spark not found under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)

    host = host_sizing()
    ticks0 = cpu_ticks()
    run = Run(args, host)
    configure_env(run.work, host)
    shutil.rmtree(run.out, ignore_errors=True)
    os.makedirs(run.out)

    import importlib

    workload = importlib.import_module(args.workload.split("_")[0])
    try:
        workload.main(run)
        if run.spark is not None:
            run.put("peak_rss_mb", run.peak_rss_mb())
    finally:
        run.stop_spark()
        shutil.rmtree(run.out, ignore_errors=True)
        if args.trace:
            run.tracer.dump(os.path.join(run.work, "trace", f"{args.workload}.spans.jsonl"))

    from metrics import END_TO_END, PER_LAYER

    if args.trace:
        from spans import event_log_metrics, read_event_log

        events = read_event_log(os.path.join(run.work, "eventlog"))
        for prefix, window in run.eventlog_windows.items():
            for name, value in event_log_metrics(events, window, host["slots"]).items():
                run.put(name.replace("spark.", prefix + ".", 1), value)
        run.put("session.start_s", run.session_start_s)
        run.put("prep_s", run.prep_s)
        run.put("error_rate", run.error_rate())
        wanted = PER_LAYER
    else:
        run.put("setup_s", run.setup_s())
        wanted = END_TO_END
    missing = [n for n in wanted if n not in run.metrics and n not in run.unmeasured
               and n in workload.MEASURES]
    if missing:
        raise RuntimeError(f"{args.workload} did not report {missing}")
    for p in run.problems:
        print(f"MISMATCH {p}", file=sys.stderr)
    result = run.result(wanted)
    ticks1 = cpu_ticks()
    steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    # steal: share of the host's CPU time taken by other guests during the run
    print(f"host slots={host['slots']} heap_gb={host['heap_gb']} ram_mb={host['ram_mb']} "
          f"steal={steal:.3f} prep_s={run.prep_s:.3f} error_rate={run.error_rate():.6f}")
    for name, m in result["metrics"].items():
        if name in run.unmeasured:
            print(f"{name} not measured: {run.unmeasured[name]} (reported as 0)")
        else:
            print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
