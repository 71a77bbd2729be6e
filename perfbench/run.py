"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run from the repository root. One client (this process) drives the
workload in a closed loop on ``local[N]``, N = the CPUs this process may
use. Set-up (session, seeded inputs written to parquet, untimed warm-up)
comes first; then timed operations repeat for ``--seconds`` and every
one is checked. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones (and writes a spans file). The line
before it carries the input sizes, sample counts and host probes; both
also go to ``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
HEAP = "2g"


def process_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def probe_ms() -> tuple:
    """Fixed single-thread CPU work (~4 ms unloaded): its wall time and
    its CPU time in ms. Both move only with the host (steal, contention
    for the core), so they tell a noisy host apart from a slower
    program."""
    t0, c0 = time.perf_counter(), time.thread_time()
    h = b"probe"
    for _ in range(10_000):
        h = hashlib.md5(h).digest()
    return (time.perf_counter() - t0) * 1000.0, (time.thread_time() - c0) * 1000.0


def _descendants(pid: int) -> list:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> tuple:
    """CPU seconds (user + system) used so far by this process and its
    live descendants — the driver, the JVM and the Python workers, plus
    whatever children of theirs have already been reaped — and, of
    that, by the JVM's JIT compiler threads."""
    total = jit = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            threads = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])
        for tid in threads if len(threads) > 1 else ():
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if "CompilerThre" in stat[stat.index("(") : stat.rindex(")")]:
                fields = stat.rsplit(")", 1)[1].split()
                jit += int(fields[11]) + int(fields[12])
    tick = os.sysconf("SC_CLK_TCK")
    return total / tick, jit / tick


class PeakRss(threading.Thread):
    """Samples the resident memory of the process tree (this driver, the
    JVM, the Python workers) and keeps the peak of the sum. Memory is
    read as PSS, so pages that forked Python workers share with their
    parent count once."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts: dict = {}
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = 0
        parts = {}
        for pid in _descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:"))
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
            except (OSError, StopIteration, ValueError):
                continue
            total += kb
            parts[comm] = parts.get(comm, 0) + kb
        if total > self.peak_kb:
            self.peak_kb, self.peak_parts = total, parts

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self.sample()
        self._stop_evt.set()
        self.join(timeout=10)
        return self.peak_kb / 1024.0


class Run:
    """State of one benchmark run: the session, the work directory, the
    timed operations and the tracer."""

    def __init__(self, spark, work: Path, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = len(os.sched_getaffinity(0))
        self.ops: list = []
        self.info: dict = {}
        self.first_op_at: float | None = None
        self.tracer = None
        if trace:
            from tracing import Tracer

            self.tracer = Tracer(work.name)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one set-up step (recorded, not a metric)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.info.setdefault("setup_phases_s", {})[name] = round(
                time.perf_counter() - t0, 3
            )

    def timed(self, kind: str, fn, check, traced: bool = False) -> None:
        """Run one timed operation: host probe, ``fn()`` timed from
        outside, then ``check(result)`` (untimed). An exception or a
        failed check marks the operation failed; its time becomes
        +inf so it also misses every latency figure."""
        probe, probe_cpu = probe_ms()
        if self.first_op_at is None:
            self.first_op_at = time.time()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        seconds = None
        try:
            result = fn()
            seconds = time.perf_counter() - t0
            cpu1 = tree_cpu_s()
            problem = check(result)
        except Exception as exc:  # the run goes on; the op counts as failed
            problem = f"{type(exc).__name__}: {str(exc)[:300]}"
        end = time.perf_counter()
        if seconds is None:
            seconds = end - t0
            cpu1 = tree_cpu_s()
        jit = cpu1[1] - cpu0[1]
        self.ops.append({
            "kind": kind,
            "traced": traced,
            "seconds": seconds if problem is None else float("inf"),
            "wall_s": seconds,
            "cpu_s": cpu1[0] - cpu0[0] - jit,
            "jit_cpu_s": jit,
            "check_s": end - t0 - seconds,
            "probe_ms": probe,
            "probe_cpu_ms": probe_cpu,
            "problem": problem,
        })

    def seconds_of(self, kind: str, key: str = "seconds") -> list:
        """Times of the untraced operations of one kind; a failed one is
        +inf. ``key="cpu_s"`` gives their CPU seconds instead."""
        return [
            o[key] if o["problem"] is None else float("inf")
            for o in self.ops
            if o["kind"] == kind and not o["traced"]
        ]


def task_slots(cpus: int) -> int:
    """Spark task threads for ``cpus`` CPUs: half of them. A task that
    crosses the Python boundary keeps two processes busy at once (the
    JVM task thread and the Python worker it streams Arrow batches to),
    so ``local[cpus]`` would run about twice as many busy threads as
    there are CPUs and time the OS scheduler more than the program."""
    return max(1, cpus // 2)


def make_session(work: Path, slots: int):
    from named_architecture_entity_recognition_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=f"local[{slots}]",
        extra_conf={
            # fixed, pre-touched heap: its share of peak_rss_mb is constant
            # instead of following G1's timing-dependent heap growth
            "spark.driver.memory": HEAP,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # compiler threads that never exit: their CPU time stays
            # readable per thread, so it can be left out of cpu_s
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and the Python workers
    it started have exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    leftovers = [p for p in _descendants(proc.pid) if p != proc.pid]
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while leftovers and time.time() < deadline:
        leftovers = [p for p in leftovers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in leftovers:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def summarize(bench: dict, run: Run, result: dict, setup_s: float, peak_mb: float) -> dict:
    failed = sum(1 for o in run.ops if o["problem"] is not None)
    attempted = len(run.ops)
    if run.trace:
        names = bench["per_layer"]
        values = {m["name"]: result["layers"].get(m["name"], 0.0) for m in names}
    else:
        names = bench["end_to_end"]
        values = {
            "docs_per_cpu_s": result["docs"]
            / statistics.median(run.seconds_of(result["kind"], "cpu_s")),
            "setup_s": setup_s,
            "peak_rss_mb": peak_mb,
            "passed_frac": (attempted - failed) / attempted,
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests)")
    args = ap.parse_args(argv)
    started = process_start_epoch()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())

    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # the program must be importable before anything runs
    import named_architecture_entity_recognition_spark  # noqa: F401
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = WORK / f"{tag}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")

    rss = PeakRss()
    rss.start()
    spark = None
    try:
        t_session = time.time()
        spark = make_session(work, task_slots(len(os.sched_getaffinity(0))))
        run = Run(spark, work, args.seed, args.seconds, bool(args.trace))
        run.info["setup_phases_s"] = {"session": round(time.time() - t_session, 3)}
        result = workloads.WORKLOADS[args.workload](run, args.scale)
    finally:
        if spark is not None:
            stop_session(spark)
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    setup_s = run.first_op_at - started
    line = summarize(bench, run, result, setup_s, peak_mb)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": run.cpus,
        "sizes": run.info.get("sizes", {}),
        "samples": dict(sorted(Counter(o["kind"] for o in run.ops).items())),
        "extra": {
            **{k: v for k, v in run.info.items() if k != "sizes"},
            "peak_pss_mb_by_process": {k: round(v / 1024, 1) for k, v in rss.peak_parts.items()},
        },
        "ops": run.ops,
        "result": line,
    }
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    (records / f"{tag}.json").write_text(json.dumps(record, indent=1, default=str))
    if run.tracer is not None:
        run.tracer.write(records / f"{tag}.spans.jsonl")

    if "kind" in result:  # wall-clock rates, for reading beside the metrics
        wall = statistics.median(run.seconds_of(result["kind"]))
        record["extra"]["docs_per_s"] = result["docs"] / wall
        record["extra"]["sentences_per_s"] = run.info["sizes"]["sentences"] / wall
    print(json.dumps({k: record[k] for k in ("workload", "sizes", "samples", "extra")}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
