#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one fresh Spark JVM.

    python3 perfbench/run.py --workload kg_full --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run starts a local[<cores>]
session through the engine's get_spark, makes the workload's inputs from
the seed, runs one warm-up op, then runs ops one after another (a closed
loop with one caller) until they have taken --seconds, checking each
op's output. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (op_p50_s, setup_s,
peak_rss_mb); with --trace 1 they are the per-layer ones, from spans
recorded around the engine's layer calls and Spark's event log. All
files go under .perfbench_work/ in the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# Input preparation is repeated this many times; setup_s takes the median.
N_PREPARE = 3
JVM_HEAP = "2g"
# No op starts later than this many seconds into the run.
DEADLINE_S = 150.0


class RssSampler(threading.Thread):
    """Samples the anonymous resident memory of this process and all its
    descendants (the Spark JVM and its Python workers) from /proc, keeping
    the peak. File-backed pages (shared libraries, mapped files) are left
    out: the host's page cache can evict them at any time, so they would
    measure the neighbours rather than the program."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self._stop_event.wait(self.interval):
            self.peak()

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    def peak(self) -> int:
        """Take a sample now; return the peak since the last reset."""
        rss = self.sample()
        with self._lock:
            self._peak = max(self._peak, rss)
            return self._peak

    def sample(self) -> int:
        total = 0
        for pid, parent in [(os.getpid(), 0), *process_tree()]:
            if unexeced_spawn(pid, parent):
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    fields = fh.read().split()
                # resident minus file-backed and shared pages
                total += (int(fields[1]) - int(fields[2])) * self._page
            except (OSError, IndexError, ValueError):
                pass  # the process ended between listing and reading
        return total


def exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def unexeced_spawn(pid: int, parent: int) -> bool:
    """True for a child that the JVM or this process has spawned and that
    has not yet run exec. Both start processes with vfork (posix_spawn),
    so such a child still shares its parent's memory, and /proc would
    report that memory a second time. Python workers are real forks of
    the pyspark daemon and are counted."""
    if not parent or (parent != os.getpid()
                      and os.path.basename(exe(parent)) != "java"):
        return False
    return exe(pid) == exe(parent)


def descendants() -> list[int]:
    return [pid for pid, _parent in process_tree()]


def process_tree() -> list[tuple[int, int]]:
    """(pid, parent pid) of every descendant of this process."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        parent = todo.pop()
        for child in children.get(parent, []):
            out.append((child, parent))
            todo.append(child)
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until every
    child process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    reap()


def reap(timeout: float = 30.0) -> None:
    end = time.monotonic() + timeout
    while descendants() and time.monotonic() < end:
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants()
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 5
        while descendants() and time.monotonic() < end:
            time.sleep(0.1)
    while True:  # collect exit codes of our own children
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes_per_page"):
        return "B/page"
    if "bytes" in name:
        return "B"
    if name.endswith("_frac"):
        return "fraction"
    if name.endswith("skew"):
        return "ratio"
    return "count"


def engine_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(
                ROOT, "thesis_ner_co_tri_training_spark", "__init__.py")))


def configure_environment() -> None:
    """Keep every file the run writes inside WORK, and put the engine on
    the Python workers' path."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(":"))]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "spark-warehouse")
    # The engine's own heap knob: 2g keeps one run near 2.2 GB resident on
    # a shared host (the 8g default for <= 8 cores reached 4.6 GB).
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")).strip()


END_TO_END_UNITS = {"op_p50_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def attempt(workload, i: int, tracer):
    """Run op i; returns (result, seconds, error, op span)."""
    span = tracer.open(f"op{i}") if tracer else None
    t0 = time.perf_counter()
    try:
        result, error = workload.op(i, tracer), None
    except Exception as exc:  # a failed op is counted, the loop goes on
        result, error = None, f"{type(exc).__name__}: {exc}"
    seconds = time.perf_counter() - t0
    if tracer:
        tracer.close(span)
    return result, seconds, error, span


def check(workload, result) -> list[str]:
    try:
        return workload.check(result)
    except Exception as exc:  # an unreadable output is a failed op
        return [f"check: {type(exc).__name__}: {exc}"]


def run(args) -> tuple[dict, list[str]]:
    from perfbench import eventlog, spans
    from perfbench.workloads import QUERY_ENTRIES, WORKLOADS

    process_start = time.perf_counter()
    sampler = RssSampler()
    sampler.start()
    from thesis_ner_co_tri_training_spark.operators import linking
    from thesis_ner_co_tri_training_spark.plans import pipeline
    from thesis_ner_co_tri_training_spark.session import get_spark
    from thesis_ner_co_tri_training_spark.sources import catalog

    cpus = len(os.sched_getaffinity(0))
    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(WORK, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    session_s = time.perf_counter() - process_start
    notes: list[str] = []
    tracer = None
    try:
        workload = WORKLOADS[args.workload](spark, WORK, args.seed)
        prepare_s = []
        for _ in range(N_PREPARE):
            t0 = time.perf_counter()
            workload.prepare()
            prepare_s.append(time.perf_counter() - t0)
        if args.trace:
            tracer = spans.Tracer(spark.sparkContext)
            tracer.install(pipeline, catalog, linking)

        # op 0 is the warm-up: checked, counted, but not timed as an op
        ops = []  # (seconds, ok, op span, per-layer facts) of measured ops
        i = failed = 0
        while True:
            result, seconds, error, span = attempt(workload, i, tracer)
            if i == 0:
                warmup_s = seconds
                workload.reference()
            problems = [error] if error else check(workload, result)
            notes.extend(f"op{i}: {p}" for p in problems)
            failed += bool(problems)
            if i == 0:
                sampler.reset()  # peak RSS of the measured ops only
            else:
                facts = workload.layer_facts(result) if result else {}
                ops.append((seconds, not problems, span, facts))
            if result is not None:
                workload.discard(result)
            i += 1
            measured = sum(op[0] for op in ops)
            late = time.perf_counter() - process_start + seconds > DEADLINE_S
            if ops and (measured >= args.seconds or late):
                break
        peak_rss = sampler.peak()
    finally:
        if tracer:
            tracer.uninstall()
        stop_spark(spark)
        sampler.stop()

    good = [op for op in ops if op[1]] or ops  # all ops if none passed
    setup_s = session_s + median(prepare_s) + warmup_s
    notes.insert(0, (
        f"{args.workload} seed={args.seed} trace={args.trace} cpus={cpus} "
        f"loadavg_1m={args.loadavg:.2f} closed loop, 1 client; "
        f"inputs: {workload.sizes()}; setup: session {session_s:.2f}s + "
        f"prepare median {median(prepare_s):.2f}s of "
        f"{[round(s, 2) for s in prepare_s]} + warm-up op {warmup_s:.2f}s; "
        f"measured ops {[round(op[0], 3) for op in ops]}"))
    if args.trace:
        stats = eventlog.group_stats(eventlog.read_events(log_dir))
        values = spans.summarize([
            {**spans.op_metrics(tracer, stats, span, QUERY_ENTRIES), **facts}
            for _s, _ok, span, facts in good])
        units = {k: unit_of(k) for k in values}
    else:
        values = {"op_p50_s": median(op[0] for op in good),
                  "setup_s": setup_s, "peak_rss_mb": peak_rss / 2**20}
        units = END_TO_END_UNITS
    result = {
        "correct": failed == 0,
        "attempted": i,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }
    return result, notes


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=["kg_full", "query_mix"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)
    args.loadavg = os.getloadavg()[0]
    if not engine_present():
        print(f"perfbench: no engine checkout at {ROOT} "
              "(thesis_ner_co_tri_training_spark/ and __spark_entry__.py)",
              file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # the package, not this directory, is importable
    shutil.rmtree(WORK, ignore_errors=True)
    configure_environment()
    try:
        result, notes = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    for line in notes:
        print(f"# {line}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
