"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload {ingest,analytics} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository. The run generates its
inputs from the seed under ``.perfbench_work/`` in the checkout, starts a
``local[nproc]`` Spark session, does the workload's set-up, one untimed
warm-up (which also checks the outputs that need a reference computation),
then a closed loop with one client for ``--seconds`` seconds. Every
operation's output is checked. With ``--trace 0`` it reports the
end-to-end metrics; with ``--trace 1`` it runs one traced step, then one
untraced step, and reports the per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TAIL_PCT = 90
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _tree_rss_kb(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        pid, ppid = int(name), int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * os.sysconf("SC_PAGE_SIZE") // 1024
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler(threading.Thread):
    """Samples the process tree's resident memory every 250 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._halt.wait(0.25)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _descendants() -> list[int]:
    """Child processes of this process that are still alive."""
    pids = []
    me = os.getpid()
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
                pids.append(int(name))
    return pids


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while _descendants() and time.time() < deadline:
        time.sleep(0.1)


def _configure(work: str) -> None:
    """Session sizing from the benchmark side: cores, driver memory that
    fits the host, Spark local dirs inside the work dir, and the repo on
    the Python workers' import path."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM, the launcher's too: temp files in the run dir, no
    # hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    for p in (ROOT, HERE, os.path.join(ROOT, "tools")):
        sys.path.insert(0, p)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("ingest", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "pdf_etl_pipeline_spark", "session.py")):
        print(f"the program is not in {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure(work)
    os.chdir(work)  # Spark's own side files (warehouse, derby) land here

    from spans import Tracer
    from workloads import WORKLOADS, memo_caches_empty

    sampler = RssSampler()
    sampler.start()
    spark = tracer = None
    try:
        t0 = time.perf_counter()
        from pdf_etl_pipeline_spark.session import get_spark

        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        t0 = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t0
        log(f"session {session_s:.1f}s, set-up {setup_s - session_s:.1f}s")
        t0 = time.perf_counter()
        wl.prepare()
        log(f"prepare {time.perf_counter() - t0:.1f}s")

        # one step = wl.block operations. Untraced: steps until --seconds
        # have passed (at least one). Traced: one traced step, then one
        # untraced step for the counters only the composed call shows.
        lat: dict[bool, list[float]] = {False: [], True: []}
        units = attempted = failed = steps = 0
        start = time.perf_counter()
        while True:
            if args.trace:
                if steps == 2:
                    break
                traced = steps == 0
            else:
                if steps and time.perf_counter() - start >= args.seconds:
                    break
                traced = False
            for _ in range(wl.block):
                attempted += 1
                inp = wl.next_input(attempted)
                t = time.perf_counter()
                try:
                    n, latency, ok = wl.op(attempted, inp, traced)
                except Exception as e:  # a failed operation counts; the loop goes on
                    log(f"op {attempted} failed: {type(e).__name__}: {e}")
                    n, latency, ok = 0, time.perf_counter() - t, False
                lat[traced].append(latency)
                units += n
                failed += not ok
                log(f"op {attempted} {'traced' if traced else 'untraced'}: {latency:.2f}s, "
                    f"check {'ok' if ok else 'FAILED'}")
            steps += 1
        correct = memo_caches_empty()
        layer = wl.layer_metrics() if args.trace else {}
    finally:
        if tracer is not None and args.trace:
            tracer.write(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
        if spark is not None:
            t0 = time.perf_counter()
            _stop_spark(spark)
            log(f"stop {time.perf_counter() - t0:.1f}s")
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    ops = lat[False]
    if args.trace:
        from report import layer_report

        metrics = layer_report(tracer, layer, lat, session_s, failed / attempted)
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(ops),
            "op_tail_s": percentile(ops, TAIL_PCT),
            "throughput_per_s": units / sum(ops),
            "peak_rss_mb": sampler.peak_kb / 1024,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": bool(correct) and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
