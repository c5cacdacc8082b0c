"""Benchmark of record for fuzzy_matcher_spark.

    python3 perfbench/run.py --workload crawl_ingest --seed 1 --seconds 15 --trace 0

Workloads (perfbench/workloads.py): ``crawl_ingest`` (new-crawl
micro-batches through the streaming dedup sink) and ``member_search``
(fuzzy member search with insert/remove writes). ``--seconds`` sets how
many steps a run times, through a fixed nominal step time per workload,
so the measured work does not depend on the program's speed.

Runs from the root of a checkout. Each call runs one workload in a
fresh interpreter (``worker.py``) on ``local[nproc]``, with the
program's ``SPARK_GRAFT_*`` knobs removed from the environment and all
scratch files under ``.perfbench_work/`` in the checkout. It prints one
line per metric (with the workload's own metric names), a stamp line,
and, last, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones: spans joined with Spark's
event log, kernel rates, exact phase counts, and the tracing overhead.
The event log is on for the whole traced run, so its cost shows as
``trace.call_p50_ms`` against ``call_p50_ms`` of untraced runs; the
cost of tagging jobs per span is ``trace.overhead_*``, the tagged minus
the untagged loop of the same run. Both do the same steps from the same
state; the tagged loop runs first, so JVM warm-up still under way can
only inflate the overhead, never hide it.

The sink's TableIO reads are lazy, so the sink's dedup pipeline
(signatures, band joins, the Jaccard UDF) runs inside the
``sources.tableio.write`` spans that materialize it; their counters hold
that compute, and ``python_run_s`` shows its Python-UDF share.

Exit codes: 0 when every correctness gate passes, 1 when a gate fails
(the result is still printed), 2 when the run could not complete
(nothing is printed on stdout).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKER_TIMEOUT_S = 165  # a hung run is stopped and reaped within 3 minutes
# correctness gates: floors on the quality metrics, per workload
GATES = {
    "crawl_ingest": {"recall": 0.99, "precision": 0.99},
    "member_search": {"recall": 0.9, "precision": 0.9},
}
E2E_UNITS = {
    "setup_s": "s",
    "call_p50_ms": "ms",
    "write_p50_ms": "ms",
    "items_per_s": "1/s",
    "recall": "fraction",
    "precision": "fraction",
}
# the end-to-end metrics of the result line (BENCHMARK.json); the
# others are printed only: write_p50_ms of member_search is one short
# Spark job that swings more than any bound from run to run
BOUNDED = ("setup_s", "call_p50_ms", "items_per_s", "recall", "precision")


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, start time) for every process in /proc."""
    table = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                table[int(pid)] = (int(fields[1]), int(fields[19]))
            except (OSError, ValueError, IndexError):
                continue  # the process ended while we looked
    return table


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


class ProcessTree(threading.Thread):
    """Samples the worker's process tree: the worker, its JVM and the
    JVM's Python worker daemons (which put themselves in process groups
    of their own). Keeps the peak summed RSS and every process seen, so
    that ``reap`` can stop them all."""

    def __init__(self, root: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.period = root, period
        self.peak_kb = 0
        self.seen: dict[int, int] = {}  # pid -> start time
        self._halt = threading.Event()

    def _sample(self) -> None:
        table = _proc_table()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        todo, total = [self.root], 0
        while todo:
            pid = todo.pop()
            if pid in table:
                self.seen.setdefault(pid, table[pid][1])
                total += _rss_kb(pid)
                todo += children.get(pid, [])
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._halt.is_set():
            self._sample()
            self._halt.wait(self.period)

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def reap(self) -> None:
        """Stop every process of the tree still running, and wait."""
        for sig in (signal.SIGTERM, signal.SIGKILL):
            alive = self._alive()
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5.0
            while alive and time.time() < deadline:
                time.sleep(0.1)
                alive = self._alive()
            if not alive:
                return

    def _alive(self) -> list[int]:
        table = _proc_table()
        return [p for p, start in self.seen.items() if table.get(p, (0, None))[1] == start]


def _worker_env(work: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
    )
    return env


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_worker(args, work: str) -> tuple[dict, float, float]:
    """Run worker.py; returns its result, the peak RSS in MB and the
    share of CPU time the hypervisor stole while it ran."""
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out,
    ]
    log_path = os.path.join(work, "worker.log")
    cpu0 = _cpu_times()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=_worker_env(work), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        tree = ProcessTree(proc.pid)
        tree.start()
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            tree.stop()
            tree.reap()
            proc.wait()
    delta = [b - a for a, b in zip(cpu0, _cpu_times())]
    steal = delta[7] / max(1, sum(delta))  # /proc/stat: the 8th cpu field
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        _die(f"worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(out) as f:
        return json.load(f), tree.peak_kb / 1024.0, steal


def _stamp(steal: float) -> dict:
    """git rev (when the checkout is a repository), a hash of the
    program sources, nproc, the CPU steal share during the run, and
    bench.host_speed_probe()."""
    sys.path.insert(0, ROOT)
    from bench import host_speed_probe

    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "fuzzy_matcher_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return {
        "git_rev": rev,
        "program_sha256": h.hexdigest()[:16],
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_steal_frac": round(steal, 4),
        "host": host_speed_probe(),
    }


def e2e_metrics(res: dict, calls=None, writes=None) -> dict[str, float]:
    """End-to-end metrics from one loop's samples (medians)."""
    calls = res["calls"] if calls is None else calls
    writes = res["writes"] if writes is None else writes
    call = statistics.median(calls)
    write = statistics.median(writes) if writes else 0.0
    # member_search writes outside its timed searches: throughput
    # charges each search the write round that precedes it
    per_item = (call + (write if res["workload"] == "member_search" else 0.0)) / res["items_per_call"]
    return {
        "setup_s": statistics.median(res["setup"]),
        "call_p50_ms": call * 1e3,
        "write_p50_ms": write * 1e3,
        "items_per_s": 1.0 / per_item,
        "recall": res["quality"]["recall"],
        "precision": res["quality"]["precision"],
    }


def layer_metrics(res: dict, e2e: dict) -> dict[str, float]:
    m = dict(res["layers"])
    m.update(res["kernels"])
    for name in ("operators.pairs.candidate_pairs", "operators.pairs.cap_dropped_pairs",
                 "operators.dedup_minhash.verified_pairs", "operators.dedup_minhash.verify_yield",
                 "streaming.ingest.index_rows"):
        m[name] = res["counts"].get(name, 0.0)
    traced = e2e_metrics(res, res["traced_calls"], res["traced_writes"])
    m["trace.call_p50_ms"] = traced["call_p50_ms"]
    m["trace.overhead_call_p50_ms"] = traced["call_p50_ms"] - e2e["call_p50_ms"]
    m["trace.overhead_write_p50_ms"] = traced["write_p50_ms"] - e2e["write_p50_ms"]
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "fuzzy_matcher_spark")):
        _die(f"no fuzzy_matcher_spark package under {ROOT}; run from a full checkout")
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _die(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, peak, steal = run_worker(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    e2e = e2e_metrics(res)
    metrics = layer_metrics(res, e2e) if args.trace else {k: e2e[k] for k in BOUNDED}

    names = WORKLOADS[args.workload].names
    n = {"call_p50_ms": len(res["calls"]), "write_p50_ms": len(res["writes"]),
         "setup_s": len(res["setup"])}
    for k, v in e2e.items():
        count = f" (median of {n[k]})" if k in n else ""
        print(f"{args.workload} {names.get(k, k)} = {v:.6g} {E2E_UNITS[k]}{count}")
    # printed only: failed ops are 0 when the program is correct, and
    # peak RSS swings with JVM heap growth far more than any bound
    print(f"{args.workload} failed_ops_frac = {res['failed'] / max(1, res['attempted']):.6g} fraction")
    print(f"{args.workload} peak_rss_mb = {peak:.6g} MB")
    print(f"{args.workload} samples_s: calls={_r(res['calls'])} writes={_r(res['writes'])} "
          f"setups={_r(res['setup'])} warmup={res['warmup_s']:.3f} once={res['once_s']:.3f}")
    if args.trace:
        for k in sorted(metrics):
            print(f"{args.workload} {k} = {metrics[k]:.6g}")
    for err in res["errors"]:
        print(f"{args.workload} FAILED: {err}")
    print("stamp " + json.dumps(_stamp(steal)))

    gates = GATES[args.workload]
    correct = res["failed"] == 0 and all(res["quality"][k] >= v for k, v in gates.items())
    units = E2E_UNITS if not args.trace else {}
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units.get(k, _layer_unit(k))} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def _r(xs: list[float]) -> list[float]:
    return [round(x, 3) for x in xs]


def _layer_unit(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("bytes_sent", "bytes"), ("verify_yield", "fraction")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
