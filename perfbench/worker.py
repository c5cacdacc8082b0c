"""One workload in a fresh interpreter; ``run.py`` starts this.

Phases: generate inputs (untimed) -> the workload's session set-ups,
each timed from ``get_spark`` through the workload's ``load`` -> the
workload's untimed one-time preparation and warm-up steps, in the last
session -> the timed closed loop -> correctness checks. The result goes
to ``--out`` as JSON.

A traced run keeps Spark's event log on in every session and runs the
loop twice, rewinding the workload in between, so both loops do the same
steps from the same state: spans set job groups only in the first,
whose jobs give the per-layer split. It also runs the kernel
microbenchmarks first and the exact phase counts last.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import spans
from workloads import WORKLOADS


def _conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    from fuzzy_matcher_spark.session import get_spark

    out: dict = {}
    if a.trace:
        import kernels

        out["kernels"] = kernels.run()
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    tracer = spans.Tracer()
    wl = WORKLOADS[a.workload](a.seed, a.work, tracer)
    wl.generate()

    setup, spark = [], None
    for _ in range(wl.setups):
        if spark is not None:
            spark.stop()
        tracer.sc = None  # the previous context is stopped
        t0 = time.perf_counter()
        session_span = len(tracer.spans)
        with tracer.span("session.get_spark"):
            spark = get_spark(master=master, extra_conf=_conf(a.work, bool(a.trace)))
        tracer.sc = spark.sparkContext
        wl.load(spark)
        setup.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.once(spark)
    out["once_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    k = -1
    for _ in range(wl.warmup_steps):
        k += 1
        wl.step(spark, k, timed=False)
    out["warmup_s"] = time.perf_counter() - t0

    steps = wl.timed_steps(a.seconds)

    def loop(k: int) -> None:
        """``steps`` timed steps after step ``k``: the same work however
        fast the program is. A step starts only while less than twice
        ``--seconds`` is used, so a much slower program still ends in time
        (with fewer samples)."""
        t0 = time.perf_counter()
        for i in range(steps):
            if i and time.perf_counter() - t0 > 2 * a.seconds:
                return
            wl.step(spark, k + 1 + i)

    # a traced run tags jobs in its first loop, which sits where the
    # loop of an untraced run does; the untagged loop after the rewind
    # is the baseline of the tagging cost
    tracer.job_groups = bool(a.trace)
    first_traced = len(tracer.spans)
    loop(k)
    tracer.job_groups = False
    traced = tracer.spans[first_traced:]
    if a.trace:
        out["traced_calls"], out["traced_writes"] = list(wl.calls), list(wl.writes)
        wl.calls.clear()
        wl.writes.clear()
        wl.rewind(spark)
        loop(k)
        out["counts"] = wl.counts(spark)
    quality = wl.check(spark)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    if a.trace:
        with open(os.path.join(a.work, "eventlog", app_id)) as f:
            jobs, stats = spans.parse_event_log(f)
        # the last session start plus every span of the tagged loop
        out["layers"] = spans.layer_metrics([tracer.spans[session_span]] + traced, jobs, stats)

    out.update(
        workload=a.workload,
        setup=setup,
        calls=wl.calls,
        writes=wl.writes,
        items_per_call=wl.items_per_call,
        quality=quality,
        attempted=wl.attempted,
        failed=wl.failed,
        errors=wl.errors[:20],
        nproc=nproc,
    )
    with open(a.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    sys.exit(main())
