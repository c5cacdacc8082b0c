"""Self-test for the benchmark's generators and event-log parser.

    python3 perfbench/selftest.py        # or: python3 -m pytest perfbench/selftest.py

Needs numpy only; no Spark session is started.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import spans  # noqa: E402


def _jaccard5(a: str, b: str) -> float:
    def grams(t: str) -> set:
        w = t.split()
        return {tuple(w[i : i + 5]) for i in range(len(w) - 4)}

    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


def test_crawl_batches_are_seeded_and_disjoint():
    c = gen.Crawl(7, 400, 80)
    b1, b1_again, b2 = c.batch(1), gen.Crawl(7, 400, 80).batch(1), c.batch(2)
    assert (b1.ids, b1.texts, b1.links) == (b1_again.ids, b1_again.texts, b1_again.links)
    assert not set(b1.ids) & set(b2.ids) and not set(b1.ids) & set(c.index.ids)
    text = dict(zip(c.index.ids + b1.ids, c.index.texts + b1.texts))
    assert min(_jaccard5(text[x], text[y]) for x, y in c.index.links + b1.links) >= 0.85


def test_probes_ledger():
    members = gen.roster(2, 50)
    by_id = {m[0]: m for m in members}
    ps = gen.probes(2, 1, members, 20)
    assert ps == gen.probes(2, 1, members, 20)
    assert sum(p.source is not None for p in ps) == 15
    for p in ps:
        if p.source is not None:
            _, f, s, b = by_id[p.source]
            assert p.birthdate == b and (p.firstname == f) + (p.surname == s) >= 1
    ex = gen.exact_probes(1, members[:3], len(ps))
    assert [p.source for p in ex] == [1, 2, 3] and all(p.exact for p in ex)
    assert not {p.probe_id for p in ps} & {p.probe_id for p in ex}


def test_pairs_of_components():
    links = [(1, 2), (2, 3), (7, 8)]
    assert gen.pairs_of_components(links) == {(1, 2), (1, 3), (2, 3), (7, 8)}
    assert gen.pairs_of_components(links, keep={1, 3, 7, 8}) == {(7, 8)}


def _ev(**kw) -> str:
    return json.dumps(kw)


def _event_log() -> list[str]:
    props = {"spark.jobGroup.id": "streaming.ingest.sink#0"}
    inner = {"spark.jobGroup.id": "sources.tableio.write#1"}
    task = {
        "Executor Run Time": 1500,
        "Executor CPU Time": 5e8,
        "Memory Bytes Spilled": 10,
        "Disk Bytes Spilled": 5,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
    }
    accs = [
        {"Name": "time to run Python workers", "Update": "250"},
        {"Name": "data sent to Python workers", "Update": "4096"},
    ]
    return [
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000_000, "Properties": props}),
        _ev(Event="SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0}, "Properties": props}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": task, "Task Info": {"Accumulables": accs}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": task, "Task Info": {"Accumulables": []}}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1001_000}),
        _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1003_000, "Properties": inner}),
        _ev(Event="SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}, "Properties": inner}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": task, "Task Info": {}}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1005_000}),
        _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 1007_000}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 1007_500}),
    ]


def test_parse_event_log():
    jobs, stats = spans.parse_event_log(_event_log())
    assert [(j.group, j.start, j.end) for j in jobs] == [
        ("streaming.ingest.sink#0", 1000.0, 1001.0),
        ("sources.tableio.write#1", 1003.0, 1005.0),
        (None, 1007.0, 1007.5),
    ]
    o = stats["streaming.ingest.sink#0"]
    assert (o.stages, o.tasks) == (1, 2)
    assert o.executor_run_s == 3.0 and o.executor_cpu_s == 1.0
    assert o.python_run_s == 0.25 and o.python_bytes_sent == 4096
    assert o.shuffle_write_bytes == 200 and o.spill_bytes == 30


def test_layer_metrics_self_and_serial_time():
    jobs, stats = spans.parse_event_log(_event_log())
    outer = spans.Span("streaming.ingest.sink", 0, None, 999.0, 1006.0)
    child = spans.Span("sources.tableio.write", 1, 0, 1002.0, 1005.5)
    m = spans.layer_metrics([outer, child], jobs, stats)
    assert m["streaming.ingest.sink.calls"] == 1
    assert m["streaming.ingest.sink.wall_s"] == 7.0
    assert m["streaming.ingest.sink.self_s"] == 3.5
    # own job 1 s and the child's job 2 s are covered
    assert m["streaming.ingest.sink.driver_serial_s"] == 4.0
    assert m["streaming.ingest.sink.jobs"] == 1 and m["streaming.ingest.sink.tasks"] == 2
    assert m["sources.tableio.write.driver_serial_s"] == 1.5
    assert m["sources.tableio.write.jobs"] == 1
    assert m["matcher_api.search.calls"] == 0 and m["matcher_api.search.wall_s"] == 0
    assert len(m) == len(spans.SPANS) * len(spans.COUNTERS)


def test_tracer_nests_job_groups():
    class FakeContext:
        def __init__(self):
            self.props = {}

        def setJobGroup(self, gid, desc):
            self.props["spark.jobGroup.id"] = gid

        def setLocalProperty(self, k, v):
            self.props[k] = v

    sc = FakeContext()
    t = spans.Tracer(job_groups=True, sc=sc)
    with t.span("streaming.ingest.sink"):
        assert sc.props["spark.jobGroup.id"] == "streaming.ingest.sink#0"
        with t.span("sources.tableio.write"):
            assert sc.props["spark.jobGroup.id"] == "sources.tableio.write#1"
        assert sc.props["spark.jobGroup.id"] == "streaming.ingest.sink#0"
    assert sc.props["spark.jobGroup.id"] is None
    assert [s.parent for s in t.spans] == [None, 0]


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for fn in tests:
        fn()
        print(f"ok {fn.__name__}")
    print(f"{len(tests)} passed")
