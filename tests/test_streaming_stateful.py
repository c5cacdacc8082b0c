"""applyInPandasWithState first-seen dedup: cross-batch state + TTL.

Multi-micro-batch evidence: the file source is throttled to one file
per trigger (maxFilesPerTrigger=1 under availableNow), so a text that
appears in file 1 and file 2 exercises REAL state carried across
micro-batches through the state store — not a single-batch pandas
groupby in disguise.
"""

import time

from pyspark.sql import functions as F

from fuzzy_matcher_spark.streaming.stateful import seen_filter

SCHEMA = "doc_id long, text string"


def _run_stream(spark, src, ckpt, ttl_ms=0):
    """foreachBatch collector (memory sink cannot recover from a
    checkpoint, and the TTL/restart tests resume one)."""
    got = []
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("key", F.xxhash64("text"))
    )
    q = (
        seen_filter(stream, ttl_ms=ttl_ms)
        .writeStream.foreachBatch(lambda df, _e: got.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return got


def test_seen_filter_across_micro_batches(spark, tmp_path):
    # file 1: texts A A B C   file 2: texts A C D D
    f1 = [(0, "alpha"), (1, "alpha"), (2, "beta"), (3, "gamma")]
    f2 = [(10, "alpha"), (11, "gamma"), (12, "delta"), (13, "delta")]
    src = str(tmp_path / "src")
    spark.createDataFrame(f1, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(f2, SCHEMA).coalesce(1).write.mode("append").parquet(src)

    out = _run_stream(spark, src, str(tmp_path / "ckpt"))
    rows = {r.doc_id: r for r in out}
    assert len(rows) == 8  # every arrival gets a verdict

    # exactly one first-seen per distinct text
    firsts = [r for r in rows.values() if not r.is_duplicate]
    assert sorted(r.doc_id for r in firsts) == [0, 2, 3, 12]

    # duplicates point at their canonical first-seen
    assert rows[1].is_duplicate and rows[1].canonical_id == 0
    # cross-batch: file-2 arrivals of file-1 texts are duplicates with
    # state carried through the store (n_seen_before counts batch 1)
    assert rows[10].is_duplicate and rows[10].canonical_id == 0
    assert rows[10].n_seen_before == 2
    assert rows[11].is_duplicate and rows[11].canonical_id == 3
    # within-batch dup of a batch-local first
    assert rows[13].is_duplicate and rows[13].canonical_id == 12

    # keep-stream == batch exact dedup survivors on the same corpus
    batch_texts = {t for _, t in f1 + f2}
    assert len(firsts) == len(batch_texts)


def test_seen_filter_ttl_expires_state(spark, tmp_path):
    """A key re-arriving after its TTL reads as first-seen again —
    the reference matcher's lazy expiry contract, enforced against
    the state's last-arrival stamp (exact even when the state-store
    GC timeout has not fired yet)."""
    src = str(tmp_path / "src")
    spark.createDataFrame([(0, "omega")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ckpt = str(tmp_path / "ckpt")
    out1 = _run_stream(spark, src, ckpt, ttl_ms=500)
    assert [r.is_duplicate for r in out1] == [False]

    time.sleep(1.0)  # > ttl
    spark.createDataFrame([(5, "omega")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # resume from the same checkpoint: only the new file is processed,
    # against the persisted (now TTL-stale) state
    out2 = _run_stream(spark, src, ckpt, ttl_ms=500)
    r5 = {r.doc_id: r for r in out2}[5]
    assert not r5.is_duplicate  # expired -> fresh first-seen
    assert r5.canonical_id == 5


class _FakeGroupState:
    """Minimal GroupState stand-in for unit-testing _seen_func: the
    trigger's processing-time stamp is injectable, so a re-executed
    trigger (same stamp, later wall clock) is directly simulable —
    the real engine guarantees getCurrentProcessingTimeMs is constant
    across re-executions of one trigger."""

    def __init__(self, proc_time_ms, value=None):
        self._proc = proc_time_ms
        self._value = value
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def getCurrentProcessingTimeMs(self):
        return self._proc

    def update(self, v):
        self._value = tuple(v)

    def remove(self):
        self._value = None

    def setTimeoutDuration(self, ms):
        pass


def _verdicts(func, state):
    import pandas as pd

    batch = pd.DataFrame({"doc_id": [5]})
    out = list(func((3654009985618552993,), iter([batch]), state))
    return [
        (r.doc_id, r.is_duplicate, r.canonical_id, r.n_seen_before)
        for r in pd.concat(out).itertuples()
    ]


def test_seen_func_ttl_verdict_replay_deterministic():
    """A re-executed trigger reaches the IDENTICAL lazy-TTL verdict.

    The verdict must depend only on the trigger's checkpointed
    processing-time stamp (state.getCurrentProcessingTimeMs), never
    the executor wall clock: with a wall-clock read, a key near the
    TTL boundary flipped between duplicate and first-seen when the
    batch was replayed after a delay. Simulated here exactly: same
    prior state, same trigger stamp, second execution 100 ms of real
    time later — with ttl_ms=50 a wall-clock implementation flips,
    the stamp-based one must not."""
    from fuzzy_matcher_spark.streaming.stateful import _seen_func

    func = _seen_func(ttl_ms=50)
    t0 = 1_000_000_000_000  # trigger stamp (ms epoch)
    prior = (0, 2, t0 - 40)  # canonical=0, n_seen=2, last arrival 40ms ago

    first = _verdicts(func, _FakeGroupState(t0, prior))
    time.sleep(0.1)  # wall clock moves well past ttl_ms
    replay = _verdicts(func, _FakeGroupState(t0, prior))

    assert first == replay == [(5, True, 0, 2)]  # still a duplicate

    # and the lazy-TTL expiry itself keys off the SAME stamp: a prior
    # arrival older than ttl at trigger time reads first-seen
    expired = _verdicts(func, _FakeGroupState(t0, (0, 2, t0 - 60)))
    assert expired == [(5, False, 5, 0)]


def test_seen_filter_no_ttl_state_survives_restart(spark, tmp_path):
    """ttl_ms=0: state never expires; a restart from checkpoint still
    flags a long-delayed duplicate."""
    src = str(tmp_path / "src")
    spark.createDataFrame([(0, "psi")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ckpt = str(tmp_path / "ckpt")
    _run_stream(spark, src, ckpt)

    spark.createDataFrame([(9, "psi")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    out2 = _run_stream(spark, src, ckpt)
    r9 = {r.doc_id: r for r in out2}[9]
    assert r9.is_duplicate and r9.canonical_id == 0 and r9.n_seen_before == 1
