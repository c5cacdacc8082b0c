"""The benchmark's workloads: closed loops over the engine's public API.

One caller, one process, each call waiting for the previous one. A
workload object owns its generated inputs and its correctness ledger.
The worker drives it in phases:

- ``load`` - engine-side set-up after a session start (timed as set-up);
- ``once`` - untimed one-time preparation after the last set-up;
- ``step`` - one unit of the loop, appending its latency to ``calls``
  (and ``writes``, where the workload writes) when timed; the first
  ``warmup_steps`` steps run untimed;
- ``rewind`` - back to the state the timed loop starts from, so that
  both loops of a traced run do the same work;
- ``check`` - correctness gates, run outside every timed span;
- ``counts`` - exact phase counts for the traced run (untimed).

Every timed span forces the full result the way a user consumes it:
``collect()`` for queries, a completed write for the sink.
"""

from __future__ import annotations

import os
import time
import traceback

import pandas as pd
from pyspark.sql import functions as F

import gen
from spans import TracedTableIO, Tracer

ID = "doc_id"


def _write_parquet(path: str, docs: gen.Docs) -> str:
    pd.DataFrame({ID: pd.Series(docs.ids, dtype="int64"), "text": docs.texts}).to_parquet(
        path, index=False
    )
    return path


def _pair_quality(truth: set, predicted: set) -> tuple[float, float]:
    hit = len(truth & predicted)
    recall = hit / len(truth) if truth else 1.0
    precision = hit / len(predicted) if predicted else 1.0
    return recall, precision


def _dedup_counts(df) -> dict[str, float]:
    """Exact phase counts from the public phase functions (untimed)."""
    from fuzzy_matcher_spark.config import DedupConfig
    from fuzzy_matcher_spark.functions.minhash import explode_bands
    from fuzzy_matcher_spark.operators.dedup_minhash import (
        add_signatures,
        candidate_pairs,
        verify_pairs,
    )
    from fuzzy_matcher_spark.operators.pairs import capped_bucket_stats

    cfg = DedupConfig()
    sig = add_signatures(df, cfg).persist()
    pairs = candidate_pairs(sig, cfg).persist()
    n_cand = pairs.count()
    dropped = capped_bucket_stats(
        explode_bands(sig, ID, cfg), ["band_id", "band_hash"], cfg.max_band_bucket
    ).collect()[0]["pairs_dropped_by_cap"]
    n_ver = verify_pairs(pairs, sig, cfg).count()
    pairs.unpersist()
    sig.unpersist()
    return {
        "operators.pairs.candidate_pairs": float(n_cand),
        "operators.pairs.cap_dropped_pairs": float(dropped),
        "operators.dedup_minhash.verified_pairs": float(n_ver),
        "operators.dedup_minhash.verify_yield": n_ver / n_cand if n_cand else 0.0,
    }


class Workload:
    """Shared bookkeeping. ``items_per_call`` converts call latency to
    throughput; ``failed`` counts ops that raised or broke a gate."""

    name = ""
    items_per_call = 1
    setups = 3  # session set-ups per run; set-up time is their median
    warmup_steps = 1
    # nominal seconds per step: a loop of ``--seconds`` runs
    # ``timed_steps(seconds)`` steps, however fast the program is
    step_s = 5.0
    names = {}  # e2e metric -> workload-specific name for the table

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.calls: list[float] = []
        self.writes: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def generate(self) -> None: ...
    def load(self, spark) -> None: ...
    def once(self, spark) -> None: ...
    def step(self, spark, k: int, timed: bool = True) -> None: ...
    def check(self, spark) -> dict[str, float]: ...
    def counts(self, spark) -> dict[str, float]:
        return {}

    def rewind(self, spark) -> None:
        """Return to the state the timed loop starts from."""

    @classmethod
    def timed_steps(cls, seconds: float) -> int:
        return max(1, round(seconds / cls.step_s))

    def _op(self, fn, *args):
        """Run one op; an exception counts as a failed op."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # a failed op is reported, not raised
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3)[-800:])
            return None


class CrawlIngest(Workload):
    """New-crawl micro-batches through ``incremental_dedup_sink``.

    The index is built once, untimed, by the sink itself. Each timed
    call feeds one batch, read from its landing parquet file, and
    returns once the sink has appended its pairs and signatures."""

    name = "crawl_ingest"
    index_docs = 2000
    # big enough that the sink's writes, not its driver-side steps,
    # are most of a batch: the driver-side part is the noisiest
    batch_docs = 1000
    setups = 5  # a set-up here is one session start: cheap and jittery
    names = {"call_p50_ms": "ingest_batch_p50_ms", "write_p50_ms": "tableio_write_p50_ms",
             "items_per_s": "docs_per_s", "recall": "dup_pair_recall",
             "precision": "dup_pair_precision"}

    def generate(self) -> None:
        self.crawl = gen.Crawl(self.seed, self.index_docs, self.batch_docs)
        self.items_per_call = self.batch_docs
        index, half = self.crawl.index, len(self.crawl.index.ids) // 2
        self.index_paths = [
            _write_parquet(
                os.path.join(self.work, f"index-{i}.parquet"),
                gen.Docs(index.ids[sl], index.texts[sl]),
            )
            for i, sl in enumerate((slice(0, half), slice(half, None)))
        ]
        self.tables = 0  # generation of the tables directory

    def load(self, spark) -> None:
        from fuzzy_matcher_spark.config import DedupConfig
        from fuzzy_matcher_spark.sources.tableio import ParquetTableIO
        from fuzzy_matcher_spark.streaming.ingest import incremental_dedup_sink

        self.ingested: list[gen.Docs] = [self.crawl.index]
        self.paths: list[str] = list(self.index_paths)
        self.write_log: list[float] = []
        tables = os.path.join(self.work, f"tables-{self.tables}")
        self.io = TracedTableIO(ParquetTableIO(spark, tables), self.tracer, self.write_log)
        self.sink = incremental_dedup_sink(self.io, DedupConfig())

    def _feed(self, spark, path: str, epoch: int) -> None:
        with self.tracer.span("streaming.ingest.sink"):
            self.sink(spark.read.parquet(path), epoch)

    def once(self, spark) -> None:
        """Build the index in two sink calls, so that the second one
        already takes the new-vs-indexed join path of the batches."""
        for epoch, path in enumerate(self.index_paths):
            self._op(self._feed, spark, path, epoch)

    def step(self, spark, k: int, timed: bool = True) -> None:
        docs = self.crawl.batch(k)
        path = _write_parquet(os.path.join(self.work, f"batch-{k:04d}.parquet"), docs)
        self.ingested.append(docs)
        self.paths.append(path)
        n_writes = len(self.write_log)
        t0 = time.perf_counter()
        self._op(self._feed, spark, path, k + 2)
        if timed:
            self.calls.append(time.perf_counter() - t0)
            self.writes.append(sum(self.write_log[n_writes:]))

    def rewind(self, spark) -> None:
        """A fresh tables directory, index and warm-up batches, so the
        next loop ingests the same batches against the same index."""
        self.tables += 1
        self.load(spark)
        self.once(spark)
        for k in range(self.warmup_steps):
            self.step(spark, k, timed=False)

    def check(self, spark) -> dict[str, float]:
        from fuzzy_matcher_spark.streaming.ingest import PAIR_TABLE, SIG_TABLE

        ids = {i for d in self.ingested for i in d.ids}
        links = [l for d in self.ingested for l in d.links]
        truth = gen.pairs_of_components(links, keep=ids)
        found = [(r["a"], r["b"]) for r in self.io._inner.read(PAIR_TABLE).select("a", "b").collect()]
        n_sig = self.io._inner.read(SIG_TABLE).count()
        if n_sig != len(ids):
            self.failed += 1
            self.errors.append(f"signature table holds {n_sig} rows for {len(ids)} docs")
        recall, precision = _pair_quality(truth, gen.pairs_of_components(found))
        return {"recall": recall, "precision": precision}

    def counts(self, spark) -> dict[str, float]:
        from fuzzy_matcher_spark.streaming.ingest import SIG_TABLE

        out = _dedup_counts(spark.read.parquet(*self.paths))
        out["streaming.ingest.index_rows"] = float(self.io._inner.read(SIG_TABLE).count())
        return out


def _extraction() -> dict:
    """Field extraction for generated member rows: names lower+trim,
    birthdate as its yyyyMMdd digits."""
    return {
        "firstname": F.lower(F.trim("firstname")),
        "surname": F.lower(F.trim("surname")),
        "birthdate": F.date_format(F.to_date("birthdate"), "yyyyMMdd"),
    }


_MEMBER_SCHEMA = "id long, firstname string, surname string, birthdate string"
_PROBE_SCHEMA = "probe_id long, firstname string, surname string, birthdate string"


class MemberSearch(Workload):
    """``FuzzyMatcher.search`` on small probe batches against a roster,
    with an ``insert_entries`` + ``remove_entries`` write before every
    search. A run times one or two searches, so every timed search
    follows a write and carries its read-after-write cost. Each search
    also carries exact copies of the members just inserted (they must be
    found) and just removed (they must not come back)."""

    name = "member_search"
    roster_size = 1000
    probes_per_search = 20
    churn = 5  # members inserted and removed per write round
    step_s = 15.0  # one search costs tens of seconds of fixed per-job cost
    names = {"call_p50_ms": "search_p50_ms", "items_per_s": "search_probes_per_s",
             "recall": "search_recall_at_1", "precision": "search_precision_at_1"}

    def generate(self) -> None:
        self.roster = gen.roster(self.seed, self.roster_size)
        # regular probes plus exact probes of the inserted and removed
        self.items_per_call = self.probes_per_search + 2 * self.churn
        order = gen.np.random.default_rng([self.seed, 6]).permutation(self.roster_size)
        self.removal_order = [self.roster[i] for i in order.tolist()]
        self.hits = self.top1 = self.correct_top1 = self.member_probes = 0

    def load(self, spark) -> None:
        from fuzzy_matcher_spark.config import example_member_config
        from fuzzy_matcher_spark.matcher_api import FuzzyMatcher

        self.live = {m[0]: m for m in self.roster}
        self.removed: set[int] = set()
        self.rounds = 0
        self.m = FuzzyMatcher(example_member_config(), spark)
        with self.tracer.span("matcher_api.insert_entries"):
            self.m.insert_entries(spark.createDataFrame(self.roster, _MEMBER_SCHEMA), _extraction())

    def _write(self, spark, timed: bool) -> tuple[list, list]:
        r = self.rounds
        ins = gen.roster(self.seed, self.churn, first_id=1_000_000 + r * self.churn)
        rm = self.removal_order[r * self.churn : (r + 1) * self.churn]
        ins_df = spark.createDataFrame(ins, _MEMBER_SCHEMA)
        rm_df = spark.createDataFrame([(m[0],) for m in rm], "id long")
        t0 = time.perf_counter()
        with self.tracer.span("matcher_api.insert_entries"):
            self.m.insert_entries(ins_df, _extraction())
        with self.tracer.span("matcher_api.remove_entries"):
            self.m.remove_entries(rm_df)
        if timed:
            self.writes.append(time.perf_counter() - t0)
        self.rounds += 1
        for m in ins:
            self.live[m[0]] = m
        for m in rm:
            self.live.pop(m[0], None)
            self.removed.add(m[0])
        return ins, rm

    def _search(self, pdf):
        with self.tracer.span("matcher_api.search"):
            return self.m.search(pdf, extraction=_extraction()).collect()

    def step(self, spark, k: int, timed: bool = True) -> None:
        """A write round, then a search that checks it."""
        ins, rm = self._op(self._write, spark, timed) or ([], [])
        regular = gen.probes(self.seed, k, list(self.live.values()), self.probes_per_search)
        extra = gen.exact_probes(k, ins + rm, len(regular))
        pdf = spark.createDataFrame(
            [(p.probe_id, p.firstname, p.surname, p.birthdate) for p in regular + extra],
            _PROBE_SCHEMA,
        )
        t0 = time.perf_counter()
        rows = self._op(self._search, pdf)
        if timed:
            self.calls.append(time.perf_counter() - t0)
        if rows is None:
            return
        found: dict[int, set[int]] = {}
        first: dict[int, int] = {}
        for r in rows:
            found.setdefault(r["probe_id"], set()).add(r["id"])
            if r["rank"] == 1:
                first[r["probe_id"]] = r["id"]
        bad = []
        bad += [r["id"] for r in rows if r["id"] in self.removed]
        bad += [p.source for p in extra if p.source in self.live and p.source not in found.get(p.probe_id, ())]
        if bad:
            self.failed += 1
            self.errors.append(f"search {k}: removed ids returned or inserted ids missing: {bad[:5]}")
        for p in regular:
            if p.source is not None:
                self.member_probes += 1
                self.correct_top1 += first.get(p.probe_id) == p.source
            if p.probe_id in first:
                self.top1 += 1
                self.hits += first[p.probe_id] == p.source

    def rewind(self, spark) -> None:
        """A fresh matcher with the roster and the warm-up's write round,
        so the next search follows as many writes as the first timed one."""
        self.load(spark)
        self._op(self._write, spark, False)

    def check(self, spark) -> dict[str, float]:
        return {
            "recall": self.correct_top1 / self.member_probes if self.member_probes else 0.0,
            "precision": self.hits / self.top1 if self.top1 else 0.0,
        }


WORKLOADS = {w.name: w for w in (CrawlIngest, MemberSearch)}
