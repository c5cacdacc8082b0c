"""FuzzyMatcher facade: O13 API parity + expiry (O11) + persistence."""

import pytest
from pyspark.sql import functions as F

from fuzzy_matcher_spark.config import (
    CoreParams,
    MatchConfig,
    example_member_config,
)
from fuzzy_matcher_spark.matcher_api import FuzzyMatcher
from fuzzy_matcher_spark.sources.members import (
    MEMBERS,
    extraction_exprs,
    probe_validity_col,
)
from fuzzy_matcher_spark.sources.tableio import ParquetTableIO

CFG = example_member_config()


def _members_raw(spark, rows=None):
    return spark.createDataFrame(
        rows or MEMBERS,
        "id long, firstname string, surname string, birthdate string",
    )


def _probe(spark, fn, sn, bd):
    return spark.createDataFrame(
        [(0, fn, sn, bd)],
        "probe_id long, firstname string, surname string, birthdate string",
    )


def test_facade_lifecycle(spark):
    m = FuzzyMatcher(CFG, spark)
    # empty search before any insert
    assert m.search(_probe(spark, "John", "Smith", "1990-05-15"),
                    extraction=extraction_exprs()).count() == 0
    # insert is a no-op on empty input
    m.insert_entries(_members_raw(spark).where("id < 0"),
                     extraction=extraction_exprs())
    assert m._base is None

    m.insert_entries(_members_raw(spark), extraction=extraction_exprs())
    hits = m.search(
        _probe(spark, "Jon", "Smith", "1990-05-15"),
        extraction=extraction_exprs(),
        is_valid_col=probe_validity_col(),
    ).collect()
    assert any(r.id == 1 for r in hits)

    # incremental insert visibility
    m.insert_entries(
        _members_raw(spark, [(99, "Zelda", "Quixote", "1999-09-09")]),
        extraction=extraction_exprs(),
    )
    hits = m.search(_probe(spark, "Zelda", "Quixote", "1999-09-09"),
                    extraction=extraction_exprs()).collect()
    assert any(r.id == 99 for r in hits)

    # delete
    m.remove_entries(spark.createDataFrame([(1,)], "id long"))
    hits = m.search(_probe(spark, "John", "Smith", "1990-05-15"),
                    extraction=extraction_exprs()).collect()
    assert not any(r.id == 1 for r in hits)


def test_facade_expiry(spark):
    cfg = MatchConfig(fields=CFG.fields, core=CoreParams(max_edits=6,
                                                         use_expiration=True))
    m = FuzzyMatcher(cfg, spark)
    with pytest.raises(ValueError, match="expiry"):
        m.insert_entries(_members_raw(spark), extraction=extraction_exprs())

    # expiry = event_end + 12h (example_source.go:118); one expired row
    base = _members_raw(spark).withColumn(
        "expiry",
        F.when(F.col("id") == 1, F.lit("2000-01-01 00:00:00"))
        .otherwise(F.lit("2999-08-21 11:00:00"))
        .cast("timestamp"),
    )
    m.insert_entries(base, extraction=extraction_exprs())
    as_of = F.lit("2025-01-01 00:00:00").cast("timestamp")
    hits = m.search(_probe(spark, "John", "Smith", "1990-05-15"),
                    extraction=extraction_exprs(), as_of=as_of).collect()
    assert not any(r.id == 1 for r in hits)  # expired entry invisible
    hits = m.search(_probe(spark, "Sarah", "Johnson", "1985-12-03"),
                    extraction=extraction_exprs(), as_of=as_of).collect()
    assert any(r.id == 2 for r in hits)

    m.clean_expired(as_of=as_of)
    assert m._base.where("id = 1").count() == 0


def test_facade_tableio_persistence(spark, tmp_path):
    io = ParquetTableIO(spark, str(tmp_path / "wh"))
    m = FuzzyMatcher(CFG, spark, io=io)
    m.insert_entries(_members_raw(spark), extraction=extraction_exprs())
    m.remove_entries(spark.createDataFrame([(1,), (2,)], "id long"))

    # a new matcher instance recovers state from storage
    m2 = FuzzyMatcher(CFG, spark, io=io)
    assert m2._base is not None
    ids = {r.id for r in m2._base.select("id").collect()}
    assert 1 not in ids and 2 not in ids and 3 in ids
    hits = m2.search(_probe(spark, "Michael", "Brown", "1992-08-22"),
                     extraction=extraction_exprs()).collect()
    assert any(r.id == 3 for r in hits)


def test_incremental_insert_lineage_bounded(spark):
    """r3 ask 4 / r4 VERDICT #2: a long-lived matcher receiving many
    incremental inserts must not build an unbounded Union tower —
    insert_entries truncates lineage every CHECKPOINT_EVERY inserts.
    Reference contract: re-entrant Build (fuzzy_matcher_core.go:59-106,
    tests/integration_test.go:656-675)."""
    from fuzzy_matcher_spark import matcher_api

    m = FuzzyMatcher(CFG, spark)
    rows = [
        (i, f"first{i:03d}", f"sur{i:03d}", "1990-01-01") for i in range(200)
    ]
    for r in rows:
        m.insert_entries(_members_raw(spark, [r]), extraction=extraction_exprs())

    plan = m._base._jdf.queryExecution().analyzed().toString()
    # without checkpointing the analyzed plan holds 199 Unions; with it
    # at most one checkpoint window's worth survives
    assert plan.count("Union") <= matcher_api.CHECKPOINT_EVERY
    hits = m.search(
        _probe(spark, "first007", "sur007", "1990-01-01"),
        extraction=extraction_exprs(),
    ).collect()
    assert any(r.id == 7 for r in hits)
    # rows from before AND after the last checkpoint are all searchable
    hits = m.search(
        _probe(spark, "first199", "sur199", "1990-01-01"),
        extraction=extraction_exprs(),
    ).collect()
    assert any(r.id == 199 for r in hits)


def _leaf_rdd_ids(df):
    """RDD ids behind every leaf of ``df``'s optimized plan; raises if a
    leaf is anything but an in-memory LogicalRDD (e.g. a file scan)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    ids = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        assert leaf.nodeName() == "LogicalRDD", leaf.toString()
        ids.append(leaf.rdd().id())
    return ids


def _write_rounds(spark, m, n):
    """n insert+remove rounds; round r inserts member 100+r and removes
    the previous round's, so the live roster is the same for every n."""
    for r in range(n):
        m.insert_entries(
            _members_raw(spark, [(100 + r, "Zelda", "Quixote", "1999-09-09")]),
            extraction=extraction_exprs(),
        )
        m.remove_entries(spark.createDataFrame([(99 + r,)], "id long"))


def test_search_jobs_independent_of_write_history(spark):
    """A search reads the base through one materialized relation, so
    its job count does not grow with the number of earlier writes (the
    reference walks a trie built once, fuzzy_matcher_core.go:109-291)."""
    sc = spark.sparkContext
    probes = spark.createDataFrame(
        [
            (0, "Jon", "Smith", "1990-05-15"),
            (1, "Zelda", "Quixote", "1999-09-09"),
            (2, "Micheal", "Brown", "1992-08-22"),
        ],
        "probe_id long, firstname string, surname string, birthdate string",
    )
    jobs, hits = {}, {}
    for n in (1, 5):
        m = FuzzyMatcher(CFG, spark)
        m.insert_entries(_members_raw(spark), extraction=extraction_exprs())
        _write_rounds(spark, m, n)
        group = f"matcher-search-after-{n}-rounds"
        sc.setJobGroup(group, "matcher search")
        try:
            res = m.search(probes, extraction=extraction_exprs())
            rows = res.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
        hits[n] = {(r.probe_id, r.id) for r in rows}
        # the plan reads exactly two relations, each one checkpointed
        # RDD: the materialized base and the materialized probe batch
        base_rdd = _leaf_rdd_ids(m._base)
        assert len(base_rdd) == 1
        leaf_ids = set(_leaf_rdd_ids(res))
        assert len(leaf_ids) == 2 and base_rdd[0] in leaf_ids, leaf_ids

    assert jobs[1] == jobs[5], jobs
    # the same live roster answers the same way; only the id of the
    # churned member differs
    assert (1, 100) in hits[1] and (1, 104) in hits[5]
    assert hits[1] - {(1, 100)} == hits[5] - {(1, 104)}


def test_read_after_write_across_materialization(spark):
    """Every write after a search is visible to the next search, even
    though the search materialized the base."""
    m = FuzzyMatcher(CFG, spark)
    m.insert_entries(_members_raw(spark), extraction=extraction_exprs())
    assert m._dirty
    hits = m.search(_probe(spark, "John", "Smith", "1990-05-15"),
                    extraction=extraction_exprs()).collect()
    assert any(r.id == 1 for r in hits)
    assert not m._dirty
    assert m._base._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"

    m.remove_entries(spark.createDataFrame([(1,)], "id long"))
    assert m._dirty
    hits = m.search(_probe(spark, "John", "Smith", "1990-05-15"),
                    extraction=extraction_exprs()).collect()
    assert not any(r.id == 1 for r in hits)

    m.insert_entries(
        _members_raw(spark, [(99, "Zelda", "Quixote", "1999-09-09")]),
        extraction=extraction_exprs(),
    )
    hits = m.search(_probe(spark, "Zelda", "Quixote", "1999-09-09"),
                    extraction=extraction_exprs()).collect()
    assert any(r.id == 99 for r in hits)


def test_clean_expired_after_search(spark):
    """clean_expired on an already-materialized base physically drops
    the expired row: a search as of a time when it was still live no
    longer sees it."""
    cfg = MatchConfig(fields=CFG.fields, core=CoreParams(max_edits=6,
                                                         use_expiration=True))
    m = FuzzyMatcher(cfg, spark)
    base = _members_raw(spark).withColumn(
        "expiry",
        F.when(F.col("id") == 1, F.lit("2000-01-01 00:00:00"))
        .otherwise(F.lit("2999-08-21 11:00:00"))
        .cast("timestamp"),
    )
    m.insert_entries(base, extraction=extraction_exprs())
    past = F.lit("1995-01-01 00:00:00").cast("timestamp")
    probe = _probe(spark, "John", "Smith", "1990-05-15")
    hits = m.search(probe, extraction=extraction_exprs(), as_of=past).collect()
    assert any(r.id == 1 for r in hits)  # not yet expired in 1995

    m.clean_expired(as_of=F.lit("2025-01-01 00:00:00").cast("timestamp"))
    assert m._dirty
    hits = m.search(probe, extraction=extraction_exprs(), as_of=past).collect()
    assert not any(r.id == 1 for r in hits)


def test_tableio_first_search_materializes_parquet_base(spark, tmp_path):
    """A matcher recovered from storage starts dirty; its first search
    materializes the parquet base, and later writes still reach both
    the searches and the table."""
    io = ParquetTableIO(spark, str(tmp_path / "wh"))
    m = FuzzyMatcher(CFG, spark, io=io)
    m.insert_entries(_members_raw(spark), extraction=extraction_exprs())
    m.remove_entries(spark.createDataFrame([(2,)], "id long"))

    m2 = FuzzyMatcher(CFG, spark, io=io)
    assert m2._dirty
    probes = spark.createDataFrame(
        [(0, "Michael", "Brown", "1992-08-22"), (1, "Sarah", "Johnson", "1985-12-03")],
        "probe_id long, firstname string, surname string, birthdate string",
    )
    hits = {(r.probe_id, r.id) for r in
            m2.search(probes, extraction=extraction_exprs()).collect()}
    assert (0, 3) in hits and not any(i == 2 for _, i in hits)
    assert not m2._dirty
    assert m2._base._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"

    m2.remove_entries(spark.createDataFrame([(3,)], "id long"))
    hits = {(r.probe_id, r.id) for r in
            m2.search(probes, extraction=extraction_exprs()).collect()}
    assert not any(i == 3 for _, i in hits)
    m3 = FuzzyMatcher(CFG, spark, io=io)
    ids = {r.id for r in m3._base.select("id").collect()}
    assert 2 not in ids and 3 not in ids and 1 in ids


def test_search_with_profiles_reads_materialized_inputs(spark):
    """Profile search shares the materialized base and probe batch: the
    plan reads two checkpointed relations however many profiles run,
    and a profile still applies its own thresholds."""
    from fuzzy_matcher_spark.config import FieldParams

    loose = MatchConfig(
        fields={
            "firstname": FieldParams(6, 6, 0.5, "jaro", 0.7),
            "surname": FieldParams(6, 6, 0.5, "jaro", 0.7),
        },
        core=CoreParams(max_edits=6),
    )
    strict = MatchConfig(
        fields={
            "firstname": FieldParams(6, 6, 0.5, "jaro", 0.7),
            "surname": FieldParams(6, 6, 0.5, "jaro", 0.97),
        },
        core=CoreParams(max_edits=6),
    )
    m = FuzzyMatcher(loose, spark)
    m.insert_entries(_members_raw(spark), extraction=extraction_exprs())
    m.remove_entries(spark.createDataFrame([(3,)], "id long"))
    raw = spark.createDataFrame(
        [
            (0, "John", "Smitt", "1990-05-15", "loose"),
            (1, "John", "Smitt", "1990-05-15", "strict"),
            (2, "Michael", "Brown", "1992-08-22", "loose"),
        ],
        "probe_id long, firstname string, surname string,"
        " birthdate string, profile string",
    )
    res = m.search_with_profiles(
        raw, {"loose": loose, "strict": strict}, extraction=extraction_exprs()
    )
    hits = {(r.probe_id, r.id) for r in res.collect()}
    assert (0, 1) in hits  # loose accepts the surname typo
    assert (1, 1) not in hits  # strict threshold rejects it
    assert not any(i == 3 for _, i in hits)  # removed before the search
    leaf_ids = set(_leaf_rdd_ids(res))
    assert len(leaf_ids) == 2 and _leaf_rdd_ids(m._base)[0] in leaf_ids
