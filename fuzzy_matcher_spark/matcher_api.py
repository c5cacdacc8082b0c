"""Public facade — API parity with the reference's FuzzyMatcher
(/root/reference/fuzzy_matcher.go:16-36: Init, InsertEntries, Search,
RemoveEntries), DataFrame-native and optionally TableIO-persistent.

A reference user maps their calls 1:1:

    m = FuzzyMatcher(config, spark)                 # Init
    m.insert_entries(df, extraction={...})          # InsertEntries/Build
    hits = m.search(probe_df, is_valid_col=...)     # Search (Clean+SearchFuzzy)
    m.remove_entries(ids_df)                        # RemoveEntries

Incremental insert visibility is immediate (the reference builds into
a live trie, fuzzy_matcher_core.go:59-106; here inserts union into the
base relation / append a TableIO snapshot). Expiry cleanup is a
read-time predicate applied at search, matching the lazy Clean()
semantics (clean.go:29-51).

Materialize on read, not on write. Writes (insert_entries,
remove_entries, clean_expired) stay lazy and only mark the base dirty;
the first search after a write materializes the base once with an
eager localCheckpoint, like the reference building its trie once and
then only walking it per query (fuzzy_matcher_core.go:59-106 vs
:109-291). A search plan reads the base at many points (every field
and blocking family, plus verification); without this each point would
replay the whole write history. The checkpoint also truncates the
union tower that inserts build. Each search likewise materializes its
prepared probe batch once, so the per-field, per-family broadcasts
read in-memory rows instead of re-running the caller's probe scan.

Between two searches, writes form a log over the last materialized
(stable) relation: each insert batch and each removal id set carries a
write sequence number, and the live base is the stable rows plus the
logged inserts, minus every row whose id a LATER removal names. That is
one union and one join however many writes are logged, so
materializing costs the same number of Spark jobs after one write
round or after many, and re-inserting a removed id still works.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fuzzy_matcher_spark.config import MatchConfig
from fuzzy_matcher_spark.operators.matcher import prepare, search, search_profiles
from fuzzy_matcher_spark.sources.tableio import TableIO

BASE_TABLE = "matcher_base"

# After this many writes (inserts and removals) without a search in
# between, the base relation's lineage is truncated with a lazy
# localCheckpoint. The reference matcher's Build is re-entrant into a
# live trie (fuzzy_matcher_core.go:59-106) and callers use it for
# long-lived incremental ingest; a plain unionByName chain grows the
# logical plan by one Union per insert, so thousands of inserts build a
# plan tower whose analysis/optimization cost dominates every later
# search (and eventually overflows the driver stack). A search already
# truncates the tower when it materializes the base (and empties the
# write log); this bound covers write streams that never search, such
# as insert-only ingest. Checkpointing every N keeps plan depth <= N
# Unions over a LogicalRDD root. Lazy (eager=False): the truncation
# materializes on the next action, so insert itself stays cheap —
# matching the reference's O(insert) cost shape.
CHECKPOINT_EVERY = 32


class FuzzyMatcher:
    def __init__(
        self,
        config: MatchConfig,
        spark: SparkSession,
        io: TableIO | None = None,
        id_col: str = "id",
    ):
        config.validate()
        self.config = config
        self.spark = spark
        self.io = io
        self.id_col = id_col
        self._base: DataFrame | None = None  # live relation (lazy)
        # write log since the last fold (see module docstring)
        self._stable: DataFrame | None = None
        self._inserted: list[DataFrame] = []  # prepared rows + _seq
        self._removed: list[DataFrame] = []  # (_rm_id, _rm_seq)
        self._writes = 0  # write sequence number
        # set by every write; the next search materializes the base
        self._dirty = False
        if io is not None and io.exists(BASE_TABLE):
            self._fold(io.read(BASE_TABLE))

    # -- write log -------------------------------------------------------------
    def _fold(self, base: DataFrame) -> None:
        """Make ``base`` the stable relation and empty the write log."""
        self._base = self._stable = base
        self._inserted, self._removed = [], []
        self._dirty = True

    def _replay(self) -> None:
        """Rebuild the live base from the write log; bound the log's plan
        at CHECKPOINT_EVERY writes."""
        live = self._stable.withColumn("_seq", F.lit(0))
        for ins in self._inserted:
            live = live.unionByName(ins, allowMissingColumns=True)
        if self._removed:
            rm = reduce(DataFrame.unionByName, self._removed)
            # latest removal per id; a left join, not a left-anti join:
            # Catalyst pushes an anti-join below the insert union (one
            # join, and Spark jobs, per insert batch), never an outer one
            last = rm.groupBy("_rm_id").agg(F.max("_rm_seq").alias("_rm_seq"))
            live = (
                live.join(last, live[self.id_col] == last["_rm_id"], "left")
                .where(F.col("_rm_seq").isNull() | (F.col("_rm_seq") < F.col("_seq")))
                .drop("_rm_id", "_rm_seq")
            )
        self._base = live.drop("_seq")
        self._dirty = True
        if len(self._inserted) + len(self._removed) >= CHECKPOINT_EVERY:
            self._fold(self._base.localCheckpoint(eager=False))

    def _read_base(self) -> DataFrame:
        """The base relation for a search, materialized once per write
        generation (see module docstring)."""
        if self._dirty:
            self._fold(self._base.localCheckpoint(eager=True))
            self._dirty = False
        return self._base

    def _read_probes(
        self, probes: DataFrame, extraction: dict[str, Column] | None
    ) -> DataFrame:
        """Prepared probes, materialized once per search."""
        return prepare(probes, self.config, extraction).localCheckpoint(eager=True)

    def _empty_result(self, probe_id_col: str) -> DataFrame:
        return self.spark.createDataFrame(
            [], f"{probe_id_col} long, {self.id_col} long, score double, rank int"
        )

    # -- load path (O2/O13) --------------------------------------------------
    def insert_entries(
        self, df: DataFrame, extraction: dict[str, Column] | None = None
    ) -> "FuzzyMatcher":
        """No-op on empty input (fuzzy_matcher.go:21-23); re-entrant
        append otherwise. Expiry column (if configured) must be present
        (Build errors on missing expiry, fuzzy_matcher_core.go:86-88)."""
        if df.isEmpty():
            return self
        if self.config.core.use_expiration and "expiry" not in df.columns:
            raise ValueError(
                "use_expiration=True: entries must carry an 'expiry' column"
            )
        prepared = prepare(df, self.config, extraction)
        if self._base is None:
            self._fold(prepared)
        else:
            self._writes += 1
            self._inserted.append(prepared.withColumn("_seq", F.lit(self._writes)))
            self._replay()
        if self.io is not None:
            self.io.write(prepared, BASE_TABLE, mode="append")
        return self

    # -- probe path (O4/O13) ---------------------------------------------------
    def search(
        self,
        probes: DataFrame,
        probe_id_col: str = "probe_id",
        extraction: dict[str, Column] | None = None,
        is_valid_col: Column | None = None,
        as_of: Column | None = None,
    ) -> DataFrame:
        if self._base is None:
            return self._empty_result(probe_id_col)
        return search(
            self._read_base(),
            self._read_probes(probes, extraction),
            self.config,
            id_col=self.id_col,
            probe_id_col=probe_id_col,
            is_valid_col=is_valid_col,
            as_of=as_of if as_of is not None else F.current_timestamp(),
        )

    def search_with_profiles(
        self,
        probes: DataFrame,
        profiles: dict,
        profile_col: str = "profile",
        probe_id_col: str = "probe_id",
        extraction: dict[str, Column] | None = None,
    ) -> DataFrame:
        """Per-record parameter switching: GetSearchParameters may
        return any parameter set per record (fuzzy_types/types.go:
        102-105). ``profiles`` maps profile name -> MatchConfig; the
        probe's ``profile_col`` selects its parameters. Probes are
        prepared with this matcher's config (the field universe)."""
        if self._base is None:
            return self._empty_result(probe_id_col)
        return search_profiles(
            self._read_base(),
            self._read_probes(probes, extraction),
            profiles,
            profile_col=profile_col,
            id_col=self.id_col,
            probe_id_col=probe_id_col,
        )

    # -- delete path (O12) ------------------------------------------------------
    def remove_entries(self, ids: DataFrame) -> "FuzzyMatcher":
        """Bulk remove (RemoveEntries, fuzzy_matcher_core/clean.go:93-134).
        Both the in-memory and the persisted path are anti-join shaped —
        the id set stays a DataFrame end to end, so a 10M-row delete
        set never lands on the driver."""
        if self._base is None:
            return self
        self._writes += 1
        self._removed.append(
            ids.select(
                F.col(ids.columns[0]).alias("_rm_id"),
                F.lit(self._writes).alias("_rm_seq"),
            )
        )
        self._replay()
        if self.io is not None:
            self.io.delete_matching(BASE_TABLE, ids, self.id_col)
        return self

    # -- maintenance (O11) -------------------------------------------------------
    def clean_expired(self, as_of: Column | None = None) -> "FuzzyMatcher":
        """Eager TTL maintenance (the reference cleans lazily per search;
        search() here already filters at read time — this physically
        removes expired rows, like Iceberg DELETE WHERE)."""
        if self._base is not None and self.config.core.use_expiration:
            cut = as_of if as_of is not None else F.current_timestamp()
            self._fold(self._base.where(F.col("expiry") > cut))
            if self.io is not None:
                self.io.write(self._base, BASE_TABLE, mode="overwrite")
        return self
