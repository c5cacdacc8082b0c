"""Reference-parity multi-field fuzzy matcher, set-oriented.

Re-expresses the reference probe pipeline
(/root/reference/fuzzy_matcher_core/fuzzy_matcher_core.go:109-291) as
DataFrame operators:

  trie walk per field (O4a/O5/O6)  -> blocking joins per field
                                      (exact key ∪ prefix-1 ∪ shared
                                      char-bigram), generous by design
  edit accounting (O7)             -> trie_edit_distance pandas UDF,
                                      filtered per-field (<= MaxEdits[f],
                                      fuzzy_matcher_core.go:189-191)
  candidate merge (O4b)            -> groupBy(probe,id).agg(min edits
                                      per field -> map)
  global edit cap (O4c, clean.go:
  54-90)                           -> aggregate(map_values) <= MaxEdits,
                                      then drop candidates missing a
                                      required field (JVM, before the
                                      similarity UDFs)
  verification + thresholds (O4d,
  fuzzy_matcher_core.go:220-260)   -> per-field similarity kernels with
                                      the reference decision order
  weighted score (O4e)             -> sum(w_f * sim_f) projection
  top-5 (O4f)                      -> row_number window per probe
  TTL expiry (O11, clean.go:29-51) -> read-time expiry predicate
  delete (O12, clean.go:93-134)    -> left-anti join (remove_entries)
  validation gate (O14,
  example_source.go:21-53)         -> is_valid probe column: invalid
                                      probes get exact-only budgets

Blocking recall contract ("keys" mode, provably complete): take k =
the field's effective edit budget. Any path achieving trie_edit <= k
fully consumes one side X; at most k of X's chars are touched by edit
operations, so X's matched (diagonal, equal-both-sides) chars split
into <= k+1 runs, and if len(X) >= 2k+2 the longest run has length
>= 2 — a character bigram present in BOTH normalized values. Hence a
pair within budget either (a) shares a bigram (covered by the 'g:'
keys), or (b) has a side with length <= 2k+1, covered by the
short-value fallback: short stored values emit 's:short' which every
probe also emits, and short probes emit 'q:short' which every stored
value also emits — making short probes an explicit, honest corpus
scan (the reference trie pays the same: a budget >= the probe length
walks every branch). Exact matches and free prefix completions have
dedicated equi-join paths. A JVM levenshtein prefilter
(lev <= 2k + |len delta|, a sound over-approximation of
trie_edit <= k; 3k with OCR confusions enabled) cuts the volume
reaching the Python DP by orders of magnitude.

"minhash" mode replaces the bigram family with char-bigram MinHash
band keys (pure JVM 31-bit modular hashing — no Python hop) for
bounded candidate volume at web scale; the prefix/short/exact/
completion families and the prefilter stay. Recall is probabilistic,
tuned by (block_bands, block_rows) and validated >= 0.99 against the
brute-force oracle in tests/test_matcher_recall.py for both modes.

Probe side is assumed small relative to the corpus and is broadcast
into every blocking join. The probe relation is therefore read once per
field and family (plus verification): callers should hand ``search`` a
materialized probe batch, as ``matcher_api.FuzzyMatcher`` does with one
eager localCheckpoint per search, so those broadcasts read in-memory
rows instead of re-running the caller's probe scan. The base relation
is read at as many points; the facade materializes it once per write
generation.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fuzzy_matcher_spark.config import MatchConfig
from fuzzy_matcher_spark.functions.normalize import normalize_col
from fuzzy_matcher_spark.functions.similarity import similarity_udf, trie_edits_udf
from fuzzy_matcher_spark.operators.topk import topk_per_group

_MH_PRIME = 2147483659  # smallest prime > 2^31


def _bigrams(col: Column) -> Column:
    """Distinct char bigrams of an already-normalized value."""
    n = F.length(col)
    return F.array_distinct(
        F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1), lambda i: F.substring(col, i, F.lit(2))
            ),
        ).otherwise(F.array(col))
    )


def _minhash_band_keys(col: Column, bands: int, rows: int, seed: int) -> Column:
    """Char-bigram MinHash band keys as pure Catalyst expressions.

    31-bit modular hashing keeps a*h + b < 2^62, exact in signed int64
    under ANSI mode — no Python hop, unlike the document-scale MinHash
    (functions/minhash.py) whose 128-perm signatures warrant the one
    pandas UDF. Deterministic: coefficients derive from ``seed``.
    """
    rng = random.Random(seed)
    coeffs = [
        (rng.randrange(1, 1 << 31), rng.randrange(0, 1 << 31))
        for _ in range(bands * rows)
    ]
    hs = F.transform(
        _bigrams(col), lambda g: F.pmod(F.xxhash64(g), F.lit(1 << 31))
    )
    mins = [
        F.array_min(
            F.transform(hs, lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MH_PRIME)))
        )
        for a, b in coeffs
    ]
    return F.array(
        *[
            F.concat(
                F.lit(f"m{band}:"),
                F.xxhash64(*mins[band * rows : (band + 1) * rows]).cast("string"),
            )
            for band in range(bands)
        ]
    )


def _block_keys(
    col: Column, cfg: MatchConfig, max_edits: int, is_probe: bool
) -> Column:
    """Namespaced blocking keys (see module docstring contract)."""
    if cfg.blocking == "minhash":
        content = _minhash_band_keys(
            col, cfg.block_bands, cfg.block_rows, cfg.block_seed
        )
    else:
        content = F.transform(_bigrams(col), lambda g: F.concat(F.lit("g:"), g))
    prefix = F.concat(F.lit("p:"), F.substring(col, 1, 1))
    other_side_short = "s:short" if is_probe else "q:short"
    keys = F.array_union(F.array(prefix, F.lit(other_side_short)), content)
    own_short = "q:short" if is_probe else "s:short"
    cutoff = 2 * max_edits + 1
    return F.when(
        F.length(col) <= cutoff,
        F.array_union(keys, F.array(F.lit(own_short))),
    ).otherwise(keys)


def _field_candidates(
    base: DataFrame,
    probes: DataFrame,
    field: str,
    max_edits: int,
    ocr: bool,
    id_col: str,
    probe_id_col: str,
    broadcast_probes: bool = True,
    cfg: MatchConfig | None = None,
) -> DataFrame:
    """(probe_id, id, edits) for one field. base/probes carry the
    normalized field as column `_n`."""
    bc = F.broadcast if broadcast_probes else (lambda df: df)
    b = base.select(F.col(id_col), F.col(f"_n_{field}").alias("_bn"))
    p = probes.select(
        F.col(probe_id_col), F.col(f"_n_{field}").alias("_pn"), "_is_valid"
    )

    exact = b.join(
        bc(p.select(probe_id_col, "_pn")), F.col("_bn") == F.col("_pn")
    ).select(probe_id_col, id_col, F.lit(0).alias("edits"))

    # free prefix completion (0 edits): the reference BFS completes any
    # stored value extending the probe at zero cost — expansions beyond
    # the word end increment neither edits nor depth
    # (breadth_first_search.go:62-73, the 1/1 increments at :67-73 only
    # apply while Index-1 < len(Word)) — and this happens even at
    # all-zero budgets / for invalid probes, whose exact-prefix walk
    # still reaches the word end and enters BFS
    # (fuzzy_matcher_core.go:70-72 via recurse.go step 1). Empty probes
    # are excluded: the reference would complete them to the entire
    # trie, a deliberate semantic drop (documented, SURVEY §3.3 style).
    #
    # Key width (skew): a 1-char equi-key has <= 36 distinct values —
    # harmless under broadcast (no exchange on the key), but on the
    # non-broadcast path it hash-partitions the whole base relation
    # into <= 36 buckets, a guaranteed skew magnet. Non-broadcast
    # completion therefore keys on the PROBE's (<=2)-char prefix: a
    # base value extending a probe of length >= 2 shares its first two
    # chars, and a length-1 probe its first char, so the base side
    # emits BOTH its 1- and 2-char prefixes (exploded; array_distinct
    # collapses them for 1-char values) and every true completion
    # still meets its probe on exactly one key. Broadcast keeps the
    # single 1-char key — exploding would double the big side's rows
    # through the hash table for no partitioning benefit.
    # Pathological residual skew (one dominant 2-gram) is what
    # operators/pairs.salted_join is for.
    pall = p.where(F.length("_pn") > 0).select(probe_id_col, "_pn")
    bnn = b.where(F.length("_bn") > 0)
    if broadcast_probes:
        b_ck = bnn.withColumn("_k", F.substring("_bn", 1, 1))
        p_ck = pall.withColumn("_k", F.substring("_pn", 1, 1))
    else:
        b_ck = bnn.select(
            id_col,
            "_bn",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.substring("_bn", 1, 1), F.substring("_bn", 1, 2)
                    )
                )
            ).alias("_k"),
        )
        p_ck = pall.withColumn("_k", F.substring("_pn", 1, 2))
    completion = (
        b_ck.join(bc(p_ck), "_k")
        .where(
            F.col("_bn").startswith(F.col("_pn")) & (F.col("_bn") != F.col("_pn"))
        )
        .select(probe_id_col, id_col, F.lit(0).alias("edits"))
    )
    # mirror direction (0 edits): ProcessNode emits a match at ANY
    # end-of-string node passed mid-walk with the current edit count
    # (utils.go:30-43 step 3) — the exact-prefix walk reaches a stored
    # value that is a proper prefix of the probe at NumEdits == 0, so
    # it matches even at all-zero budgets / for invalid probes (the
    # probe's unconsumed suffix is the free query remainder). Here the
    # BASE value is the prefix, so the base side keys on its own
    # (<=2)-char prefix — one key per base row on BOTH paths — and the
    # probe side (always the small side) explodes its 1- and 2-char
    # prefixes to meet length-1 and length->=2 base values.
    b_mk = bnn.withColumn("_k", F.substring("_bn", 1, 2))
    p_mk = pall.select(
        probe_id_col,
        "_pn",
        F.explode(
            F.array_distinct(
                F.array(F.substring("_pn", 1, 1), F.substring("_pn", 1, 2))
            )
        ).alias("_k"),
    )
    mirror = (
        b_mk.join(bc(p_mk), "_k")
        .where(
            F.col("_pn").startswith(F.col("_bn")) & (F.col("_bn") != F.col("_pn"))
        )
        .select(probe_id_col, id_col, F.lit(0).alias("edits"))
    )
    exact = exact.union(completion).union(mirror)
    if max_edits <= 0:
        return exact

    # fuzzy path: only valid probes carry non-zero budgets (O14)
    cfg = cfg or MatchConfig()
    pv = p.where(F.col("_is_valid") & (F.length("_pn") > 0))
    pk = pv.select(
        probe_id_col,
        "_pn",
        F.explode(_block_keys(F.col("_pn"), cfg, max_edits, True)).alias("_k"),
    )
    bk = b.where(F.length("_bn") > 0).select(
        id_col,
        "_bn",
        F.explode(_block_keys(F.col("_bn"), cfg, max_edits, False)).alias("_k"),
    )
    # JVM prefilter: trie_edit <= k implies levenshtein <= 2k + |len
    # delta| (the free suffix accounts for the length delta; each
    # budgeted edit maps to <= 2 unit edits), <= 3k + |delta| with
    # multi-char OCR confusions ('m'->'rn' costs 1 in the trie walk, 2
    # in levenshtein). Sound over-approximation — cuts the candidate
    # volume reaching the Python DP without ever dropping a true pair.
    mult = 3 if ocr else 2
    lev_bound = F.lit(mult * max_edits) + F.abs(
        F.length("_pn") - F.length("_bn")
    )
    cand = (
        bk.join(bc(pk), "_k")
        .dropDuplicates([probe_id_col, id_col])
        .where(F.levenshtein("_pn", "_bn") <= lev_bound)
        .withColumn("edits", trie_edits_udf(ocr)("_pn", "_bn"))
        .where(F.col("edits") <= F.lit(max_edits))
        .select(probe_id_col, id_col, "edits")
    )
    return exact.union(cand)


def prepare(
    df: DataFrame, cfg: MatchConfig, extraction: dict[str, Column] | None = None
) -> DataFrame:
    """Add normalized match-key columns `_n_<field>`.

    ``extraction`` maps field name -> raw Column (CreateFuzzyEntry
    analog, example_source.go:104-120); defaults to the same-named
    column. Normalization = lower + strip non-alphanumerics
    (normalize.go:9-15) — derived columns only.
    """
    out = df
    for f in cfg.fields:
        src = (extraction or {}).get(f, F.col(f))
        # Go strings have no null: a missing value is the empty string,
        # which the reference stores/queries as "<field>:" — coalesce
        # keeps that semantic (empty matches empty exactly)
        out = out.withColumn(f"_n_{f}", F.coalesce(normalize_col(src), F.lit("")))
    return out


def search(
    base: DataFrame,
    probes: DataFrame,
    cfg: MatchConfig,
    id_col: str = "id",
    probe_id_col: str = "probe_id",
    is_valid_col: Column | None = None,
    as_of: Column | None = None,
    expiry_col: str = "expiry",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Top-k matches per probe: (probe_id, id, score, rank).

    ``base`` and ``probes`` must already carry `_n_<field>` columns
    (see ``prepare``). ``is_valid_col`` is the validation gate over the
    PROBE row (reference evaluates GetSearchParameters on the query,
    example_source.go:20-53); default: always valid.
    ``as_of`` enables TTL expiry (O11) as a read-time predicate.
    ``broadcast_probes=False`` switches the blocking joins to shuffled
    joins for probe workloads too large to broadcast (pair with
    operators.pairs.salted_join if the block-key histogram is hot).
    """
    cfg.validate()
    if cfg.core.use_expiration and as_of is not None:
        base = base.where(F.col(expiry_col) > as_of)

    probes = probes.withColumn(
        "_is_valid",
        is_valid_col if is_valid_col is not None else F.lit(True),
    )

    # per-field candidate generation (O4a) + per-field edit cap.
    #
    # max_depth enforcement (O5/O6): in the reference walk Depth
    # increments exactly when NumEdits does (recurse.go:91,107,129,161
    # and breadth_first_search.go:67-73 pair DepthIncrement=1 with
    # NumEditsIncrement=1 in every branch), so Depth == NumEdits along
    # every path and the ProcessNode limit check (utils.go:43-45)
    # makes the effective per-field budget min(MaxEdits, MaxDepth).
    # Completions beyond the query end increment NEITHER (bfs :67-68
    # run only when Index-1 < len(Word)), i.e. the free suffix is
    # depth-free in the reference too — a suffix-length cap here would
    # diverge from it. Not replicated: the emit-before-check overshoot
    # (utils.go:28-44 emits an end-of-string match before testing the
    # limits), which can admit edits == min(MaxEdits, MaxDepth) + 1
    # only when the final edit itself lands on an end-of-string node;
    # we take the conservative bound.
    parts = []
    for f, fp in cfg.fields.items():
        parts.append(
            _field_candidates(
                base,
                probes,
                f,
                min(fp.max_edits, fp.max_depth),
                cfg.core.correct_ocr_misreads,
                id_col,
                probe_id_col,
                broadcast_probes,
                cfg,
            ).select(
                probe_id_col, id_col, F.lit(f).alias("field"), "edits"
            )
        )
    cand = parts[0]
    for p in parts[1:]:
        cand = cand.unionByName(p)

    # merge (O4b): min edits per (probe, id, field) -> field->edits map
    merged = (
        cand.groupBy(probe_id_col, id_col, "field")
        .agg(F.min("edits").alias("edits"))
        .groupBy(probe_id_col, id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("field", "edits"))
            ).alias("_fed")
        )
    )

    # global total-edit cap (O4c, clean.go:69-77)
    merged = merged.where(
        F.aggregate(F.map_values("_fed"), F.lit(0), lambda a, x: a + x)
        <= F.lit(cfg.core.max_edits)
    )
    # required-field prefilter: a candidate missing a required field
    # (min_distance > 0) is rejected by the `~present` test below anyway
    # (fuzzy_matcher_core.go:228-233); dropping it here, in the JVM,
    # keeps it out of the verification join and the Python similarity
    # kernels
    for f, fp in cfg.fields.items():
        if fp.min_distance > 0:
            merged = merged.where(F.map_contains_key("_fed", F.lit(f)))

    # verification (O4d): join values back, reference decision order
    b_vals = base.select(
        F.col(id_col), *[F.col(f"_n_{f}").alias(f"_bn_{f}") for f in cfg.fields]
    )
    p_vals = probes.select(
        F.col(probe_id_col),
        *[F.col(f"_n_{f}").alias(f"_pn_{f}") for f in cfg.fields],
    )
    v = merged.join(
        F.broadcast(p_vals) if broadcast_probes else p_vals, probe_id_col
    ).join(b_vals, id_col)

    reject = F.lit(False)
    score = F.lit(0.0)
    for f, fp in cfg.fields.items():
        present = F.map_contains_key("_fed", F.lit(f))
        sim_raw = F.when(
            present, similarity_udf(fp.method)(F.col(f"_pn_{f}"), F.col(f"_bn_{f}"))
        ).otherwise(F.lit(None))
        # `similarity < min -> similarity = 0` (fuzzy_matcher_core.go:239-241)
        sim = F.when(sim_raw < F.lit(fp.min_distance), F.lit(0.0)).otherwise(sim_raw)
        if fp.min_distance > 0:
            # required: missing or below threshold => reject entry
            # (fuzzy_matcher_core.go:228-233, :249-252); an empty
            # matched value also rejects (:231 matchVal == "" && min>0)
            # — relevant for 'default'/'levenshtein' kernels whose
            # empty-vs-empty similarity is 1.0
            reject = (
                reject
                | (~present)
                | (sim < F.lit(fp.min_distance))
                | (F.length(F.col(f"_bn_{f}")) == 0)
            )
            contrib = F.lit(fp.weight) * sim
        else:
            # optional: sim==0 is skipped from the score (:243-247)
            contrib = F.when(
                present & (sim > 0), F.lit(fp.weight) * sim
            ).otherwise(F.lit(0.0))
        score = score + F.coalesce(contrib, F.lit(0.0))

    scored = (
        v.withColumn("_reject", reject)
        .where(~F.col("_reject"))
        .select(probe_id_col, id_col, score.alias("score"))
    )

    # top-k (O4f): score desc, id asc tie-break
    return topk_per_group(
        scored, [probe_id_col], [F.desc("score"), F.col(id_col)], cfg.top_k
    ).select(probe_id_col, id_col, "score", F.col("rank").cast("int").alias("rank"))


def search_profiles(
    base: DataFrame,
    probes: DataFrame,
    profiles: dict[str, MatchConfig],
    profile_col: str = "profile",
    id_col: str = "id",
    probe_id_col: str = "probe_id",
    **kwargs,
) -> DataFrame:
    """Per-record parameter switching, set-oriented.

    The reference's GetSearchParameters may return an arbitrary
    parameter set per record (fuzzy_types/types.go:102-105); the
    shipped sources use two (valid / zero-budget, covered by
    ``is_valid_col``). For custom sources with more, partition the
    probe set by a profile column and run one ``search`` per named
    profile — each partition gets its full MatchConfig (budgets,
    methods, thresholds, weights, blocking), and the results union.
    Probes whose profile is not in ``profiles`` are ignored, like a
    reference source returning no parameters for them.

    All configs must produce prepare()-compatible probes: the probe
    DataFrame must carry ``_n_<field>`` for the union of all profile
    fields (call ``prepare`` with the widest config).
    """
    out = None
    for name, cfg in profiles.items():
        part = search(
            base,
            probes.where(F.col(profile_col) == name),
            cfg,
            id_col=id_col,
            probe_id_col=probe_id_col,
            **kwargs,
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("profiles must not be empty")
    return out


def remove_entries(base: DataFrame, ids: DataFrame, id_col: str = "id") -> DataFrame:
    """Delete path (O12): left-anti join; with TableIO persistence this
    becomes a MERGE/overwrite (sources/tableio.py)."""
    other = ids.columns[0]
    return base.join(
        ids.select(F.col(other).alias(id_col)), id_col, "left_anti"
    )
