"""Recall-parity harness (SURVEY.md §5.2 item 3).

A pure-Python brute-force oracle applies the reference decision
procedure directly (all probe x member pairs, no blocking/joins):
per-field trie-edit budgets -> global edit cap -> threshold
verification -> weighted score -> top-5. The Spark pipeline must
reproduce its (probe, member) match pairs with recall >= 0.99 — this
exercises everything the oracle does NOT share with the pipeline:
blocking joins, candidate merge, window top-k, broadcast plans.
"""

import random

import pytest

from fuzzy_matcher_spark.config import example_member_config
from fuzzy_matcher_spark.functions.similarity import (
    similarity,
    trie_edit_distance,
)
from fuzzy_matcher_spark.operators.matcher import search
from fuzzy_matcher_spark.sources.members import (
    MEMBERS,
    members_df,
    probe_validity_col,
    probes_df,
)

CFG = example_member_config()


def _norm(s: str) -> str:
    return "".join(c for c in s.lower().strip() if c.isalnum())


def _is_valid(first: str, sur: str) -> bool:
    f, s = first.strip().lower(), sur.strip().lower()
    return bool(f) and bool(s) and (len(f) + len(s)) / 2.0 > 3.5


def _oracle(probes):
    """Reference semantics, brute force. Returns {(probe_id, member_id)}."""
    out = set()
    members = [
        (mid, _norm(fn), _norm(sn), bd.replace("-", "")) for mid, fn, sn, bd in MEMBERS
    ]
    for pid, fn, sn, bd in probes:
        valid = _is_valid(fn, sn)
        budgets = {"firstname": 6, "surname": 2, "birthdate": 2} if valid else {
            "firstname": 0, "surname": 0, "birthdate": 0}
        pvals = {
            "firstname": _norm(fn),
            "surname": _norm(sn),
            "birthdate": bd.replace("-", ""),
        }
        scored = []
        for mid, mfn, msn, mbd in members:
            mvals = {"firstname": mfn, "surname": msn, "birthdate": mbd}
            edits, ok = {}, True
            for f in pvals:
                if budgets[f] == 0:
                    # zero budgets still free-complete stored values
                    # extending the probe (BFS beyond the word end
                    # increments neither edits nor depth,
                    # breadth_first_search.go:62-73) AND still emit
                    # stored values that are proper prefixes of the
                    # probe (end-of-string nodes passed mid-walk,
                    # utils.go:30-43 step 3)
                    if pvals[f] == mvals[f] or (
                        pvals[f] and mvals[f].startswith(pvals[f])
                    ) or (
                        mvals[f] and pvals[f].startswith(mvals[f])
                    ):
                        edits[f] = 0
                    continue
                e = trie_edit_distance(pvals[f], mvals[f])
                if e <= budgets[f]:
                    edits[f] = e
            if sum(edits.values()) > CFG.core.max_edits:
                continue
            score = 0.0
            for f, fp in CFG.fields.items():
                present = f in edits
                if not present:
                    if fp.min_distance > 0:
                        ok = False
                        break
                    continue
                sim = similarity(pvals[f], mvals[f], fp.method)
                if sim < fp.min_distance:
                    sim = 0.0
                if fp.min_distance == 0 and sim == 0:
                    continue
                if fp.min_distance > 0 and sim < fp.min_distance:
                    ok = False
                    break
                score += fp.weight * sim
            if ok:
                scored.append((score, mid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for _, mid in scored[:5]:
            out.add((pid, mid))
    return out


def _gen_probes(n=150, seed=99):
    """Probes derived from members: exact, typo'd, truncated, scrambled."""
    rng = random.Random(seed)
    probes = []
    for i in range(n):
        mid, fn, sn, bd = MEMBERS[rng.randrange(len(MEMBERS))]
        kind = rng.randrange(5)
        if kind == 1 and len(fn) > 3:  # firstname typo
            j = rng.randrange(len(fn))
            fn = fn[:j] + rng.choice("abcdefghijklmnopqrstuvwxyz") + fn[j + 1 :]
        elif kind == 2 and len(sn) > 4:  # surname typo
            j = rng.randrange(len(sn))
            sn = sn[:j] + sn[j + 1 :]  # deletion
        elif kind == 3:  # nickname-ish truncation
            fn = fn[: max(3, len(fn) // 2)]
        elif kind == 4:  # wrong birthdate (should kill the match)
            bd = "1900-01-01"
        probes.append((i, fn, sn, bd))
    return probes


@pytest.mark.parametrize("blocking", ["keys", "minhash"])
def test_recall_vs_bruteforce_oracle(spark, blocking):
    probes = _gen_probes()
    want = _oracle(probes)
    cfg = example_member_config()
    cfg.blocking = blocking
    base = members_df(spark, cfg)
    got_rows = search(
        base, probes_df(spark, probes), cfg, is_valid_col=probe_validity_col()
    ).collect()
    got = {(r.probe_id, r.id) for r in got_rows}

    assert len(want) > 80, f"oracle should match most probes, got {len(want)}"
    missed = want - got
    recall = 1 - len(missed) / len(want)
    assert recall >= 0.99, f"recall {recall:.4f}; missed {sorted(missed)[:10]}"
    extra = got - want
    precision = 1 - len(extra) / max(len(got), 1)
    assert precision >= 0.99, f"precision {precision:.4f}; extra {sorted(extra)[:10]}"


def test_zero_budget_stored_prefix_mirror(spark):
    """A stored value that is a proper prefix of the probe matches at
    all-zero budgets: the exact-prefix walk passes the stored value's
    end-of-string node mid-walk with NumEdits == 0 and ProcessNode
    emits it (utils.go:30-43 step 3). Both directions must hold."""
    from fuzzy_matcher_spark.config import CoreParams, FieldParams, MatchConfig
    from fuzzy_matcher_spark.operators.matcher import prepare

    cfg = MatchConfig(
        fields={"name": FieldParams(0, 0, 1.0, "default", 1.0)},
        core=CoreParams(max_edits=0),
    )
    base = prepare(
        spark.createDataFrame(
            [(1, "chris"), (2, "christopher"), (3, "bob")], "id long, name string"
        ),
        cfg,
    )
    probes = prepare(
        spark.createDataFrame([(10, "christopher")], "probe_id long, name string"),
        cfg,
    )
    got = {r.id for r in search(base, probes, cfg).collect()}
    assert got == {1, 2}  # stored prefix (mirror) + exact


def _scored_oracle(cfg, probes, members=MEMBERS):
    """Brute-force top-k with scores for any ``cfg`` over the member
    fields: {(probe_id, member_id): score}. Per field, a stored value
    equal to the probe or in a prefix relation with it costs 0 edits at
    any budget (exact, free completion and mirror walks); otherwise the
    trie-edit distance counts if within min(max_edits, max_depth) and
    both values are non-empty. Invalid probes get zero budgets."""
    out = {}
    mrows = [
        (mid, {"firstname": _norm(fn), "surname": _norm(sn),
               "birthdate": bd.replace("-", "")})
        for mid, fn, sn, bd in members
    ]
    for pid, fn, sn, bd in probes:
        valid = _is_valid(fn, sn)
        pvals = {"firstname": _norm(fn), "surname": _norm(sn),
                 "birthdate": bd.replace("-", "")}
        scored = []
        for mid, mvals in mrows:
            edits = {}
            for f, fp in cfg.fields.items():
                p, m = pvals[f], mvals[f]
                budget = min(fp.max_edits, fp.max_depth) if valid else 0
                if p == m or (p and m.startswith(p)) or (m and p.startswith(m)):
                    edits[f] = 0
                elif budget > 0 and p and m:
                    e = trie_edit_distance(p, m)
                    if e <= budget:
                        edits[f] = e
            if sum(edits.values()) > cfg.core.max_edits:
                continue
            score, ok = 0.0, True
            for f, fp in cfg.fields.items():
                if f not in edits:
                    if fp.min_distance > 0:
                        ok = False
                        break
                    continue
                sim = similarity(pvals[f], mvals[f], fp.method)
                if sim < fp.min_distance:
                    sim = 0.0
                if fp.min_distance > 0 and (sim < fp.min_distance or not mvals[f]):
                    ok = False
                    break
                if sim > 0:
                    score += fp.weight * sim
            if ok:
                scored.append((score, mid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for score, mid in scored[: cfg.top_k]:
            out[(pid, mid)] = score
    return out


def test_required_field_prefilter_mixed_config(spark):
    """Optional (min_distance=0) and required fields together: the
    required-field prefilter runs before verification, so a pair that
    matches only on the optional field is rejected, and every kept
    pair scores exactly as the brute-force oracle says, including pairs
    that match on the required fields alone."""
    from fuzzy_matcher_spark.config import CoreParams, FieldParams, MatchConfig

    cfg = MatchConfig(
        fields={
            # budget 1: many true pairs miss the optional field
            "firstname": FieldParams(1, 1, 0.3, "jaro", 0.0),
            "surname": FieldParams(2, 2, 0.3, "jaro", 0.9),
            "birthdate": FieldParams(2, 2, 0.4, "default", 1.0),
        },
        core=CoreParams(max_edits=6),
    )
    only_optional = [
        (1000, "John", "Zzyzx", "1800-01-01"),
        (1001, "Michael", "Qwerty", "1700-02-02"),
    ]
    required_only = [(1002, "Xavier", "Smith", "1990-05-15")]
    probes = _gen_probes() + only_optional + required_only
    want = _scored_oracle(cfg, probes)

    base = members_df(spark, cfg)
    got_rows = search(
        base, probes_df(spark, probes, cfg), cfg, is_valid_col=probe_validity_col()
    ).collect()
    got = {(r.probe_id, r.id): r.score for r in got_rows}

    assert len(want) > 80, f"oracle should match most probes, got {len(want)}"
    assert not any(pid in (1000, 1001) for pid, _ in got), got
    assert (1002, 1) in got  # required fields alone are enough
    assert got.keys() == want.keys(), (
        sorted(want.keys() - got.keys())[:10],
        sorted(got.keys() - want.keys())[:10],
    )
    for k, s in want.items():
        assert got[k] == pytest.approx(s, abs=1e-9), (k, got[k], s)
