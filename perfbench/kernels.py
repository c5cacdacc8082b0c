"""Single-thread microbenchmarks of the ``functions`` kernels.

Inputs are fixed (seed 0) and derived from the workload generators:
MinHash runs over gram-id arrays of generated documents, Jaro-Winkler
and trie edit distance over (corrupted probe, member) name pairs. Each
kernel is timed over its whole input, several times, in this process;
the reported rate is the median.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import gen

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _gram_ids(tokens: np.ndarray, n: int = 5) -> np.ndarray:
    """Distinct word n-gram ids of one doc (a polynomial mix of
    per-token ids), shaped like the pipeline's MinHash input."""
    t = (tokens.astype(np.uint64) + np.uint64(1)) * _MIX
    m = len(t) - n + 1
    with np.errstate(over="ignore"):
        h = t[:m].copy()
        for k in range(1, n):
            h = h * _MIX + t[k : m + k]
    return np.unique(h)


def _rate(fn, items: int, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return items / statistics.median(times)


def run() -> dict[str, float]:
    from fuzzy_matcher_spark.functions.minhash import minhash_kernel
    from fuzzy_matcher_spark.functions.similarity import jaro_winkler, trie_edit_distance

    rng = np.random.default_rng([0, 9])
    mk = gen.DocMaker(gen._vocab(0), rng, 200)
    grams = [_gram_ids(mk.base()) for _ in range(300)]
    a = ((rng.integers(0, 1 << 62, size=128).astype(np.uint64) << np.uint64(1)) | np.uint64(1))[:, None]
    b = rng.integers(0, 1 << 62, size=128).astype(np.uint64)[:, None]

    members = gen.roster(0, 400)
    by_id = {m[0]: m for m in members}
    pairs = []
    for p in gen.probes(0, 0, members, 400, member_share=1.0):
        _, first, sur, _ = by_id[p.source]
        pairs += [(p.firstname.lower(), first.lower()), (p.surname.lower(), sur.lower())]

    def minhash():
        for g in grams:
            minhash_kernel(g, a, b)

    def jw():
        for x, y in pairs:
            jaro_winkler(x, y)

    def trie():
        for x, y in pairs:
            trie_edit_distance(x, y)

    return {
        "functions.minhash_kernel_docs_per_s": _rate(minhash, len(grams)),
        "functions.jaro_winkler_calls_per_s": _rate(jw, len(pairs)),
        "functions.trie_edit_calls_per_s": _rate(trie, len(pairs)),
    }
