"""Seeded workload generators for the benchmark.

Every generator is a pure function of its arguments: the same seed gives
identical rows and ledgers. The engine only ever receives the generated
rows; the planting ledger stays with the benchmark and is what the
correctness gates compare against.

Nothing from ``fuzzy_matcher_spark.sources`` is imported, so a change to
the program cannot reshape a workload.

Dedup ledgers are lists of planted links ``(doc_a, doc_b)``: the planted
families are the connected components of those links.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
VOCAB_SIZE = 30000


def _vocab(seed: int) -> np.ndarray:
    """``VOCAB_SIZE`` distinct lowercase words of 3-10 letters."""
    rng = np.random.default_rng([seed, 0])
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        for ln in rng.integers(3, 11, size=VOCAB_SIZE).tolist():
            words.add("".join(_LETTERS[rng.integers(0, 26, size=ln)]))
            if len(words) == VOCAB_SIZE:
                break
    return np.array(sorted(words))


# Zipf-like (web text) word frequencies over vocabulary ranks
_CDF = np.cumsum(1.0 / (np.arange(VOCAB_SIZE) + 10.0))
_CDF /= _CDF[-1]


class DocMaker:
    """Word-level document synthesis. Documents are arrays of
    vocabulary indices until ``text`` renders them."""

    def __init__(self, vocab: np.ndarray, rng: np.random.Generator, words: int):
        self.vocab = vocab
        self.rng = rng
        self.words = words

    def draw(self, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(_CDF, self.rng.random(n)), VOCAB_SIZE - 1)

    def base(self) -> np.ndarray:
        lo, hi = int(self.words * 0.8), int(self.words * 1.2)
        return self.draw(int(self.rng.integers(lo, hi + 1)))

    def truncated(self, doc: np.ndarray) -> np.ndarray:
        """The first 92-97% of the words (a cut-off re-crawl)."""
        keep = self.rng.uniform(0.92, 0.97)
        return doc[: max(1, int(len(doc) * keep))]

    def edited(self, doc: np.ndarray, n_edits: int) -> np.ndarray:
        """Replace ``n_edits`` words at positions at least 12 apart."""
        out = doc.copy()
        slots = np.arange(0, len(doc), 12)
        out[self.rng.choice(slots, size=n_edits, replace=False)] = self.draw(n_edits)
        return out

    def variant(self, doc: np.ndarray) -> np.ndarray:
        """A truncation or a one-word edit, with equal odds."""
        return self.truncated(doc) if self.rng.random() < 0.5 else self.edited(doc, 1)

    def text(self, doc: np.ndarray) -> str:
        return " ".join(self.vocab[doc].tolist())


@dataclass
class Docs:
    """Generated ``(doc_id, text)`` rows plus planted links."""

    ids: list[int] = field(default_factory=list)
    texts: list[str] = field(default_factory=list)
    links: list[tuple[int, int]] = field(default_factory=list)


class Crawl:
    """An initial index corpus and an endless, seeded sequence of
    new-crawl micro-batches against it.

    The index holds small planted families. Batch ``k`` is a pure
    function of ``(seed, k)`` and holds, in equal parts: re-crawls of
    index docs (truncated or edited, which pair with the index),
    families planted within the batch (which pair inside it),
    byte-identical copies of index docs, and new singletons. Ids never
    repeat: batch ``k`` owns ids ``index_docs + k * batch_docs`` on."""

    def __init__(self, seed: int, index_docs: int, batch_docs: int, words: int = 200):
        self.seed = seed
        self.index_docs = index_docs
        self.batch_docs = batch_docs
        self.words = words
        self.vocab = _vocab(seed)
        mk = DocMaker(self.vocab, np.random.default_rng([seed, 2]), words)
        self._index_arrays: list[np.ndarray] = []
        self.index = Docs()
        while len(self._index_arrays) < index_docs:
            b = mk.base()
            self._index_arrays.append(b)
            if mk.rng.random() < 0.1 and len(self._index_arrays) < index_docs:
                n = len(self._index_arrays)
                self._index_arrays.append(mk.variant(b))
                self.index.links.append((n - 1, n))
        self.index.ids = list(range(index_docs))
        self.index.texts = [mk.text(a) for a in self._index_arrays]

    def batch(self, k: int) -> Docs:
        rng = np.random.default_rng([self.seed, 3, k])
        mk = DocMaker(self.vocab, rng, self.words)
        out = Docs()
        next_id = self.index_docs + k * self.batch_docs

        def add(arr: np.ndarray, link_to: int | None = None) -> int:
            nonlocal next_id
            out.ids.append(next_id)
            out.texts.append(mk.text(arr))
            if link_to is not None:
                out.links.append((link_to, next_id))
            next_id += 1
            return next_id - 1

        quarter = self.batch_docs // 4
        targets = rng.choice(self.index_docs, size=2 * quarter, replace=False).tolist()
        for t in targets[:quarter]:  # re-crawls of index docs
            add(mk.variant(self._index_arrays[t]), t)
        for _ in range(quarter // 2):  # pairs planted inside the batch
            b = mk.base()
            add(mk.variant(b), add(b))
        for t in targets[quarter:]:  # byte-identical copies of index docs
            add(self._index_arrays[t], t)
        while len(out.ids) < self.batch_docs:
            add(mk.base())
        return out


# -- member search -----------------------------------------------------------

_SYL = (
    "an ar be bo ca da de el en er fa ga ha in is ja ka la le li lo lu ma "
    "mi mo na ne ni no ol on or pa ra re ri ro sa se si so ta te ti to un "
    "va ve vi wa ya yo za"
).split()

Member = tuple[int, str, str, str]  # (id, firstname, surname, birthdate)


def _name(rng: np.random.Generator, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi + 1))
    return "".join(_SYL[i] for i in rng.integers(0, len(_SYL), size=n).tolist())


def _member(rng: np.random.Generator, mid: int) -> Member:
    first = _name(rng, 2, 3).capitalize()
    sur = _name(rng, 3, 4).capitalize()
    y, m, d = (int(rng.integers(lo, hi)) for lo, hi in ((1940, 2006), (1, 13), (1, 29)))
    return (mid, first, sur, f"{y:04d}-{m:02d}-{d:02d}")


def roster(seed: int, n: int, first_id: int = 1) -> list[Member]:
    """``n`` generated members with ids ``first_id`` on."""
    rng = np.random.default_rng([seed, 4, first_id])
    return [_member(rng, first_id + i) for i in range(n)]


# multi-character OCR misreads (the reference's OCR confusion pairs)
_OCR = (("m", "rn"), ("w", "vv"), ("d", "cl"), ("h", "li"))


def corrupt(rng: np.random.Generator, s: str) -> str:
    """One typo (substitution, transposition, deletion) or OCR misread,
    never in the first two letters."""
    if len(s) < 5:
        return s
    kind = int(rng.integers(0, 4))
    i = int(rng.integers(2, len(s) - 1))
    if kind == 0:
        return s[:i] + str(_LETTERS[rng.integers(0, 26)]) + s[i + 1 :]
    if kind == 1:
        return s[:i] + s[i + 1] + s[i] + s[i + 2 :]
    if kind == 2:
        return s[:i] + s[i + 1 :]
    for a, b in _OCR:
        j = s.find(a, 2)
        if j > 0:
            return s[:j] + b + s[j + len(a) :]
    return s[:i] + str(_LETTERS[rng.integers(0, 26)]) + s[i:]


@dataclass
class Probe:
    """One search probe and where it came from. ``source`` is the
    member id it was derived from, or None for a non-member;
    ``exact`` marks an uncorrupted copy of its source."""

    probe_id: int
    firstname: str
    surname: str
    birthdate: str
    source: int | None
    exact: bool = False


def probes(
    seed: int,
    step: int,
    members: list[Member],
    n: int,
    member_share: float = 0.75,
) -> list[Probe]:
    """``n`` probes for search ``step``: copies of ``members`` with one
    typo or OCR misread in the first name or surname, plus generated
    non-members. Probe ids are ``step * 10_000`` on."""
    rng = np.random.default_rng([seed, 5, step])
    out: list[Probe] = []
    base = step * 10_000
    for i in rng.choice(len(members), size=min(len(members), round(n * member_share)), replace=False).tolist():
        mid, first, sur, bd = members[i]
        if rng.random() < 0.5:
            first = corrupt(rng, first)
        else:
            sur = corrupt(rng, sur)
        out.append(Probe(base + len(out), first, sur, bd, mid))
    while len(out) < n:
        _, first, sur, bd = _member(rng, 0)
        out.append(Probe(base + len(out), first, sur, bd, None))
    return out


def exact_probes(step: int, members: list[Member], first_index: int) -> list[Probe]:
    """Uncorrupted copies of ``members``, with probe ids that follow the
    regular probes of ``step``."""
    base = step * 10_000 + first_index
    return [Probe(base + k, f, s, b, mid, exact=True) for k, (mid, f, s, b) in enumerate(members)]


def pairs_of_components(links: list[tuple[int, int]], keep=None) -> set[tuple[int, int]]:
    """All ``(a, b)``, ``a < b``, pairs inside the connected components
    of ``links``; with ``keep``, only nodes in ``keep`` count."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in links:
        if keep is None or (a in keep and b in keep):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, list[int]] = {}
    for x in list(parent):
        groups.setdefault(find(x), []).append(x)
    out: set[tuple[int, int]] = set()
    for g in groups.values():
        g.sort()
        out.update((g[i], g[j]) for i in range(len(g)) for j in range(i + 1, len(g)))
    return out
