"""Seeded inputs for the ``curation_crawl`` workload: a document corpus with
embeddings (indexed at set-up), a benchmark set for decontamination, and
crawl shards with planted duplicates, near-duplicates, contaminated and
low-quality documents.

Every planted property is recorded on the shard so the run can check the
operators found exactly (or, for MinHash, nearly exactly) what was planted.
Shard composition is fixed; the seed changes only the text and vectors.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

STOPWORDS = ("the", "and", "of", "a", "to", "in", "is", "it")
VOCAB_SIZE = 3000
DIM = 32
N_CLUSTERS = 16
BENCH_DOCS = 40
DECONTAM_SHINGLE = 5
MINHASH_SHINGLE = 3
#: planted near-duplicates: share of a corpus document's words replaced.
#: 2 % lands at Jaccard ~0.9 (must be found at the 0.7 threshold), 25 %
#: at ~0.3 (must not be)
NEARDUP_EDITS = (0.02, 0.25)
FOUND_JACCARD = 0.8
MISSED_JACCARD = 0.6

#: shard composition (documents per shard). No public rate is assumed:
#: half the shard is fresh, the other half is split evenly across the five
#: planted classes — exact copies, near-duplicates above and below the
#: threshold, contaminated, low quality — so every stage gets as many
#: planted documents as any other and each recall check rests on 40 of them
PLANTED = 40
SHARD_FRESH = 5 * PLANTED
SHARD_EXACT_COPIES = PLANTED     # verbatim copies of fresh shard documents
SHARD_NEARDUPS = PLANTED         # per edit level
SHARD_CONTAMINATED = PLANTED
SHARD_SHORT = PLANTED // 2
SHARD_REPETITIVE = PLANTED // 2
SHARD_DOCS = (SHARD_FRESH + SHARD_EXACT_COPIES
              + SHARD_NEARDUPS * len(NEARDUP_EDITS) + SHARD_CONTAMINATED
              + SHARD_SHORT + SHARD_REPETITIVE)


def vocabulary() -> list[str]:
    """Fixed pseudo-word vocabulary (independent of the workload seed)."""
    rng = np.random.default_rng(20240531)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(4, 10))
        words.add("".join(rng.choice(letters, n)))
    return sorted(words - set(STOPWORDS))


def shingles(text: str, k: int) -> set[str]:
    """Distinct word k-grams, split the way the engine splits."""
    t = text.split()
    return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}


def jaccard(a: str, b: str, k: int = MINHASH_SHINGLE) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    return len(sa & sb) / len(sa | sb)


class TextSource:
    """Draws documents from the vocabulary with a Zipf-like word law."""

    def __init__(self, rng: np.random.Generator, vocab: list[str]):
        self.rng = rng
        self.vocab = np.array(vocab)
        w = 1.0 / (np.arange(len(vocab)) + 20.0)
        self.p = w / w.sum()

    def words(self, n: int) -> list[str]:
        out = self.rng.choice(self.vocab, n, p=self.p).tolist()
        stop = self.rng.random(n) < 0.2
        picks = self.rng.integers(0, len(STOPWORDS), n)
        return [STOPWORDS[p] if s else w for w, s, p in zip(out, stop, picks)]

    def doc(self) -> str:
        return " ".join(self.words(int(self.rng.integers(80, 160))))


@dataclass
class Corpus:
    docs: list[tuple[int, str]]                 # (doc_id, text)
    vectors: np.ndarray                         # (n, DIM), row i = docs[i]
    bench: list[tuple[int, str]]                # decontamination set
    centers: np.ndarray


def corpus(seed: int, n_docs: int) -> Corpus:
    """The indexed corpus. The embedding geometry is fixed — cluster centers
    from a constant seed, document i in cluster i mod N_CLUSTERS — so the IVF
    cells, and with them the cost of a probe, are alike for every workload
    seed; the seed moves the texts and the points within their clusters."""
    rng = np.random.default_rng(seed)
    src = TextSource(rng, vocabulary())
    docs = [(i + 1, src.doc()) for i in range(n_docs)]
    centers = np.random.default_rng(20240601).normal(0.0, 1.0, (N_CLUSTERS, DIM))
    vectors = (centers[np.arange(n_docs) % N_CLUSTERS]
               + rng.normal(0.0, 0.3, (n_docs, DIM)))
    bench = [(900_000 + i, src.doc()) for i in range(BENCH_DOCS)]
    return Corpus(docs, vectors, bench, centers)


@dataclass
class Shard:
    """One crawl shard plus what was planted in it."""

    index: int
    docs: list[tuple[int, str]]
    vectors: np.ndarray
    low_quality: set[int] = field(default_factory=set)
    exact_copies: set[int] = field(default_factory=set)   # must be dropped
    neardup_of: dict[int, int] = field(default_factory=dict)  # shard id -> corpus id
    must_find: set[int] = field(default_factory=set)      # planted J >= FOUND_JACCARD
    must_miss: set[int] = field(default_factory=set)      # planted J < MISSED_JACCARD
    contaminated: set[int] = field(default_factory=set)   # shares a 5-gram with bench


def shard(seed: int, index: int, c: Corpus, planted: int = PLANTED) -> Shard:
    """Shard ``index`` of the crawl: same composition every time (the
    SHARD_* counts, scaled by ``planted`` / PLANTED), doc ids disjoint from
    the corpus and from every other shard."""
    # a spawn key keeps every shard's stream apart from the corpus stream
    # (plain [seed, index] entropy would equal ``seed`` for index 0)
    rng = np.random.default_rng(np.random.SeedSequence(seed, spawn_key=(1, index)))
    src = TextSource(rng, vocabulary())
    base = 1_000_000 * (index + 1)
    texts: list[str] = []
    vecs: list[np.ndarray] = []
    sh = Shard(index, [], np.zeros((0, DIM)))

    def add(text: str, vec: np.ndarray) -> int:
        texts.append(text)
        vecs.append(vec)
        return base + len(texts)

    def fresh_vec() -> np.ndarray:
        return c.centers[int(rng.integers(0, N_CLUSTERS))] + rng.normal(0.0, 0.3, DIM)

    def n(count: int) -> int:
        return count * planted // PLANTED

    for _ in range(n(SHARD_FRESH - SHARD_EXACT_COPIES)):
        add(src.doc(), fresh_vec())
    for _ in range(n(SHARD_EXACT_COPIES)):
        t, v = src.doc(), fresh_vec()
        add(t, v)
        sh.exact_copies.add(add(t, v))
    for edit in NEARDUP_EDITS:
        for j in rng.choice(len(c.docs), n(SHARD_NEARDUPS), replace=False):
            cid, ctext = c.docs[int(j)]
            words = ctext.split()
            for pos in rng.choice(len(words), max(1, int(len(words) * edit)), replace=False):
                words[int(pos)] = src.words(1)[0]
            text = " ".join(words)
            sid = add(text, c.vectors[int(j)] + rng.normal(0.0, 0.01, DIM))
            sh.neardup_of[sid] = cid
            jac = jaccard(text, ctext)
            if jac >= FOUND_JACCARD:
                sh.must_find.add(sid)
            elif jac < MISSED_JACCARD:
                sh.must_miss.add(sid)
    for _ in range(n(SHARD_CONTAMINATED)):
        words = src.doc().split()
        passage = c.bench[int(rng.integers(0, len(c.bench)))][1].split()
        start = int(rng.integers(0, len(passage) - 15))
        at = int(rng.integers(0, len(words)))
        add(" ".join(words[:at] + passage[start:start + 15] + words[at:]), fresh_vec())
    for _ in range(n(SHARD_SHORT)):
        sh.low_quality.add(add(" ".join(src.words(int(rng.integers(10, 40)))), fresh_vec()))
    for _ in range(n(SHARD_REPETITIVE)):
        w = src.words(3)
        sh.low_quality.add(add(" ".join(w * 40), fresh_vec()))
    sh.docs = [(base + i + 1, t) for i, t in enumerate(texts)]
    sh.vectors = np.array(vecs)
    bench_sh = set().union(*(shingles(t, DECONTAM_SHINGLE) for _, t in c.bench))
    sh.contaminated = {
        i for i, t in sh.docs if shingles(t, DECONTAM_SHINGLE) & bench_sh
    }
    return sh
