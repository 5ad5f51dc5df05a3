"""Seeded inputs for every benchmark workload, built on corpus.generate_pages.

One seed gives byte-identical inputs: the corpora, the upsert micro-batches
(new urls plus re-crawled urls), the takedown list, the planted duplicates
and the query mix. `digest()` fingerprints what was generated, so a changed
input shows up as a different workload and is not mistaken for a change in
speed. Sizes live in workloads.json next to this file.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass
from typing import Dict, Iterable, List, Tuple

import numpy as np

from text_search_spark.corpus import NEEDLES, _zipf_probs, generate_pages, vocab
from text_search_spark.index.query import QuerySpec
from text_search_spark.textnorm import tokenize

# re-crawled texts come from a second page stream, so a re-crawl changes a
# page's content rather than copying another page of the same corpus
RECRAWL_SEED_OFFSET = 1_000_003
NEAR_WINDOW = 8
PROBE_TERMS = 12

Doc = Tuple[str, str]  # (url, text)


def load_record() -> dict:
    """The workload record: sizes per scale, query mix, layer map."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")
    with open(path) as f:
        return json.load(f)


def digest(obj) -> str:
    """Short sha256 of a JSON-serialisable input description."""
    blob = json.dumps(obj, sort_keys=True, default=_spec_json).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def _spec_json(o):
    if isinstance(o, QuerySpec):
        return [o.query_id, o.terms, o.mode, o.window]
    raise TypeError(type(o))


def postings(texts: Iterable[str]) -> int:
    """(doc, term) pairs of a corpus: the entries an index over it holds."""
    return sum(len(set(tokenize(t))) for t in texts)


def _words(text: str) -> List[str]:
    return text.split(" ")


class QueryMaker:
    """Draws queries from one seeded stream over a corpus sample.

    Single terms follow the corpus's own Zipf law over vocabulary ranks,
    from head to tail. AND and near queries take their terms from one
    document (so they match it), phrases are planted needles found in the
    corpus or in-corpus bigrams, and OR queries draw 2-3 Zipf terms."""

    def __init__(self, rng: np.random.Generator, texts: List[str]):
        self.rng = rng
        self.texts = texts
        self.words = vocab()
        self.probs = _zipf_probs(len(self.words))
        # about 1% of pages embed a needle: some needles miss a small corpus,
        # and a phrase with no match costs next to nothing
        self.needles = [n for n in NEEDLES if any(n in t for t in texts)]

    def zipf_term(self) -> str:
        return self.words[int(self.rng.choice(len(self.words), p=self.probs))]

    def _doc_words(self) -> List[str]:
        # page text is "Page <i> <body>": skip the title
        return _words(self.texts[int(self.rng.integers(len(self.texts)))])[2:]

    def single(self, qid: str) -> QuerySpec:
        return QuerySpec(qid, [self.zipf_term()], "or")

    def conj(self, qid: str) -> QuerySpec:
        w = sorted(set(self._doc_words()))
        k = min(len(w), int(self.rng.integers(2, 4)))
        picks = self.rng.choice(len(w), size=k, replace=False)
        return QuerySpec(qid, [w[int(i)] for i in picks], "and")

    def disj(self, qid: str) -> QuerySpec:
        k = int(self.rng.integers(2, 4))
        return QuerySpec(qid, [self.zipf_term() for _ in range(k)], "or")

    def phrase(self, qid: str) -> QuerySpec:
        if self.needles and self.rng.random() < 0.5:
            return QuerySpec(qid, self.needles[int(self.rng.integers(len(self.needles)))].split(), "phrase")
        w = self._doc_words()
        i = int(self.rng.integers(len(w) - 1))
        return QuerySpec(qid, w[i : i + 2], "phrase")

    def near(self, qid: str) -> QuerySpec:
        w = self._doc_words()
        i = int(self.rng.integers(len(w) - 1))
        j = min(len(w) - 1, i + int(self.rng.integers(1, NEAR_WINDOW + 1)))
        terms = [w[i], w[j]] if w[i] != w[j] else [w[i], w[i + 1]]
        return QuerySpec(qid, terms, "near", NEAR_WINDOW)


@dataclass
class IndexInputs:
    """Inputs of the index workloads (ingest, serve)."""

    base: List[Doc]
    batches: List[List[Doc]]  # upsert micro-batches: new urls, then re-crawls
    takedown: List[str]  # base urls deleted by delete_docs, never re-crawled
    probes: List[QuerySpec]  # ingest: fixed probe set after each write
    multi_pool: List[QuerySpec]  # serve: multi-term queries the mix draws from
    seed: int

    def describe(self) -> dict:
        return {
            "base": self.base,
            "batches": self.batches,
            "takedown": self.takedown,
            "probes": self.probes,
            "multi_pool": self.multi_pool,
        }


def index_inputs(seed: int, sizes: dict) -> IndexInputs:
    n_base, n_batches = sizes["base_docs"], sizes["batches"]
    n_new, n_re = sizes["new_per_batch"], sizes["recrawl_per_batch"]
    rng = np.random.Generator(np.random.PCG64(seed))
    pages = generate_pages(n_base + n_batches * n_new, seed=seed)
    docs = [(p.url, p.text) for p in pages]
    base, fresh = docs[:n_base], docs[n_base:]
    recrawl_texts = [
        p.text
        for p in generate_pages(n_batches * n_re, seed=seed + RECRAWL_SEED_OFFSET)
    ]
    # each base url is re-crawled or taken down at most once
    order = rng.permutation(n_base)
    re_idx = order[: n_batches * n_re]
    takedown = [base[int(i)][0] for i in order[n_batches * n_re :][: sizes["takedown_docs"]]]
    batches = []
    for b in range(n_batches):
        batch = fresh[b * n_new : (b + 1) * n_new]
        for j in range(b * n_re, (b + 1) * n_re):
            batch.append((base[int(re_idx[j])][0], recrawl_texts[j]))
        batches.append(batch)

    qm = QueryMaker(rng, [t for _u, t in base])
    # probes: distinct mid-rank single terms (fresh reads after each
    # refresh), then a phrase (each multi-term query costs Spark jobs)
    words = vocab()
    probes = [
        QuerySpec(f"p{i:02d}", [words[int(r)]], "or")
        for i, r in enumerate(rng.choice(np.arange(100, 300), size=PROBE_TERMS, replace=False))
    ]
    probes.append(qm.phrase(f"p{PROBE_TERMS:02d}"))
    makers = [qm.conj, qm.disj, qm.phrase, qm.near]
    pool = sizes.get("multi_pool", 0)
    multi_pool = [makers[i % 4](f"m{i:04d}") for i in range(pool)]
    return IndexInputs(base, batches, takedown, probes, multi_pool, seed)


class ServeMix:
    """The serve workload's endless query stream: a fixed interleave in
    which every `period`-th query is multi-term (cycling AND, OR, phrase,
    near over the pool) and the rest are Zipf single terms. A fixed
    interleave keeps the share of slow multi-term queries the same in
    every run, so the closed-loop rate does not move with the seed."""

    MULTI_MODES = ("and", "or", "phrase", "near")

    def __init__(self, inputs: IndexInputs, period: int):
        self.rng = np.random.Generator(np.random.PCG64(inputs.seed + 7))
        self.qm = QueryMaker(self.rng, [t for _u, t in inputs.base])
        self.by_mode: Dict[str, List[QuerySpec]] = {}
        for q in inputs.multi_pool:
            self.by_mode.setdefault(q.mode, []).append(q)
        self.period = period
        self.n = 0

    def singles(self, n: int) -> List[QuerySpec]:
        """n single-term queries of the stream, for a single-term batch."""
        out = []
        for _ in range(n):
            out.append(self.qm.single(f"q{self.n:06d}"))
            self.n += 1
        return out

    def __next__(self) -> QuerySpec:
        qid = f"q{self.n:06d}"
        self.n += 1
        if self.n % self.period:
            return self.qm.single(qid)
        mode = self.MULTI_MODES[(self.n // self.period) % len(self.MULTI_MODES)]
        pool = self.by_mode[mode]
        q = pool[int(self.rng.integers(len(pool)))]
        return QuerySpec(qid, q.terms, q.mode, q.window)


@dataclass
class DedupInputs:
    docs: List[Tuple[int, str]]  # (doc_id, text), bigint ids, shuffled
    exact_groups: List[List[int]]  # planted exact copies, ids per group
    near_pairs: List[Tuple[int, int]]  # planted same-term-set pairs (a < b)
    reworded_pairs: List[Tuple[int, int]]  # planted pairs at Jaccard ~0.8 (a < b)

    def describe(self) -> dict:
        return {"docs": self.docs, "exact": self.exact_groups, "near": self.near_pairs,
                "reworded": self.reworded_pairs}


def _reword(rng: np.random.Generator, text: str, words: List[str]) -> str:
    """The page with every occurrence of m of its body terms replaced by m
    vocabulary words it lacks: term-set Jaccard (d - m) / (d + m) with the
    source, m = d / 9 giving about 0.8."""
    w = _words(text)
    body = sorted(set(w[2:]) - set(w[:2]))  # the title "Page <i>" stays
    m = max(1, round(len(body) / 9))
    drop = [body[int(i)] for i in rng.choice(len(body), size=m, replace=False)]
    have = set(w)
    subs = {}
    while len(subs) < m:
        cand = words[int(rng.integers(len(words)))]
        if cand not in have and cand not in subs.values():
            subs[drop[len(subs)]] = cand
    return " ".join(w[:2] + [subs.get(x, x) for x in w[2:]])


def dedup_inputs(seed: int, sizes: dict) -> DedupInputs:
    """Base pages plus planted duplicates of three kinds:
    - exact copies;
    - near duplicates: the page's words rotated with one word repeated, a
      different text (and md5) with the same term set, so every LSH band
      and the simhash agree exactly;
    - reworded pages (`_reword`): term-set Jaccard about 0.8 with their
      source, so they share an LSH band only by chance, as real near
      duplicates do."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = sizes["base_docs"]
    n_exact, n_near = sizes["exact_groups"], sizes["near_pairs"]
    texts = [p.text for p in generate_pages(n, seed=seed)]
    picks = rng.choice(n, size=n_exact + n_near + sizes["reworded_pairs"], replace=False)
    rows = list(texts)  # row r gets doc id ids[r]
    exact_members = []
    for i in picks[:n_exact]:
        copies = int(rng.integers(1, 3))
        exact_members.append([int(i)] + list(range(len(rows), len(rows) + copies)))
        rows.extend([texts[i]] * copies)
    near_members = []
    for i in picks[n_exact : n_exact + n_near]:
        w = _words(texts[i])
        k = int(rng.integers(1, len(w)))
        near_members.append((int(i), len(rows)))
        rows.append(" ".join(w[k:] + w[:k] + [w[0]]))
    reworded_members = []
    words = vocab()
    for i in picks[n_exact + n_near :]:
        reworded_members.append((int(i), len(rows)))
        rows.append(_reword(rng, texts[i], words))
    ids = rng.choice(1 << 40, size=len(rows), replace=False) + 1
    docs = [(int(ids[r]), t) for r, t in enumerate(rows)]
    order = rng.permutation(len(docs))

    def pairs(members):
        return [tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in members]

    return DedupInputs(
        docs=[docs[int(i)] for i in order],
        exact_groups=[sorted(int(ids[m]) for m in g) for g in exact_members],
        near_pairs=pairs(near_members),
        reworded_pairs=pairs(reworded_members),
    )
