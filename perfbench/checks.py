"""Correctness gate: every timed result against the NumPy BM25 oracle.

Ranks (doc ids) must be identical and scores equal within ATOL. A wrong
result counts as a failed operation.
"""

from __future__ import annotations

import hashlib
import inspect
from typing import Dict, Iterable, List, Optional, Sequence, Set, Tuple

from text_search_spark.operators import dedup as dd
from text_search_spark.oracle import bm25_topk, build_oracle_index
from text_search_spark.textnorm import tokenize

ATOL = 1e-6
K = 10


class OracleAnswers:
    """Oracle top-k for one index snapshot.

    Scoring statistics (N, avgdl, df) cover every indexed version, because
    tombstoned versions count until a compaction purges them; results skip
    the `dead` doc ids. After a purge, pass the live corpus and no dead ids.
    """

    def __init__(self, docs: Iterable[Tuple[int, str]], dead: Set[int] = frozenset(), k: int = K):
        self.index = build_oracle_index(list(docs))
        self.dead = set(dead)
        self.k = k
        self._memo: Dict[tuple, List[Tuple[int, float]]] = {}

    def expected(self, q) -> List[Tuple[int, float]]:
        key = (q.mode, tuple(q.terms), q.window)
        if key not in self._memo:
            ranked = bm25_topk(
                self.index, q.terms, k=self.k + len(self.dead), mode=q.mode, window=q.window
            )
            self._memo[key] = [r for r in ranked if r[0] not in self.dead][: self.k]
        return self._memo[key]


def by_query(rows: Iterable[Sequence]) -> Dict[str, List[Tuple[int, float]]]:
    """(query_id, rank, doc_id, score) rows -> query_id: [(doc_id, score)] in rank order."""
    out: Dict[str, List[Tuple[int, int, float]]] = {}
    for qid, rank, doc_id, score in rows:
        out.setdefault(qid, []).append((int(rank), int(doc_id), float(score)))
    return {q: [(d, s) for _r, d, s in sorted(v)] for q, v in out.items()}


def diff(got: List[Tuple[int, float]], want: List[Tuple[int, float]]) -> Optional[str]:
    """None when ranks are identical and scores agree within ATOL."""
    if len(got) != len(want):
        return f"{len(got)} results, expected {len(want)}"
    for rank, ((gd, gs), (wd, ws)) in enumerate(zip(got, want), start=1):
        if gd != wd or abs(gs - ws) > ATOL:
            return f"rank {rank}: got ({gd}, {gs!r}), expected ({wd}, {ws!r})"
    return None


def md5_groups(docs: Iterable[Tuple[int, str]]) -> Dict[str, Tuple[int, int]]:
    """Exact-duplicate oracle: md5(text) -> (n_docs, min id) for groups of 2+."""
    groups: Dict[str, List[int]] = {}
    for doc_id, text in docs:
        groups.setdefault(hashlib.md5(text.encode()).hexdigest(), []).append(doc_id)
    return {h: (len(ids), min(ids)) for h, ids in groups.items() if len(ids) > 1}


def term_jaccard(a: str, b: str) -> float:
    ta, tb = set(tokenize(a)), set(tokenize(b))
    return len(ta & tb) / len(ta | tb)


def _lsh_default(name: str):
    return inspect.signature(dd.lsh_candidate_pairs).parameters[name].default


def lsh_bands(text: str, memo: Dict[str, List[str]]) -> Set[tuple]:
    """The (band, slot values) keys of one doc under the defaults of
    minhash_signatures and lsh_candidate_pairs: slot i is the least
    md5('<i>|' || term) over the doc's distinct terms. `memo` keeps each
    term's slot hashes."""
    hashes = []
    for t in set(tokenize(text)):
        if t not in memo:
            memo[t] = [hashlib.md5(f"{i}|{t}".encode()).hexdigest() for i in range(dd.NUM_MINHASHES)]
        hashes.append(memo[t])
    sig = [min(h) for h in zip(*hashes)]
    r = _lsh_default("rows_per_band")
    return {(b, tuple(sig[b * r : (b + 1) * r])) for b in range(dd.NUM_MINHASHES // r)}


def lsh_required(docs: Iterable[Tuple[int, str]], pairs: Iterable[Tuple[int, int]]):
    """Split planted pairs into those lsh_candidate_pairs must return (they
    share a band bucket of at most max_bucket docs) and the rest (no shared
    bucket, or only oversized ones, which the operator may bridge instead
    of pairing directly)."""
    memo: Dict[str, List[str]] = {}
    bands = {d: lsh_bands(t, memo) for d, t in docs}
    size: Dict[tuple, int] = {}
    for keys in bands.values():
        for key in keys:
            size[key] = size.get(key, 0) + 1
    cap = _lsh_default("max_bucket")
    must, other = [], []
    for a, b in pairs:
        shared = bands[a] & bands[b]
        (must if any(size[k] <= cap for k in shared) else other).append((a, b))
    return must, other
