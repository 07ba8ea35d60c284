"""Brute-force BM25 over the generated documents: the answer key.

Independent of every engine under test: documents are tokenized with the
reference tokenizer (``tokenize``, golden-tested against the reference's own
cases) and scored here in numpy with the reference formula — normalized
``tf/doc_len``, k1/b from the config, ``idf = ln((N-df+0.5)/(df+0.5)+1)``
with df clamped to N, float64 math stored as float32, per-doc query score
the float64 sum of the float32 term scores, ranked by score desc then
unsigned doc id asc.

An :class:`OracleState` is one servable state of an index: which documents
are indexed, which are tombstoned, and the corpus statistics the scores
were computed with. A partial refresh keeps N and avg_dl anchored at the
last full build while df covers every indexed document, which is exactly
what ``anchored`` models.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from alexandria_spark.functions.hashing import murmur2_64, to_i64
from alexandria_spark.functions.tokenizer import tokenize


def doc_ids(table) -> np.ndarray:
    """murmur2-64 of ``repo/path`` as signed int64, computed in the driver."""
    keys = (table["repo"] + "/" + table["path"]).to_numpy(object)
    return to_i64(murmur2_64(keys))


class Postings:
    """term -> (doc ids, tfs) and doc id -> length, grown batch by batch."""

    def __init__(self):
        self.doc_len: dict[int, int] = {}
        self._tf: dict[str, dict[int, int]] = {}

    def add(self, table) -> list[int]:
        ids = doc_ids(table)
        added = []
        for did, text in zip(ids.tolist(), table["content"]):
            words = tokenize(text)
            if not words:
                continue
            self.doc_len[did] = len(words)
            for w, n in Counter(words).items():
                self._tf.setdefault(w, {})[did] = n
            added.append(did)
        return added

    def term(self, word: str) -> dict[int, int]:
        return self._tf.get(word, {})


@dataclass
class OracleState:
    postings: Postings
    indexed: frozenset
    tombstoned: frozenset = frozenset()
    n_docs: int = 0
    avg_dl: float = 0.0
    _memo: dict = field(default_factory=dict, repr=False)

    @classmethod
    def fresh(cls, postings: Postings, indexed, tombstoned=frozenset()):
        """State after a full build or full refresh: statistics over every
        indexed document, tombstoned ones included (tombstones only hide)."""
        indexed = frozenset(indexed)
        lens = [postings.doc_len[d] for d in indexed]
        n = len(lens)
        return cls(postings, indexed, frozenset(tombstoned), n,
                   float(sum(lens)) / n if n else 0.0)

    def anchored(self, indexed):
        """State after a partial refresh adds ``indexed`` documents."""
        return OracleState(self.postings, self.indexed | frozenset(indexed),
                           self.tombstoned, self.n_docs, self.avg_dl)

    def deleted(self, victims):
        return OracleState(self.postings, self.indexed,
                           self.tombstoned | frozenset(victims),
                           self.n_docs, self.avg_dl)

    def search(self, query: str, mode: str, k: int, cfg) -> list[tuple[int, float]]:
        key = (query, mode, k)
        if key not in self._memo:
            self._memo[key] = self._search(query, mode, k, cfg)
        return self._memo[key]

    def _search(self, query, mode, k, cfg):
        # the first query_max_words words, each distinct word once
        terms = list(dict.fromkeys(tokenize(query, limit=cfg.query_max_words)))
        if not terms:
            return []
        acc: dict[int, float] = {}
        hits: Counter = Counter()
        n, avg_dl, k1, b = float(self.n_docs), self.avg_dl, cfg.k1, cfg.b
        for t in terms:
            post = {d: tf for d, tf in self.postings.term(t).items()
                    if d in self.indexed}
            if not post:
                continue
            df = min(float(len(post)), n)
            idf = np.log((n - df + 0.5) / (df + 0.5) + 1.0)
            ids = np.fromiter(post, np.int64, len(post))
            tf = np.fromiter(post.values(), np.float64, len(post))
            dl = np.array([self.postings.doc_len[d] for d in ids.tolist()],
                          np.float64)
            f_q = tf / dl
            s = idf * (f_q * (k1 + 1.0)) / (f_q + k1 * (1.0 - b + b * dl / avg_dl))
            if cfg.short_doc_zero:
                s[dl < cfg.short_doc_min] = 0.0
            for d, v in zip(ids.tolist(), s.astype(np.float32).tolist()):
                acc[d] = acc.get(d, 0.0) + v
                hits[d] += 1
        live = [(d, s) for d, s in acc.items() if d not in self.tombstoned
                and (mode != "and" or hits[d] == len(terms))]
        live.sort(key=lambda x: (-x[1], x[0] & 0xFFFFFFFFFFFFFFFF))
        return live[:k]


def same_topk(got, want) -> bool:
    """Doc ids in the same order and float32-identical scores."""
    return (len(got) == len(want)
            and all(int(g[0]) == w[0] and np.float32(g[1]) == np.float32(w[1])
                    for g, w in zip(got, want)))
