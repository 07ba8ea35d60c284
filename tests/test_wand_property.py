"""Property tests: the WAND kernels vs a brute-force oracle.

Random posting multisets — zero scores, salted hot terms (doc ranges
overlapping across salts), u64-boundary doc ids — are encoded through the
real block codec (build_blocks -> PinnedBlocks), then evaluated by the
production kernels and compared against a 10-line numpy brute force:

* _wand_and  — full candidate set identity (docs AND exact scores);
* _wand_or   — top-k identity, which is exactly what the quit/continue
  admission boundary (plans/query.py, strict-> rule) must preserve: a doc
  first seen at suffix-bound equality can still tie the kth score and win
  the ascending-doc-id tie-break; with tombstoned docs, the top-k of the
  live docs (deleted docs must not count toward the quit threshold);
* _bucket_bounds — the soundness invariant behind search_bmw's τ̂≥ rule:
  every doc's bucket is feasible and its metadata upper bound dominates the
  doc's true score, so skipping ub<τ̂ buckets can never drop a winner.

Scores live on a 1/8 grid (exact in f32, sums exact in f64), so every
comparison is bit-exact — no tolerance that could mask an off-by-one-ulp
admission bug.
"""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from alexandria_spark.plans.blocks import build_blocks
from alexandria_spark.plans.query import (
    PinnedBlocks,
    _bucket_bounds,
    _u,
    _wand_and,
    _wand_or,
)

TERMS = [10, 20, 30, 40]
BOUNDARY_DOCS = [0, 1, -1, 2**63 - 1, -(2**63), -(2**62), 2**62, 7]

doc_strategy = st.one_of(
    st.sampled_from(BOUNDARY_DOCS),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
)
# 1/8 grid: exact in f32 and in any f64 summation order; zeros included
score_strategy = st.integers(min_value=0, max_value=16).map(lambda i: i / 8.0)


@st.composite
def posting_sets(draw):
    """dict term_id -> list[(doc_id, score)] with unique docs per term."""
    n_terms = draw(st.integers(1, 4))
    out = {}
    for t in TERMS[:n_terms]:
        docs = draw(st.lists(doc_strategy, min_size=0, max_size=24,
                             unique=True))
        out[t] = [(d, draw(score_strategy)) for d in docs]
    return out


def _encode(postings: dict, block_size: int, n_salts: int):
    """Postings -> block rows through the production codec, salted like a
    hot term (salt = unsigned doc % n_salts, each salt doc-sorted but salt
    ranges overlapping)."""
    rows = []
    for t, plist in postings.items():
        for d, s in plist:
            salt = int(np.int64(d).astype(np.uint64) % np.uint64(n_salts))
            rows.append((t, salt, d, s, 1))
    if not rows:
        return PinnedBlocks(build_blocks(
            pd.DataFrame(columns=["term_id", "salt", "doc_id", "score", "tf"]),
            block_size)).terms(TERMS)
    pdf = pd.DataFrame(rows, columns=["term_id", "salt", "doc_id", "score", "tf"])
    key_u = pdf["doc_id"].to_numpy(np.int64).view(np.uint64)
    pdf = pdf.iloc[np.lexsort((key_u, pdf["salt"].to_numpy(),
                               pdf["term_id"].to_numpy()))].reset_index(drop=True)
    return PinnedBlocks(build_blocks(pdf, block_size)).terms(TERMS)


def _brute(postings: dict, tids: list[int], mode: str):
    """The oracle: f64 sums per doc, AND requires every term."""
    acc: dict[int, float] = {}
    cnt: dict[int, int] = {}
    for t in tids:
        for d, s in postings.get(t, []):
            acc[d] = acc.get(d, 0.0) + np.float64(np.float32(s))
            cnt[d] = cnt.get(d, 0) + 1
    if mode == "and":
        acc = {d: v for d, v in acc.items() if cnt[d] == len(tids)}
    docs = np.array(sorted(acc), dtype=np.int64)
    if len(docs) == 0:
        return docs.view(np.uint64), np.empty(0, np.float64)
    scores = np.array([acc[int(d)] for d in docs])
    return docs.view(np.uint64), scores


def _ranked(docs_u: np.ndarray, scores: np.ndarray, k: int | None = None):
    order = np.lexsort((docs_u, -scores))
    if k is not None:
        order = order[:k]
    return [(int(docs_u[i]), float(scores[i])) for i in order]


@settings(max_examples=100, deadline=None)
@given(posting_sets(), st.integers(1, 3), st.sampled_from([1, 3]),
       st.booleans())
def test_wand_and_matches_brute_force(postings, block_size, n_salts,
                                      with_absent):
    terms = _encode(postings, block_size, n_salts)
    tids = list(postings) + ([999] if with_absent else [])
    got_d, got_s = _wand_and(terms, tids)
    exp_d, exp_s = _brute(postings, tids, "and")
    assert _ranked(got_d, got_s) == _ranked(exp_d, exp_s)


@settings(max_examples=100, deadline=None)
@given(posting_sets(), st.integers(1, 3), st.sampled_from([1, 3]),
       st.integers(1, 6))
def test_wand_or_topk_matches_brute_force(postings, block_size, n_salts, k):
    terms = _encode(postings, block_size, n_salts)
    tids = list(postings)
    got_d, got_s = _wand_or(terms, tids, k)
    exp_d, exp_s = _brute(postings, tids, "or")
    # the kernel may drop docs provably outside the top-k; the top-k itself
    # (including the unsigned-doc-asc tie-break) must be identical
    assert _ranked(got_d, got_s, k) == _ranked(exp_d, exp_s, k)


@settings(max_examples=100, deadline=None)
@given(posting_sets(), st.integers(1, 3), st.sampled_from([1, 3]),
       st.integers(1, 6), st.data())
def test_wand_or_topk_skips_deleted_docs(postings, block_size, n_salts, k,
                                         data):
    terms = _encode(postings, block_size, n_salts)
    tids = list(postings)
    all_docs = sorted({d for plist in postings.values() for d, _ in plist})
    dead = data.draw(st.lists(st.sampled_from(all_docs), unique=True)
                     if all_docs else st.just([]))
    deleted = np.sort(np.array(dead, dtype=np.int64).view(np.uint64))
    got_d, got_s = _wand_or(terms, tids, k, deleted)
    exp_d, exp_s = _brute(postings, tids, "or")
    live = ~np.isin(exp_d, deleted)
    assert not np.isin(got_d, deleted).any()
    assert _ranked(got_d, got_s, k) == _ranked(exp_d[live], exp_s[live], k)


@settings(max_examples=100, deadline=None)
@given(posting_sets(), st.integers(1, 3), st.sampled_from(["and", "or"]),
       st.sampled_from([2, 8, 64]))
def test_bucket_bounds_dominate_true_scores(postings, block_size, mode,
                                            n_buckets):
    tids = list(postings)
    rows = []
    for t, plist in postings.items():
        for d, s in plist:
            rows.append((t, 0, d, s, 1))
    if not rows:
        return
    pdf = pd.DataFrame(rows, columns=["term_id", "salt", "doc_id", "score", "tf"])
    key_u = pdf["doc_id"].to_numpy(np.int64).view(np.uint64)
    pdf = pdf.iloc[np.lexsort((key_u, pdf["term_id"].to_numpy()))
                   ].reset_index(drop=True)
    meta = build_blocks(pdf, block_size)
    edges, ub, docs_est, feasible = _bucket_bounds(meta, tids, mode, n_buckets)
    # edges strictly increasing: equal/zero-width edges would let eval's
    # inclusive-bucket rules assign one doc to two buckets (double-scoring)
    assert (np.diff(edges.astype(np.uint64)) > 0).all(), edges
    exp_d, exp_s = _brute(postings, tids, mode)
    # the last bucket is inclusive of u64max (mirrors _eval_buckets)
    bucket = np.minimum(np.searchsorted(edges, exp_d, side="right") - 1,
                        len(edges) - 2)
    assert feasible[bucket].all()
    assert (ub[bucket] >= exp_s - 1e-12).all()


def test_bmw_serves_doc_at_u64_max_boundary(spark, tmp_path):
    """End-to-end regression for the hypothesis finding: a doc whose id sits
    in the top float64-unrepresentable u64 range (int64 -1 ==
    0xFFFFFFFFFFFFFFFF) used to land past every doc-range bucket, making it
    unreachable to search_bmw's feasibility mask — a silently dropped AND
    result. All engines must return it."""
    from alexandria_spark.config import EngineConfig
    from alexandria_spark.plans.build import Index, build_index
    from alexandria_spark.plans.query import LocalIndex, search, search_bmw

    cfg = EngineConfig(num_shards=4, block_size=4, shuffle_partitions=4,
                       build_waves=1, max_postings_per_salt=16)
    docs = spark.createDataFrame(
        [(-1, "alpha beta gamma"), (5, "alpha beta"), (9, "alpha delta"),
         (-2, "beta gamma"), (2**62, "alpha beta epsilon")],
        ["doc_id", "text"],
    )
    idx = build_index(spark, docs, str(tmp_path / "idx"), cfg)
    dist = [(r.doc_id, float(r.score)) for r in
            search(spark, idx, "alpha beta", "and", k=10, cfg=cfg).collect()]
    got = {d for d, _ in dist}
    assert {-1, 5, 2**62} <= got
    bmw = search_bmw(spark, idx, "alpha beta", "and", 10, cfg)
    assert [d for d, _ in bmw] == [d for d, _ in dist]
    local = LocalIndex(spark, idx, cfg).search("alpha beta", "and", 10)
    assert [d for d, _ in local] == [d for d, _ in dist]
