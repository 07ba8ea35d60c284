"""Query engine: top-k conjunctive/disjunctive BM25 over the block index.

Two execution paths, both reading the same block tables:

* ``search`` — the distributed DataFrame path. Partition-pruned scan of the
  query terms' shards (the Spark analogue of the reference's per-token shard
  lookups, sharded.h:121-146), driver-side doc-range block pruning for
  conjunctive queries, vectorized block decode in mapInPandas, then
  groupBy(doc_id) + TakeOrderedAndProject top-k. Scales to posting lists far
  beyond driver memory.

* ``LocalIndex`` — the low-latency serving path (the analogue of the
  reference's RAM-cached readers, index_reader.cpp:59-89): block metadata is
  pinned in memory, and queries run a vectorized term-at-a-time
  quit/continue evaluation (the max_score family of Turtle & Flood, "Query
  evaluation: strategies and optimizations", 1995) with per-block max-score
  skipping in the spirit of Block-Max WAND (Ding & Suel, "Faster top-k
  document retrieval using block-max indexes", SIGIR 2011) — only blocks
  that can still affect the top-k are decoded. This upgrades the reference's
  section-at-a-time early exit (search_engine.h:298-352).

* ``search_bmw`` — the distributed early-termination path: bucket-granular
  two-phase block-max pruning (exact top-k) for posting lists beyond one
  node.

Ordering contract (rank identity): score DESC, then doc_id ASC in *unsigned*
64-bit order — the reference sorts by score desc with value-asc storage
order as tie-break (index_manager.cpp:279-282, generic_record.h:50-68).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from alexandria_spark.config import DEFAULT, EngineConfig
from alexandria_spark.functions.hashing import i64_hash64
from alexandria_spark.functions.tokenizer import query_terms, tokenize
from alexandria_spark.plans.blocks import decode_blocks, varint_decode
from alexandria_spark.plans.build import MIN_I64, Index
from alexandria_spark.plans.checkpoint import parquet_dir_bytes

POSTING_SCHEMA = StructType(
    [
        StructField("term_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("score", FloatType()),
    ]
)

RESULT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
        StructField("n_terms", IntegerType()),
    ]
)


def _result_frame(spark: SparkSession, docs_u: np.ndarray | None = None,
                  scores: np.ndarray | None = None,
                  n_terms: int = 0) -> DataFrame:
    """Driver-computed results (no rows by default) as a RESULT_SCHEMA
    frame. An Arrow table becomes a local relation that collects without
    a Spark job; ``createDataFrame(list)`` launches a Python-worker job
    per call, even for an empty list."""
    docs = np.empty(0, np.int64) if docs_u is None else docs_u.view(np.int64)
    return spark.createDataFrame(pa.table({
        "doc_id": pa.array(docs, pa.int64()),
        "score": pa.array(np.empty(0) if scores is None else scores, pa.float64()),
        "n_terms": pa.array(np.full(len(docs), n_terms, np.int32)),
    }), RESULT_SCHEMA)


# Driver-side metadata fetches are guarded at this many rows: pruning pays
# off only while block metadata is driver-sized. A 100-TB hot-term query
# (millions of blocks across salts) must not ship tens of MB of metadata to
# the driver — past the guard, search() skips pruning and search_bmw() falls
# back to search()'s executor-side exact path.
_META_GUARD_ROWS = 200_000

# Below this much postings data on disk, a cold AND query decodes its terms'
# blocks directly: the driver-side prune's metadata fetch is a whole Spark
# job, and decoding a few hundred KB of payloads costs less than that
# round-trip. At warehouse scale the prune always engages (and QueryEngine
# pins the metadata once, so warm queries never pay the job either way).
_PRUNE_MIN_BYTES = 64 << 20


def _shard_of(term_id: int, num_shards: int) -> int:
    return int(np.int64(term_id).astype(np.uint64) % np.uint64(num_shards))


def _u(x: np.ndarray) -> np.ndarray:
    return x.astype(np.int64, copy=False).view(np.uint64)


def _decode_map(blocks: DataFrame) -> DataFrame:
    def fn(batches):
        for pdf in batches:
            yield decode_blocks(pdf)[["term_id", "doc_id", "score"]]

    return blocks.mapInPandas(fn, POSTING_SCHEMA)


def _prune_and_blocks(meta: pd.DataFrame, term_ids: list[int]) -> pd.DataFrame:
    """Driver-side conjunctive block pruning on metadata only.

    A block of term t can contribute to an AND result only if its unsigned
    [min_doc, max_doc] range overlaps at least one block range of EVERY
    other query term (an AND doc must appear in all lists). Uses sorted
    interval arrays + prefix-max, O(B log B) on block *metadata* — payloads
    of pruned blocks are never read.
    """
    per_term = {}
    for t in term_ids:
        m = meta[meta["term_id"] == t]
        if len(m) == 0:
            return meta.iloc[0:0]
        lo = _u(m["min_doc"].to_numpy())
        hi = _u(m["max_doc"].to_numpy())
        order = np.argsort(lo, kind="stable")
        lo, hi = lo[order], hi[order]
        pref_hi = np.maximum.accumulate(hi)
        per_term[t] = (lo, pref_hi)

    keep = np.ones(len(meta), dtype=bool)
    blo = _u(meta["min_doc"].to_numpy())
    bhi = _u(meta["max_doc"].to_numpy())
    btid = meta["term_id"].to_numpy()
    for t, (lo, pref_hi) in per_term.items():
        others = btid != t
        if not others.any():
            continue
        # overlap with some interval of t: exists interval with lo <= bhi and hi >= blo
        idx = np.searchsorted(lo, bhi[others], side="right")
        ok = idx > 0
        ok[ok] = pref_hi[idx[ok] - 1] >= blo[others][ok]
        k2 = keep[others]
        k2 &= ok
        keep[others] = k2
    return meta[keep]


def _query_term_ids(query: str, mode: str, cfg: EngineConfig) -> list[int]:
    """Token ids for a query. ``phrase`` mode hashes the whole (tokenized,
    space-joined) query as ONE n-gram key — the reference's exact-phrase
    search (search_engine.h:474-490); requires an index built with
    n_grams >= word count."""
    if mode == "phrase":
        words = tokenize(query, limit=cfg.query_max_words)
        if len(words) > cfg.n_grams:
            raise ValueError(
                f"phrase of {len(words)} words needs an index built with "
                f"n_grams >= {len(words)} (this index: n_grams={cfg.n_grams})"
                f" — or pass docs= to search() for the two-stage "
                f"candidate+verify path (search_phrase_long)"
            )
        return [i64_hash64(" ".join(words))] if words else []
    return [
        tid for _, tid in query_terms(
            query, limit=cfg.query_max_words,
            expand_blend=getattr(cfg, "expand_blend", False),
        )
    ]


def search(
    spark: SparkSession,
    index: Index,
    query: str,
    mode: str = "and",
    k: int | None = 10,
    cfg: EngineConfig | None = None,
    prune: bool = True,
    _blocks: DataFrame | None = None,
    docs: DataFrame | None = None,
    _term_ids: list[int] | None = None,
) -> DataFrame:
    """Top-k BM25 search. Returns DataFrame (doc_id, score, n_terms) ordered
    score desc, unsigned doc_id asc, limited to k. Modes: and | or | phrase.

    ``k=None`` returns the FULL (unordered) match set — the shape the
    composed serve pipeline needs, where boosts are applied before any
    truncation (the reference collects all intersection results and only
    nth_elements them at pre_result_limit, index_manager.cpp:279-288).

    ``docs`` (a (doc_id, text) frame — the raw corpus or doc store) enables
    exact phrases LONGER than the index's ``n_grams``: the reference keys
    the whole query as one n-gram (search_engine.h:474-490), so a W-word
    phrase against an n_grams<W index has no persisted key. With ``docs``
    the query runs two-stage — bigram-AND candidates, then a positional
    verify over the candidates only (see search_phrase_long); without it
    the historical ValueError stands."""
    cfg = cfg or index.config()
    if _term_ids is not None:
        term_ids = _term_ids
    elif mode == "phrase" and docs is not None:
        words = tokenize(query, limit=cfg.query_max_words)
        if len(words) > cfg.n_grams:
            return search_phrase_long(spark, index, words, docs, k, cfg)
        term_ids = _query_term_ids(query, mode, cfg)
    else:
        term_ids = _query_term_ids(query, mode, cfg)
    if not term_ids:
        return _result_frame(spark)
    shards = sorted({_shard_of(t, cfg.num_shards) for t in term_ids})

    src = _blocks if _blocks is not None else index.postings(spark)
    blocks = src.where(
        F.col("shard").isin(shards) & F.col("term_id").isin(term_ids)
    )

    if (mode == "and" and len(term_ids) > 1 and prune
            and parquet_dir_bytes(index.postings_path) >= _PRUNE_MIN_BYTES):
        # metadata-only read (column pruning keeps payloads out of this scan).
        # Two-sided gate: below _PRUNE_MIN_BYTES on disk the per-query
        # metadata round-trip (one Spark job) costs more than decoding the
        # query terms' blocks outright, so the cold path skips straight to
        # the decode (size probe is a driver-side stat, no job); past
        # _META_GUARD_ROWS driver-side pruning would hold too much block
        # metadata, so a pathological query over huge lists also skips it
        # (the decode path stays exact either way).
        meta_df = blocks.select("term_id", "salt", "block_id", "min_doc", "max_doc")
        rows = meta_df.limit(_META_GUARD_ROWS + 1).toPandas()
        meta = None if len(rows) > _META_GUARD_ROWS else rows
    else:
        meta = None

    if meta is not None:
        kept = _prune_and_blocks(meta, term_ids)
        if len(kept) == 0:
            return _result_frame(spark)
        if len(kept) < len(meta):
            keys = spark.createDataFrame(
                kept[["term_id", "salt", "block_id"]]
            )
            blocks = blocks.join(
                F.broadcast(keys), ["term_id", "salt", "block_id"], "left_semi"
            )

    postings = _decode_map(blocks)
    agg = postings.groupBy("doc_id").agg(
        F.sum(F.col("score").cast("double")).alias("score"),
        F.count("*").alias("n_terms"),
    )
    if mode == "and":
        agg = agg.where(F.col("n_terms") == len(term_ids))
    agg = agg.withColumn("n_terms", F.col("n_terms").cast("int"))
    from alexandria_spark.plans.delete import filter_deleted

    live = filter_deleted(spark, index, agg)
    return live if k is None else top_k(live, k)


def search_phrase_long(
    spark: SparkSession,
    index: Index,
    words: list[str],
    docs: DataFrame,
    k: int | None,
    cfg: EngineConfig,
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase of ANY length over an n_grams>=2 index, two-stage:

    1. candidates — AND-intersect the phrase's consecutive-bigram keys
       through the persisted block index (shard-pruned, the existing
       conjunctive machinery). Phrase present ⇒ every bigram present, so
       recall is exact; bigram adjacency chains overmatch, hence:
    2. verify — re-tokenize ONLY the candidate docs with query-length
       n-grams (the same tokenizer the build uses) and keep docs whose
       streams contain the full-phrase key; tf = the exact phrase count.

    Scores equal a hypothetical index built with n_grams=len(words)
    bit-for-bit: tf/doc_len come from the same tokenizer, df is the
    verified phrase doc frequency, and n_docs/avg_dl come from the index's
    unigram doc_lengths (which an n_grams=W build shares — doc_len stays
    the unigram count). This is the scale answer to the reference's
    whole-query n-gram key (search_engine.h:474-490) without indexing
    every W-gram: candidate verify touches a bigram-AND-sized doc set in
    one distributed pass."""
    from alexandria_spark.plans.build import bm25_score_col, tokenize_docs

    if len(words) < 2:
        raise ValueError("search_phrase_long needs a 2+-word phrase")
    if cfg.n_grams < 2:
        raise ValueError(
            f"phrase of {len(words)} words needs an index built with "
            f"n_grams >= 2 for the candidate stage (this index: "
            f"n_grams={cfg.n_grams})"
        )
    keys = list(dict.fromkeys(
        i64_hash64(f"{a} {b}") for a, b in zip(words, words[1:])
    ))
    cand = search(spark, index, "", mode="and", k=None, cfg=cfg,
                  _term_ids=keys).select("doc_id")
    # candidate sets are conjunction-sized (small); the semi join ships
    # them to the doc scan instead of shuffling the corpus
    cand_docs = docs.join(F.broadcast(cand), "doc_id", "left_semi")
    # a VERSIONED doc store (streaming-ingested, pre-GC) may still hold
    # superseded versions of an updated doc; verifying every version would
    # emit duplicate doc_id result rows. Latest-wins on the candidate set
    # only — same posture as decorate_from_store: the reduce runs above the
    # semi join, so the full store is never re-aggregated
    if "version" in cand_docs.columns:
        cand_docs = cand_docs.groupBy("doc_id").agg(
            F.expr(f"max_by({text_col}, version)").alias(text_col))

    from dataclasses import replace as _replace

    cfg_w = _replace(cfg, n_grams=len(words))
    phrase_key = i64_hash64(" ".join(words))
    ph = (
        tokenize_docs(cand_docs, cfg_w, id_col="doc_id", text_col=text_col)
        .where(F.col("term_id") == F.lit(phrase_key))
        .select("doc_id", "tf", "doc_len")
    )
    # the phrase doc frequency (BM25 df) needs one counting job over the
    # verified set; the scoring plan then re-derives ph lazily — candidate
    # sets are small, so re-tokenizing them costs less than holding a
    # persist across the caller's action
    phrase_df = ph.count()
    if phrase_df == 0:
        return _result_frame(spark)
    meta = index.meta()
    n_docs, avg_dl = int(meta["n_docs"]), float(meta["avg_dl"])
    scored = ph.withColumn("df", F.lit(phrase_df)).withColumn(
        "score", bm25_score_col(n_docs, avg_dl, cfg)
    ).select(
        "doc_id",
        F.col("score").cast("double").alias("score"),
        F.lit(1).cast("int").alias("n_terms"),
    )
    from alexandria_spark.plans.delete import filter_deleted

    live = filter_deleted(spark, index, scored)
    return live if k is None else top_k(live, k)


def top_k(df: DataFrame, k: int, score_col: str = "score", id_col: str = "doc_id") -> DataFrame:
    """ORDER BY score DESC, unsigned(doc_id) ASC LIMIT k — Catalyst turns this
    into TakeOrderedAndProject (per-partition heap + driver merge), the
    distributed analogue of the reference's nth_element top-k (top_k.h:38-66)."""
    return (
        df.orderBy(F.desc(score_col), F.asc(F.col(id_col).bitwiseXOR(F.lit(MIN_I64))))
        .limit(k)
    )


def decorate(results: DataFrame, docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", snippet_len: int = 140) -> DataFrame:
    """Join results with the doc store and attach a snippet — the analogue of
    the reference's return_record decoration (return_record.h:27-65, 140-char
    snippet at :60-65). The doc-store side is joined, not collected."""
    return results.join(docs, id_col, "left").withColumn(
        "snippet", F.substring(F.col(text_col), 1, snippet_len)
    )


def _bucket_bounds(meta: pd.DataFrame, term_ids: list[int], mode: str,
                   n_buckets: int):
    """Doc-space buckets + admissible per-bucket score upper bounds from
    block METADATA only.

    Bucket boundaries are quantiles of block min_docs (balanced regardless
    of the doc-id distribution). For each bucket, ub = Σ over terms of the
    max block max_score overlapping it (terms missing from a bucket
    contribute 0; in AND mode such buckets are dropped entirely). A doc
    belongs to exactly one bucket, so evaluating every query-term block
    overlapping a bucket yields EXACT scores for its docs — which is what
    makes the two-phase pruning sound.
    """
    lows = _u(meta["min_doc"].to_numpy())
    highs = _u(meta["max_doc"].to_numpy())
    # quantile edges in exact u64 index space — np.quantile would round-trip
    # through float64, which cannot represent the top doc-id range (cast back
    # to uint64 is UB there, found by hypothesis)
    lo_sorted = np.sort(lows)
    pick = np.linspace(0, len(lo_sorted) - 1,
                       n_buckets + 1)[1:-1].round().astype(np.int64)
    qs = np.unique(lo_sorted[pick])
    # edges must be STRICTLY increasing: a picked edge equal to an endpoint
    # would create a zero-width or duplicate bucket, and eval's inclusive
    # last-bucket / right-edge-minus-one rules would then make two buckets
    # overlap (u64max edge) or one bucket wrap to the whole space (0-width
    # [0,0) bucket: 0-1 underflows to u64max) — a doc evaluated in both
    # phases would double its score
    qs = qs[(qs != np.uint64(0)) & (qs != np.uint64(0xFFFFFFFFFFFFFFFF))]
    edges = np.concatenate([[np.uint64(0)], qs, [np.uint64(0xFFFFFFFFFFFFFFFF)]])
    nb = len(edges) - 1
    # block b overlaps buckets [lo_idx, hi_idx]; the LAST bucket is inclusive
    # of u64max (eval treats it so), hence the clip — without it a block
    # whose range touches u64max lands past every bucket and its docs become
    # unreachable (feasible stays False: a dropped AND result)
    lo_idx = np.minimum(np.searchsorted(edges, lows, side="right") - 1, nb - 1)
    hi_idx = np.minimum(np.searchsorted(edges, highs, side="right") - 1, nb - 1)
    tids = meta["term_id"].to_numpy(np.int64)
    ms = meta["max_score"].to_numpy(np.float64)
    ns = meta["n"].to_numpy(np.int64)

    per_term_max = {t: np.zeros(nb) for t in term_ids}
    # coverage (any overlapping block) is tracked separately from max_score:
    # with short_doc_zero a block can have max_score == 0 yet contain valid
    # zero-score matches, which must stay reachable when fewer than k
    # positive-score results exist
    per_term_cover = {t: np.zeros(nb, dtype=bool) for t in term_ids}
    docs_est = np.zeros(nb)
    for i in range(len(meta)):
        rng = slice(lo_idx[i], hi_idx[i] + 1)
        t = int(tids[i])
        arr = per_term_max[t]
        arr[rng] = np.maximum(arr[rng], ms[i])
        per_term_cover[t][rng] = True
        docs_est[lo_idx[i]: hi_idx[i] + 1] += ns[i] / (hi_idx[i] + 1 - lo_idx[i])
    ub = np.zeros(nb)
    cover_all = np.ones(nb, dtype=bool)
    cover_any = np.zeros(nb, dtype=bool)
    for t in term_ids:
        ub += per_term_max[t]
        cover_all &= per_term_cover[t]
        cover_any |= per_term_cover[t]
    feasible = cover_all if mode == "and" else cover_any
    return edges, ub, docs_est, feasible


def search_bmw(
    spark: SparkSession,
    index: Index,
    query: str,
    mode: str = "and",
    k: int = 10,
    cfg: EngineConfig | None = None,
    n_buckets: int = 64,
) -> list[tuple[int, float]]:
    """Distributed block-max WAND: two-phase, bucket-granular early
    termination (exact top-k; collected result).

    Phase 1 evaluates the highest-upper-bound doc-range buckets (enough to
    cover ~8k docs) exactly — every query-term block overlapping those
    buckets decodes in one pruned Spark job — producing a lower bound τ̂ =
    kth best exact score. Phase 2 evaluates only the remaining buckets whose
    metadata upper bound ≥ τ̂ (often none). Docs in skipped buckets provably
    score < τ̂. This upgrades the reference's section-at-a-time early exit
    (search_engine.h:298-352) to per-block max-score bounds at cluster scale.
    """
    cfg = cfg or index.config()
    term_ids = _query_term_ids(query, mode, cfg)
    if not term_ids:
        return []
    from alexandria_spark.plans.delete import _deletes_small, deletes_path

    if os.path.exists(deletes_path(index)) and not _deletes_small(index):
        # the bucket walk needs the tombstone set driver-side; a mass
        # deletion makes that a giant array — serve exactly via the
        # distributed path, which anti-joins tombstones on the executors
        return _collect_topk(spark, index, query, mode, k, cfg)
    shards = sorted({_shard_of(t, cfg.num_shards) for t in term_ids})
    blocks = index.postings(spark).where(
        F.col("shard").isin(shards) & F.col("term_id").isin(term_ids)
    )
    meta = blocks.select(
        "term_id", "salt", "block_id", "min_doc", "max_doc", "max_score", "n"
    ).limit(_META_GUARD_ROWS + 1).toPandas()
    if len(meta) > _META_GUARD_ROWS:
        # metadata overflow (hot terms at scale): the bucket-pruning plan
        # would stall the driver — serve exactly via the fully distributed
        # path instead (same result contract: score desc, unsigned doc asc)
        return _collect_topk(spark, index, query, mode, k, cfg)
    if len(meta) == 0 or (
        mode == "and" and set(meta["term_id"]) != set(term_ids)
    ):
        return []
    edges, ub, docs_est, feasible = _bucket_bounds(meta, term_ids, mode, n_buckets)

    order = np.argsort(-ub)
    covered, phase1 = 0.0, []
    for b in order:
        if not feasible[b]:
            continue
        phase1.append(b)
        covered += docs_est[b]
        if covered >= 8 * k:
            break
    if not phase1:
        return []

    nterms = len(term_ids)

    def _eval_buckets(bucket_ids: list[int], lo_u: np.uint64 | None = None):
        """Decode blocks overlapping the buckets; exact per-doc scores for
        docs INSIDE the buckets.

        The in-bucket filter runs INSIDE the pruned Spark job (executor
        side), so the driver receives one (doc, score) pair per in-bucket
        posting — bytes proportional to the docs being evaluated — instead
        of every touched block's whole payload. Row order (partition-major,
        stream order within partitions) is exactly the order the old
        driver-side mask produced, so the f64 accumulation is bit-identical."""
        umax = np.uint64(0xFFFFFFFFFFFFFFFF)
        bid = np.array(bucket_ids, dtype=np.int64)
        lo = edges[bid]
        # bucket i spans [edges[i], edges[i+1]) except the last, which is
        # inclusive of the max u64 doc id
        hi_inc = np.where(edges[bid + 1] == umax, umax, edges[bid + 1] - np.uint64(1))
        blows = _u(meta["min_doc"].to_numpy())
        bhighs = _u(meta["max_doc"].to_numpy())
        touch = np.zeros(len(meta), dtype=bool)
        for lo_i, hi_i in zip(lo, hi_inc):
            touch |= (blows <= hi_i) & (bhighs >= lo_i)
        kept = meta[touch]
        keys = spark.createDataFrame(kept[["term_id", "salt", "block_id"]])
        sel = blocks.join(F.broadcast(keys), ["term_id", "salt", "block_id"], "left_semi")
        lo_c, hi_c = lo.copy(), hi_inc.copy()  # plain arrays into the closure

        def fn(batches):
            for bpdf in batches:
                if len(bpdf) == 0:
                    continue
                dec = decode_blocks(bpdf)
                du = dec["doc_id"].to_numpy().view(np.uint64)
                inside = np.zeros(len(du), dtype=bool)
                for lo_i, hi_i in zip(lo_c, hi_c):
                    inside |= (du >= lo_i) & (du <= hi_i)
                if inside.any():
                    yield dec.loc[inside, ["doc_id", "score"]]

        pair_schema = StructType([
            StructField("doc_id", LongType()),
            StructField("score", FloatType()),
        ])
        pdf = sel.mapInPandas(fn, pair_schema).toPandas()
        if len(pdf) == 0:
            return np.empty(0, np.uint64), np.empty(0, np.float64)
        docs_u = _u(pdf["doc_id"].to_numpy())
        scores = pdf["score"].to_numpy(np.float64)
        uniq, inv, counts = np.unique(docs_u, return_inverse=True, return_counts=True)
        summed = np.zeros(len(uniq))
        np.add.at(summed, inv, scores)
        if mode == "and":
            keep = counts == nterms
            uniq, summed = uniq[keep], summed[keep]
        return uniq, summed

    from alexandria_spark.plans.delete import load_deleted_ids

    deleted = load_deleted_ids(spark, index)
    docs_u, scores = _drop_deleted(*_eval_buckets(phase1), deleted)
    if len(scores) >= k:
        tau = np.partition(scores, len(scores) - k)[len(scores) - k]
    else:
        tau = -np.inf
    # ub >= tau (not >): a skipped doc scoring exactly tau would tie the kth
    # score and win the ascending-doc-id tie-break. With tau = -inf (< k
    # results so far) every feasible bucket is evaluated, keeping zero-score
    # matches reachable.
    p1 = set(phase1)
    remaining = [b for b in order if feasible[b] and b not in p1 and ub[b] >= tau]
    if remaining and float(sum(docs_est[b] for b in remaining)) > 2_000_000:
        # adversarial score distribution: the bound prunes almost nothing.
        # _eval_buckets ships only in-bucket (doc, score) pairs now, but ~2M
        # docs' pairs per term is still tens of MB of driver transfer for a
        # query the fully distributed aggregation serves with k rows —
        # serve exactly via that path instead
        return _collect_topk(spark, index, query, mode, k, cfg)
    if remaining:
        d2, s2 = _drop_deleted(*_eval_buckets(remaining), deleted)
        docs_u = np.concatenate([docs_u, d2])
        scores = np.concatenate([scores, s2])
    if len(docs_u) == 0:
        return []
    top = np.lexsort((docs_u, -scores))[:k]
    docs_i = docs_u.view(np.int64)
    return [(int(docs_i[i]), float(scores[i])) for i in top]


def choose_engine(query: str, mode: str, cfg: EngineConfig) -> str:
    """Serving-layout auto selection (query_submit.py --engine auto).

    Documented rules, from the measured layout strengths (BENCH.md): the
    doc-partitioned layout is the best warm path for every MULTI-term
    query — AND and OR alike (per-bucket WAND on executors; flat 0.41–0.49 s
    from 5k through 500k docs, while the impact layout's OR path degrades
    on hot/long lists — its phase-2 candidate completion grows with list
    length, 1.24 s at 500k docs where docpart held 0.41 s). The
    impact-ordered layout wins SINGLE-term queries decisively (one
    score-ordered prefix read, ~3× faster than docpart at every measured
    scale); a phrase is a single n-gram key over the term layout, where
    search_bmw's bucket pruning serves with the least work. Every engine
    keeps its own guard-state fallbacks (metadata overflow / mass deletion
    → exact distributed path), so auto only picks the LAYOUT — exactness
    is invariant. A missing layout raises that engine's actionable
    FileNotFoundError (how to derive it, which engines serve without it)
    rather than silently degrading.
    """
    if mode == "phrase":
        return "bmw"
    tids = _query_term_ids(query, mode, cfg)
    if not tids:
        return "dist"  # vacuous query: serve empty without any derived layout
    if len(tids) == 1:
        return "impact"
    return "docpart"


def _collect_topk(spark: SparkSession, index: Index, query: str, mode: str,
                  k: int, cfg: EngineConfig,
                  _blocks: DataFrame | None = None) -> list[tuple[int, float]]:
    """Exact top-k via the fully distributed path, collected — the shared
    fallback every driver-volume guard routes to (same result contract:
    score desc, unsigned doc asc). ``_blocks`` substitutes a warm engine's
    cached scan so a guard-tripped query still serves from executor memory
    instead of a cold parquet read."""
    r = search(spark, index, query, mode=mode, k=k, cfg=cfg, _blocks=_blocks)
    return [(int(row["doc_id"]), float(row["score"])) for row in r.collect()]


def cache_coalesce(df: DataFrame, table_dir: str) -> DataFrame:
    """Right-size a scan about to be pinned for warm serving: coalesce down
    to ~64 MiB-per-partition (floor 8) when the table is small — per-query
    task-launch overhead dominates small cached tables (25 tasks measured
    0.45 s warm p50 where 8 measured 0.35 s on the same sf0.1 table) — but
    NEVER below the scan's natural partitioning when the data is large, so
    pinned partitions stay executor-sized and parallelism is preserved at
    scale."""
    from alexandria_spark.plans.checkpoint import parquet_dir_bytes

    natural = df.rdd.getNumPartitions()
    target = min(natural, max(8, -(-parquet_dir_bytes(table_dir) // (64 << 20))))
    return df.coalesce(target) if target < natural else df


class QueryEngine:
    """Warm distributed serving: pins the block scan in executor memory and
    the block METADATA on the driver (one-time), so each query plans its
    pruning without extra jobs and decodes from cache — the distributed
    analogue of the reference's RAM-cached readers (index_reader.cpp:59-89)
    for posting lists too large for one node."""

    def __init__(self, spark: SparkSession, index: Index,
                 cfg: EngineConfig | None = None, cache: bool = True):
        self.spark = spark
        self.index = index
        self.cfg = cfg or index.config()
        self.blocks = index.postings(spark)
        if cache:
            self.blocks = cache_coalesce(self.blocks, index.postings_path).cache()
            self.blocks.count()
        # driver-pinned metadata is guarded like search()/search_bmw(): past
        # _META_GUARD_ROWS the engine serves WITHOUT driver-side AND-pruning
        # (still exact — executor-side decode+groupBy carries the query)
        # instead of holding a 100-TB index's block metadata on the driver
        rows = self.blocks.select(
            "term_id", "salt", "block_id", "min_doc", "max_doc"
        ).limit(_META_GUARD_ROWS + 1).toPandas()
        self.meta = None if len(rows) > _META_GUARD_ROWS else rows

    def search(self, query: str, mode: str = "and", k: int = 10) -> DataFrame:
        cfg = self.cfg
        term_ids = _query_term_ids(query, mode, cfg)
        if not term_ids:
            return _result_frame(self.spark)
        blocks = self.blocks.where(F.col("term_id").isin(term_ids))
        if mode == "and" and len(term_ids) > 1 and self.meta is not None:
            meta = self.meta[self.meta["term_id"].isin(term_ids)]
            kept = _prune_and_blocks(meta, term_ids)
            if len(kept) == 0:
                return _result_frame(self.spark)
            if len(kept) < len(meta):
                keys = self.spark.createDataFrame(kept[["term_id", "salt", "block_id"]])
                blocks = blocks.join(
                    F.broadcast(keys), ["term_id", "salt", "block_id"], "left_semi"
                )
        agg = _decode_map(blocks).groupBy("doc_id").agg(
            F.sum(F.col("score").cast("double")).alias("score"),
            F.count("*").alias("n_terms"),
        )
        if mode == "and":
            agg = agg.where(F.col("n_terms") == len(term_ids))
        from alexandria_spark.plans.delete import filter_deleted

        agg = filter_deleted(self.spark, self.index, agg)
        return top_k(agg.withColumn("n_terms", F.col("n_terms").cast("int")), k)


# ---------------------------------------------------- WAND kernel (shared)
# Used through PinnedBlocks by LocalIndex and DocPartEngine (whole table,
# driver RAM) and by search_docpart (per bucket, inside applyInPandas on
# executors).

class PinnedBlocks:
    """Block rows held in memory for the WAND kernel, sorted by (term_id,
    salt, block_id) so a query slices its own terms' runs and builds a term
    map for those terms alone. Within a term, (salt, block_id) order gives
    unsigned-doc-sorted runs per salt. The columns are read-only: term maps
    are views into them, shared by concurrent queries."""

    COLUMNS = ("term_id", "salt", "block_id", "n", "min_doc", "max_doc",
               "max_score", "doc_deltas", "scores")

    def __init__(self, pdf: pd.DataFrame):
        pdf = pdf.sort_values(["term_id", "salt", "block_id"], kind="stable")
        self.tids = pdf["term_id"].to_numpy(np.int64)
        self.cols = {
            "min": _u(pdf["min_doc"].to_numpy()),
            "max": _u(pdf["max_doc"].to_numpy()),
            "ms": pdf["max_score"].to_numpy(np.float32),
            "n": pdf["n"].to_numpy(np.int64),
            "deltas": pdf["doc_deltas"].to_numpy(object),
            "scores": pdf["scores"].to_numpy(object),
        }
        for col in self.cols.values():
            col.flags.writeable = False

    @classmethod
    def load(cls, spark: SparkSession, index: Index) -> "PinnedBlocks":
        """Collect an index's whole block table to the driver (one job)."""
        return cls(index.postings(spark).select(*cls.COLUMNS).toPandas())

    def terms(self, tids: list[int]) -> dict[int, dict]:
        """Per-term arrays (metadata + encoded payloads) for ``tids``;
        terms with no blocks are absent."""
        out: dict[int, dict] = {}
        for tid in dict.fromkeys(tids):
            lo = int(np.searchsorted(self.tids, tid, side="left"))
            hi = int(np.searchsorted(self.tids, tid, side="right"))
            if hi == lo:
                continue
            t = {name: col[lo:hi] for name, col in self.cols.items()}
            t["np"] = int(t["n"].sum())
            t["S"] = float(t["ms"].max())
            out[int(tid)] = t
        return out

    def topk(self, tids: list[int], mode: str, k: int | None,
             load_deleted=lambda: None) -> tuple[np.ndarray, np.ndarray]:
        """Exact top-k (score desc, unsigned doc asc) of an ``and``/``or``
        query as (docs_u64, scores_f64); ``k=None`` keeps every match.
        ``load_deleted()`` gives the sorted tombstoned ids (or None); it is
        called only once every term an answer needs is present, and its
        docs are dropped before any truncation."""
        terms = self.terms(tids)
        if not terms or (mode == "and" and len(terms) < len(set(tids))):
            return np.empty(0, np.uint64), np.empty(0, np.float64)
        deleted = load_deleted()
        if mode == "and":
            docs_u, scores = _drop_deleted(*_wand_and(terms, tids), deleted)
        else:
            docs_u, scores = _wand_or(terms, tids, k, deleted)
        if k is None:
            return docs_u, scores
        order = np.lexsort((docs_u, -scores))[:k]
        return docs_u[order], scores[order]


def _drop_deleted(docs_u: np.ndarray, scores: np.ndarray,
                  deleted: np.ndarray | None) -> tuple[np.ndarray, np.ndarray]:
    """Drop docs found in the sorted unsigned ``deleted`` ids."""
    if deleted is None or len(deleted) == 0 or len(docs_u) == 0:
        return docs_u, scores
    pos = np.minimum(np.searchsorted(deleted, docs_u), len(deleted) - 1)
    keep = deleted[pos] != docs_u
    return docs_u[keep], scores[keep]


def _decode_term(t: dict, which: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decode the selected blocks of one term → (docs_u64, scores_f32)."""
    if len(which) == 0:
        return np.empty(0, np.uint64), np.empty(0, np.float32)
    deltas = varint_decode(b"".join(t["deltas"][i] for i in which))
    ns = t["n"][which]
    starts = np.zeros(len(which), np.int64)
    np.cumsum(ns[:-1], out=starts[1:])
    cs = np.cumsum(deltas, dtype=np.uint64)
    base = cs[starts] - deltas[starts]
    docs = cs - np.repeat(base, ns)
    scores = np.frombuffer(b"".join(t["scores"][i] for i in which), dtype="<f4")
    return docs, scores


def _blocks_containing(t: dict, cand: np.ndarray) -> np.ndarray:
    """Indices of blocks whose [min,max] contains >=1 of sorted cand."""
    lo = np.searchsorted(cand, t["min"], side="left")
    hi = np.searchsorted(cand, t["max"], side="right")
    return np.nonzero(hi > lo)[0]


def _wand_and(terms: dict[int, dict], tids: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """Conjunctive evaluation: rarest list drives; other terms decode only
    blocks containing surviving candidates."""
    empty = (np.empty(0, np.uint64), np.empty(0, np.float64))
    infos = []
    for tid in tids:
        t = terms.get(tid)
        if t is None:
            return empty
        infos.append(t)
    infos.sort(key=lambda t: t["np"])  # rarest list drives
    drv = infos[0]
    cand, cscore = _decode_term(drv, np.arange(len(drv["n"])))
    order = np.argsort(cand, kind="stable")
    cand, cscore = cand[order], cscore[order].astype(np.float64)
    for t in infos[1:]:
        if len(cand) == 0:
            return empty
        which = _blocks_containing(t, cand)
        docs, scores = _decode_term(t, which)
        if len(docs) == 0:
            return empty
        o = np.argsort(docs, kind="stable")
        docs, scores = docs[o], scores[o]
        pos = np.searchsorted(docs, cand, side="left")
        pos_c = np.minimum(pos, len(docs) - 1)
        hit = docs[pos_c] == cand
        cand, cscore = cand[hit], cscore[hit] + scores[pos_c[hit]].astype(np.float64)
    return cand, cscore


def _wand_or(terms: dict[int, dict], tids: list[int], k: int | None,
             deleted: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Disjunctive term-at-a-time quit/continue with block-max skipping.
    ``k=None`` never quits (every match). Docs in the sorted ``deleted``
    ids never become accumulators, so the quit threshold counts live docs
    only."""
    infos = [terms[t] for t in tids if t in terms]
    if not infos:
        return np.empty(0, np.uint64), np.empty(0, np.float64)
    infos.sort(key=lambda t: -t["S"])  # highest potential first
    suffix = np.zeros(len(infos) + 1)
    for i in range(len(infos) - 1, -1, -1):
        suffix[i] = suffix[i + 1] + infos[i]["S"]

    acc_docs = np.empty(0, np.uint64)
    acc_scores = np.empty(0, np.float64)
    frozen = False  # True => no new accumulators (quit -> continue phase)
    for i, t in enumerate(infos):
        if not frozen and k is not None and len(acc_docs) >= k:
            kth = np.partition(acc_scores, len(acc_scores) - k)[len(acc_scores) - k]
            # strict >: an unseen doc reaching exactly suffix[i] ties the kth
            # score and can win the ascending-doc-id tie-break, so it must
            # still be admitted as a new accumulator
            if kth > suffix[i]:
                frozen = True  # docs unseen so far can never reach top-k
        if frozen:
            which = _blocks_containing(t, acc_docs)
        else:
            which = np.arange(len(t["n"]))
        docs, scores = _decode_term(t, which)
        if not frozen:  # frozen: only accumulators, already live, are hit
            docs, scores = _drop_deleted(docs, scores, deleted)
        if len(docs) == 0:
            continue
        o = np.argsort(docs, kind="stable")
        docs, scores = docs[o], scores[o].astype(np.float64)
        if frozen:
            pos = np.searchsorted(acc_docs, docs)
            pos_c = np.minimum(pos, len(acc_docs) - 1)
            hit = acc_docs[pos_c] == docs
            np.add.at(acc_scores, pos_c[hit], scores[hit])
        else:
            both = np.concatenate([acc_docs, docs])
            vals = np.concatenate([acc_scores, scores])
            uniq, inv = np.unique(both, return_inverse=True)
            summed = np.zeros(len(uniq), np.float64)
            np.add.at(summed, inv, vals)
            acc_docs, acc_scores = uniq, summed
    return acc_docs, acc_scores


# ------------------------------------------------------------------ local

class LocalIndex:
    """RAM-pinned block index for low-latency serving.

    Holds per-term block metadata + encoded payloads in numpy arrays;
    ``search`` runs term-at-a-time quit/continue with block-max skipping:

    * terms are processed in decreasing global max-score order;
    * once the running kth-best score beats the summed max-scores of the
      remaining terms, no NEW candidate docs can enter the top-k — the
      evaluation switches to *continue* mode, where remaining terms only
      update existing candidates and only blocks whose doc-id range
      contains a candidate are decoded (block-max skipping);
    * conjunctive mode drives from the rarest term (the reference's
      shortest-list-first intersection, intersection.h:43-51) and decodes
      only blocks containing surviving candidates.

    Results are exact top-k (the skipped work provably cannot change them).
    """

    # refuse to pin more than this many parquet bytes of postings into
    # driver RAM (decoded pandas is larger still; see pin_budget); past it,
    # serve through QueryEngine, or DocPartEngine, which then keeps its
    # state on the executors
    MAX_PIN_BYTES = 2 << 30

    def __init__(self, spark: SparkSession, index: Index, cfg: EngineConfig | None = None,
                 max_pin_bytes: int | None = None):
        self.cfg = cfg or index.config()
        limit = max_pin_bytes if max_pin_bytes is not None else pin_budget(spark)
        total = parquet_dir_bytes(index.postings_path)
        if total > limit:
            raise ValueError(
                f"postings are {total >> 20} MiB on disk — too large to pin "
                f"in driver RAM (limit {limit >> 20} MiB). Serve this index "
                f"through QueryEngine / DocPartEngine / search() instead, "
                f"or raise max_pin_bytes explicitly."
            )
        from alexandria_spark.plans.delete import load_deleted_ids

        self.deleted = load_deleted_ids(spark, index)
        self.blocks = PinnedBlocks.load(spark, index)

    def search(self, query: str, mode: str = "and", k: int = 10) -> list[tuple[int, float]]:
        tids = _query_term_ids(query, mode, self.cfg)
        if not tids:
            return []
        # or | phrase (a phrase is a single-term disjunction)
        docs_u, scores = self.blocks.topk(tids, "and" if mode == "and" else "or",
                                          k, lambda: self.deleted)
        docs_i = docs_u.view(np.int64)
        return [(int(d), float(s)) for d, s in zip(docs_i, scores)]


# pinning collects the table through the driver: the JVM holds the
# serialized Arrow batches while Python builds the pandas copy (each
# measured 1.0-1.4x the parquet bytes on the synthetic corpus), so the
# default budget keeps this much headroom below spark.driver.maxResultSize
# and below the driver heap
_PIN_HEADROOM = 4


def pin_budget(spark: SparkSession) -> int:
    """Parquet bytes of postings a driver-pinned engine may hold by
    default: LocalIndex.MAX_PIN_BYTES, capped at 1/_PIN_HEADROOM of
    ``spark.driver.maxResultSize`` (0 means unlimited) and of the driver
    JVM's max heap."""
    sc = spark.sparkContext
    jvm = sc._jvm
    caps = [LocalIndex.MAX_PIN_BYTES,
            jvm.java.lang.Runtime.getRuntime().maxMemory() // _PIN_HEADROOM]
    result_cap = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        sc.getConf().get("spark.driver.maxResultSize", "1g"))
    if result_cap > 0:
        caps.append(result_cap // _PIN_HEADROOM)
    return min(caps)
