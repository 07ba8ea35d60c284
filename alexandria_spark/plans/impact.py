"""Impact-ordered posting layout: score-quantized early termination.

The doc-sorted layout (plans/blocks.py) is what conjunctive WAND wants. For
top-k where a term's best postings should surface first (single-term and
disjunctive serving), search engines keep an *impact-ordered* copy: within
each (term, salt) group, postings are assigned to blocks by DESCENDING
score — block 0 holds the term's strongest postings — while docs are
re-sorted ascending INSIDE each block, so the existing delta+varint codec
and block metadata work unchanged. A reader walks blocks in impact order
and stops as soon as the kth collected score is >= the next block's
max_score: exact top-k after decoding ~k postings instead of the whole
list.

The reference's analogue is its section-ordered early exit
(search_engine.h:298-352) — this layout strengthens the same idea to
per-block score bounds, and complements (not replaces) the doc-sorted
table: `postings` stays the source of truth; `postings_impact` is a
derived, snapshot-committed acceleration table (like any secondary index).

INVARIANT: stored scores are NON-NEGATIVE. The OR bounds treat a partial
TAAT sum a(d) as a lower bound of d's true score and unseen terms as
only able to ADD score — both false if scores could go negative. The
scoring sites guarantee it (df clamped to n_docs, plans/build.py), even
under stale partial-refresh stats where raw BM25 idf would dip below zero.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans.blocks import build_blocks, decode_blocks
from alexandria_spark.plans.build import BLOCK_SCHEMA, Index
from alexandria_spark.plans.delete import load_deleted_ids
from alexandria_spark.plans.query import _drop_deleted, _query_term_ids, _shard_of

# phase-2 completion: most payload blocks a single query may pull to the
# driver for local numpy summing. Past this, candidate ranges intersect so
# many blocks that "pruned" ≈ "everything" (dense hot-term ORs), and the
# fully distributed completion — whose driver transfer is bounded by the
# candidate count, not the posting volume — is both faster and the only
# 100-TB-safe shape. 64 blocks ≈ 256k postings ≈ a few MB decoded.
_P2_MAX_DRIVER_BLOCKS = 64

# phase-2 flat completion: most (candidate x term) rows one query may ship
# to the driver as (doc, score) pairs for the shuffle-free completion; past
# it, the shuffle+groupBy completion bounds the transfer by len(cand).
_P2_FLAT_MAX_ROWS = 2_000_000

# phase-1 impact walk: most payload blocks the driver-orchestrated loop may
# decode before conceding that early termination is not biting (adversarial
# flat score distributions never satisfy the strict θ > U stop — all-equal
# scores make θ == U exactly — and would otherwise stream ENTIRE hot lists
# through the driver batch by batch). Past the cap the query is served by
# the exact distributed fallback instead. 512 blocks ≈ 2M postings ≈ tens
# of MB of decoded chunks, far past any case where the walk still wins.
_P1_MAX_DRIVER_BLOCKS = 512


def _impact_arrange(pdf: pd.DataFrame, block_size: int, keep_tf: bool,
                    num_shards: int) -> pd.DataFrame:
    """One partition's postings → impact-ordered encoded blocks."""
    if len(pdf) == 0:
        return build_blocks(pdf, block_size, keep_tf).assign(
            shard=np.empty(0, np.int32)
        )
    term = pdf["term_id"].to_numpy(np.int64)
    salt = pdf["salt"].to_numpy(np.int32)
    docs_u = pdf["doc_id"].to_numpy(np.int64).view(np.uint64)
    score = pdf["score"].to_numpy(np.float32)
    # pass 1: (term, salt, score desc, doc asc) — impact rank within group
    o1 = np.lexsort((docs_u, -score.astype(np.float64), salt, term))
    term, salt, docs_u, score = term[o1], salt[o1], docs_u[o1], score[o1]
    tf = pdf["tf"].to_numpy(np.int64)[o1] if "tf" in pdf else None
    new_group = np.empty(len(term), dtype=bool)
    new_group[0] = True
    new_group[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    gstarts = np.nonzero(new_group)[0]
    gno = np.cumsum(new_group) - 1
    pos = np.arange(len(term), dtype=np.int64) - gstarts[gno]
    chunk = pos // block_size  # block 0 = strongest postings
    # pass 2: docs ascending INSIDE each impact block (codec stays valid)
    o2 = np.lexsort((docs_u, chunk, salt, term))
    arranged = pd.DataFrame(
        {
            "term_id": term[o2],
            "salt": salt[o2],
            "doc_id": docs_u[o2].view(np.int64),
            "score": score[o2],
        }
    )
    if tf is not None:
        arranged["tf"] = tf[o2]
    out = build_blocks(arranged, block_size, keep_tf)
    tid = out["term_id"].to_numpy(np.int64)
    out["shard"] = (tid.view(np.uint64) % np.uint64(num_shards)).astype(np.int32)
    return out


def build_impact_postings(spark: SparkSession, index: Index,
                          cfg: EngineConfig | None = None,
                          shards: list[int] | None = None) -> str:
    """Derive the impact-ordered table from the index's doc-sorted postings
    (decode → per-(term,salt) impact re-block → parquet by shard). One
    shuffle (re-co-locating groups), same block codec.

    ``shards`` re-derives ONLY those shard partitions (dynamic overwrite) —
    the delta path for a partial refresh: terms are hash-sharded identically
    in both tables, so a postings shard maps 1:1 to an impact shard and the
    untouched partitions stay byte-identical."""
    cfg = cfg or index.config()
    blocks = index.postings(spark)
    if shards is not None:
        blocks = blocks.where(F.col("shard").isin(list(shards)))

    def decode_fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy(np.int64)
            dec = decode_blocks(pdf, want_tf=True)
            dec["salt"] = np.repeat(pdf["salt"].to_numpy(np.int32), ns)
            yield dec[["term_id", "salt", "doc_id", "score", "tf"]]

    import pyspark.sql.types as T

    dec_schema = T.StructType([
        T.StructField("term_id", T.LongType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.FloatType()),
        T.StructField("tf", T.LongType()),
    ])
    postings = blocks.mapInPandas(decode_fn, dec_schema)
    parts = postings.repartition(
        cfg.shuffle_partitions,
        F.pmod(F.col("term_id"), F.lit(cfg.num_shards)), F.col("salt"),
    )
    block_size, keep_tf, num_shards = cfg.block_size, cfg.keep_tf, cfg.num_shards

    def arrange_fn(batches):
        buf = [pdf for pdf in batches if len(pdf)]
        if not buf:
            return
        yield _impact_arrange(
            pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0],
            block_size, keep_tf, num_shards,
        )

    out_path = os.path.join(index.path, "postings_impact")
    arranged = parts.mapInPandas(arrange_fn, BLOCK_SCHEMA)
    if shards is not None:
        # replace exactly the re-derived shards' partitions, nothing else
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            arranged.write.partitionBy("shard").mode("overwrite").parquet(out_path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    else:
        # full derive: write aside + atomic swap, so a session-wide dynamic
        # partitionOverwriteMode (build_index sets it) can never leave
        # vanished shards behind, and a crash never yields a half table
        from alexandria_spark.plans.checkpoint import atomic_swap_dir, recover_swap

        recover_swap(out_path)
        tmp = out_path + "_rebuilding"
        arranged.write.partitionBy("shard").mode("overwrite").parquet(tmp)
        atomic_swap_dir(tmp, out_path)
    from alexandria_spark.plans.snapshots import commit_snapshot

    commit_snapshot(index.path, "impact_build",
                    {} if shards is None else {"shards": list(shards)})
    return out_path


def _pinned_scan(spark: SparkSession, index: Index, table: str):
    """ONE snapshot-pinned scan for a whole query. The cold path used to
    issue two independent directory reads (metadata scan, then lazy payload
    fetches); a partial refresh rewriting the shard between those jobs could
    make the payload fetch miss keys the metadata promised (KeyError) or
    return payloads inconsistent with the metadata ordering. Pinning both to
    the HEAD snapshot's file manifest makes the pair read one immutable
    state; indexes without a snapshot log fall back to the directory read."""
    from alexandria_spark.plans import snapshots

    if table == "postings_impact" and not os.path.isdir(
        os.path.join(index.path, table)
    ):
        raise FileNotFoundError(
            f"no impact-ordered layout under {index.path!r}/postings_impact — "
            f"derive one with build_impact_postings (CLI: maintain_submit.py "
            f"--op derive-impact), or query the doc-sorted layout with "
            f"engine dist/bmw/local"
        )
    try:
        return snapshots.read_table(spark, index.path, table)
    except (ValueError, FileNotFoundError, OSError):
        if table == "postings":
            return index.postings(spark)
        return spark.read.parquet(os.path.join(index.path, table))


def _block_key_pd(pdf: pd.DataFrame) -> pd.Series:
    """Composite (salt, block_id) key — salts/block_ids are int32-nonneg."""
    return pdf["salt"].astype("int64") * (1 << 31) + pdf["block_id"].astype("int64")


def _block_key_col():
    """The Spark-side expression of the same composite key."""
    return F.col("salt").cast("long") * (1 << 31) + F.col("block_id").cast("long")


def _impact_meta(spark: SparkSession, index: Index, tid: int,
                 num_shards: int, _blocks=None,
                 _pinned: pd.DataFrame | None = None) -> pd.DataFrame | None:
    """Metadata-only scan of ONE term's impact blocks, sorted by descending
    block max (the merged impact order across salts) — the single-term face
    of ``_impact_meta_multi`` so the guard/sort contract lives in exactly
    one place. None when the term trips the driver metadata guard."""
    return _impact_meta_multi(spark, index, [tid], num_shards, _blocks,
                              _pinned)[tid]


def _impact_meta_multi(spark: SparkSession, index: Index, tids: list[int],
                       num_shards: int, _blocks=None,
                       _pinned: pd.DataFrame | None = None,
                       ) -> dict[int, pd.DataFrame | None]:
    """All query terms' impact metadata in ONE job (per-term scans cost a
    scheduler round-trip each — on a warm engine that round-trip IS the
    query cost). Guard semantics match the per-term fetch exactly: the
    collective limit is n_terms x guard + 1, so exceeding it implies (by
    pigeonhole) at least one term alone exceeds the per-term guard; under
    it, any individual term over the guard is marked None, same as before.

    ``_pinned`` (ImpactEngine) substitutes the engine's one-time
    driver-pinned copy of the whole metadata table for the per-query scan:
    zero Spark jobs here on a warm engine. The per-term guard still
    applies; pinning itself is guard-bounded at engine init."""
    from alexandria_spark.plans.query import _META_GUARD_ROWS

    if _pinned is not None:
        pdf = _pinned[_pinned["term_id"].isin(tids)]
    else:
        shards = sorted({_shard_of(t, num_shards) for t in tids})
        path = os.path.join(index.path, "postings_impact")
        src = _blocks if _blocks is not None else spark.read.parquet(path)
        cap = len(tids) * _META_GUARD_ROWS + 1
        pdf = (
            src.where(F.col("shard").isin(shards) & F.col("term_id").isin(list(tids)))
            .select("term_id", "salt", "block_id", "n", "max_score")
            .limit(cap)
            .toPandas()
        )
        if len(pdf) >= cap:
            return {t: None for t in tids}
    out: dict[int, pd.DataFrame | None] = {}
    for t in tids:
        m = pdf[pdf["term_id"] == t]
        out[t] = (
            None if len(m) > _META_GUARD_ROWS
            else m.drop(columns=["term_id"])
            # fully-keyed deterministic order: the walk (and its _stats
            # accounting) must not depend on scan row order, which differs
            # between a per-query fetch and the engine's pinned copy
            .sort_values(["max_score", "salt", "block_id"],
                         ascending=[False, True, True], kind="mergesort")
            .reset_index(drop=True)
        )
    return out


def _prefetch_first_batches(src, readers: dict[int, "_ImpactBlockReader"],
                            metas: dict[int, pd.DataFrame], k: int) -> None:
    """Seed every reader's first payload batch in ONE job (instead of one
    first-fetch job per term): per term, the smallest impact-order prefix
    that can hold k postings — the same sizing impact_single_topk uses.
    Later misses fall back to the reader's own doubling fetches; pure IO
    batching, results unchanged."""
    conds, firsts = [], {}
    # when the whole query touches few blocks (short lists — known from the
    # metadata), seed EVERYTHING in the one job: the walk then never pays a
    # mid-loop fetch job. Long lists keep the k-sized prefix + lazy doubling
    # so driver bytes stay proportional to blocks actually read.
    total_blocks = sum(len(metas[t]) for t in readers)
    for t, rd in readers.items():
        m = metas[t]
        if total_blocks <= _P2_MAX_DRIVER_BLOCKS:
            first = len(m)
        else:
            cum = m["n"].to_numpy(np.int64).cumsum()
            first = min(int(np.searchsorted(cum, k) + 1), len(m))
        firsts[t] = first
        sel = m.iloc[0:first]
        conds.append(
            (F.col("term_id") == t) & (F.col("shard") == rd.shard)
            & _block_key_col().isin(_block_key_pd(sel).tolist())
        )
    if not conds:
        return
    cond = conds[0]
    for c in conds[1:]:
        cond = cond | c
    pdf = src.where(cond).toPandas()
    for t, rd in readers.items():
        mine = pdf[pdf["term_id"] == t]
        rd.store(0, _block_key_pd(metas[t].iloc[0:firsts[t]]).tolist(), mine)
        rd.batch = max(rd.batch, firsts[t])


class _ImpactBlockReader:
    """On-demand payload fetch for one term's impact blocks.

    The round-2 implementation shipped EVERY block payload to the driver
    before the early-termination loop ran — a hot term's whole posting list
    (tens of MB) per query. Now only the metadata travels up front; payloads
    come down in doubling batches of exactly the blocks the loop asks for,
    so driver bytes track blocks_read, not blocks_total.
    """

    def __init__(self, spark: SparkSession, index: Index, tid: int,
                 meta: pd.DataFrame, num_shards: int, first_batch: int,
                 _blocks=None):
        self.spark = spark
        self.path = os.path.join(index.path, "postings_impact")
        self._blocks = _blocks
        self.shard = _shard_of(tid, num_shards)
        self.tid = tid
        self.meta = meta
        self.batch = max(1, first_batch)
        # per-block DECODED postings (docs_u64, scores_f64): each fetched
        # batch is decoded in ONE vectorized decode_blocks call and sliced
        # per block — the walk then consumes plain array views instead of
        # paying a 1-row-DataFrame decode per step (driver GIL time, which
        # concurrent queries serialize on)
        self.dec: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.fetched_blocks = 0
        self.fetch_jobs = 0

    def block(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        if i not in self.dec:
            self._fetch(i, min(i + self.batch, len(self.meta)))
            self.batch *= 2
        return self.dec[i]

    def store(self, lo: int, keys: list[int], pdf: pd.DataFrame) -> None:
        """Decode fetched block rows (one vectorized pass, meta order) into
        per-block array slices at positions lo..lo+len(keys)-1."""
        by_key = {k: j for j, k in enumerate(_block_key_pd(pdf))}
        ordered = pdf.iloc[[by_key[k] for k in keys]]
        dec = decode_blocks(ordered)
        ns = ordered["n"].to_numpy(np.int64)
        ends = np.cumsum(ns)
        du = dec["doc_id"].to_numpy().view(np.uint64)
        sc = dec["score"].to_numpy(np.float64)
        for ofs in range(len(keys)):
            s0 = int(ends[ofs] - ns[ofs])
            self.dec[lo + ofs] = (du[s0:ends[ofs]], sc[s0:ends[ofs]])
        self.fetched_blocks += len(keys)

    def _fetch(self, lo: int, hi: int) -> None:
        sel = self.meta.iloc[lo:hi]
        keys = _block_key_pd(sel).tolist()
        src = (self._blocks if self._blocks is not None
               else self.spark.read.parquet(self.path))
        pdf = (
            src.where((F.col("shard") == self.shard) & (F.col("term_id") == self.tid))
            .where(_block_key_col().isin(keys))
            .toPandas()
        )
        self.store(lo, keys, pdf)
        self.fetch_jobs += 1


def _search_fallback(spark: SparkSession, index: Index, query: str,
                     mode: str, k: int, cfg: EngineConfig,
                     _stats: dict | None = None,
                     _doc_blocks=None) -> list[tuple[int, float]]:
    """Exact distributed top-k via plans.query.search — the fallback when a
    driver-volume guard trips (same result contract: score desc, unsigned
    doc asc). A warm engine's cached doc-sorted scan rides through
    ``_doc_blocks`` so guard-tripped queries still serve from executor
    memory; ``_stats`` keeps its documented keys (zeros + a marker)."""
    from alexandria_spark.plans.query import _collect_topk

    if _stats is not None:
        _stats.update(blocks_read=0, blocks_total=0, payload_blocks_fetched=0,
                      fetch_jobs=0, blocks_read_p1=0, blocks_fetched_p2=0,
                      n_candidates=0, fallback="distributed")
    return _collect_topk(spark, index, query, mode, k, cfg, _blocks=_doc_blocks)


def _deletes_gate(index: Index) -> bool:
    """True when the tombstone set is small enough for the driver-side
    impact walk; past it the callers fall back to the distributed path
    (which anti-joins tombstones on the executors)."""
    from alexandria_spark.plans.delete import _deletes_small, deletes_path

    return not os.path.exists(deletes_path(index)) or _deletes_small(index)


def impact_single_topk(spark: SparkSession, index: Index, query: str,
                       k: int = 10, cfg: EngineConfig | None = None,
                       _stats: dict | None = None,
                       _blocks=None,
                       _meta_pinned: pd.DataFrame | None = None,
                       ) -> list[tuple[int, float]]:
    """Exact single-term top-k over the impact table: decode blocks in
    impact order, stop when the kth collected score >= the next block's
    max_score (ties included via >=... strictly: stop when kth > next max,
    or kth == next max and doc-id tie-break cannot improve — we keep
    decoding on equality, which stays exact and costs at most the tied
    blocks). Payloads are fetched lazily in doubling batches (metadata-only
    scan first), so the driver never materializes blocks the loop never
    reaches. ``_stats`` reports blocks_read / blocks_total /
    payload_blocks_fetched / fetch_jobs."""
    cfg = cfg or index.config()
    term_ids = _query_term_ids(query, "or", cfg)
    if len(term_ids) != 1:
        raise ValueError("impact_single_topk serves single-term queries")
    tid = term_ids[0]
    # fallbacks reuse _blocks when a warm engine passed its cached impact
    # scan: the impact layout decodes to the identical posting multiset
    # (test_impact_layout_same_postings), so search() serves exactly from it
    if not _deletes_gate(index):  # mass deletion: serve distributed
        return _search_fallback(spark, index, query, "or", k, cfg, _stats,
                                _doc_blocks=_blocks)
    if _blocks is None:  # pin meta scan + payload fetches to one snapshot
        _blocks = _pinned_scan(spark, index, "postings_impact")
    meta = _impact_meta(spark, index, tid, cfg.num_shards, _blocks,
                        _meta_pinned)
    if meta is None:  # metadata guard tripped — exact distributed fallback
        return _search_fallback(spark, index, query, "or", k, cfg, _stats,
                                _doc_blocks=_blocks)
    if len(meta) == 0:
        if _stats is not None:
            _stats.update(blocks_read=0, blocks_total=0,
                          payload_blocks_fetched=0, fetch_jobs=0)
        return []
    deleted_u = load_deleted_ids(spark, index)
    # first batch = the smallest impact-order prefix that can hold k postings
    cum = meta["n"].to_numpy(np.int64).cumsum()
    first = int(np.searchsorted(cum, k) + 1)
    reader = _ImpactBlockReader(spark, index, tid, meta, cfg.num_shards,
                                min(first, len(meta)), _blocks)
    maxs = meta["max_score"].to_numpy(np.float32)
    docs: list[np.ndarray] = []
    scores: list[np.ndarray] = []
    n_collected = 0
    read = 0
    for i in range(len(meta)):
        kth = None
        if n_collected >= k:
            allsc = np.concatenate(scores)
            kth = np.partition(allsc, len(allsc) - k)[len(allsc) - k]
        if kth is not None and kth > maxs[i]:
            break  # no remaining block can contribute a better posting
        if read >= _P1_MAX_DRIVER_BLOCKS:
            # early termination is not biting (flat score distribution) and
            # ANOTHER block would have to stream through the driver: concede
            # and serve exact (the stop test above runs first, so a walk
            # that terminates exactly at the cap keeps its finished work)
            return _search_fallback(spark, index, query, "or", k, cfg,
                                    _stats, _doc_blocks=_blocks)
        bdu, bsc = reader.block(i)
        du, sc = _drop_deleted(bdu, bsc, deleted_u)
        docs.append(du.view(np.int64))
        scores.append(sc)
        n_collected += len(du)
        read += 1
    if _stats is not None:
        _stats["blocks_read"] = read
        _stats["blocks_total"] = int(len(meta))
        _stats["payload_blocks_fetched"] = reader.fetched_blocks
        _stats["fetch_jobs"] = reader.fetch_jobs
    d = np.concatenate(docs)
    s = np.concatenate(scores)
    du = d.view(np.uint64)
    top = np.lexsort((du, -s))[:k]
    return [(int(d[i]), float(s[i])) for i in top]


def impact_or_topk(spark: SparkSession, index: Index, query: str,
                   k: int = 10, cfg: EngineConfig | None = None,
                   _stats: dict | None = None, _blocks=None,
                   _doc_blocks=None,
                   _meta_pinned: pd.DataFrame | None = None,
                   _doc_meta_pinned: pd.DataFrame | None = None,
                   ) -> list[tuple[int, float]]:
    """Exact multi-term disjunctive top-k over the impact layout: TAAT with
    per-block upper bounds (the reference's score-ordered serving,
    sharded_builder.h:216-228, strengthened to per-block bounds).

    Phase 1 (impact table): repeatedly decode the unread block with the
    globally largest max_score, accumulating partial scores a(d). With
    U = Σ_t (next unread block max of term t), any doc not yet seen has
    true score ≤ U — so once the kth best a(d) exceeds U strictly, no
    unseen doc can enter the top-k, and the loop stops with
    θ = kth a(d) (a lower bound of the true kth score).

    Phase 2 (doc-sorted table): a doc d seen only in some terms' prefixes
    has upper bound ub(d) = a(d) + Σ_{t: d unseen in t} r_t; every doc with
    ub(d) ≥ θ is a candidate. Their EXACT scores come from one pruned job
    over the doc-sorted postings — blocks whose [min_doc, max_doc] range
    contains no candidate are never read (the two layouts complement each
    other: impact order finds the candidates, doc order completes them).
    Final ranking: exact score desc, unsigned doc asc.
    """
    cfg = cfg or index.config()
    term_ids = _query_term_ids(query, "or", cfg)
    if not term_ids:
        return []
    if len(term_ids) == 1:
        return impact_single_topk(spark, index, query, k, cfg, _stats, _blocks,
                                  _meta_pinned)
    if not _deletes_gate(index):  # mass deletion: serve distributed
        return _search_fallback(spark, index, query, "or", k, cfg, _stats,
                                _doc_blocks=_doc_blocks)
    deleted_u = load_deleted_ids(spark, index)

    if _blocks is None:  # pin meta scans + payload fetches to one snapshot
        _blocks = _pinned_scan(spark, index, "postings_impact")
    if _doc_blocks is None:  # same for the phase-2 completion table
        _doc_blocks = _pinned_scan(spark, index, "postings")
    metas = _impact_meta_multi(spark, index, term_ids, cfg.num_shards, _blocks,
                               _meta_pinned)
    if any(m is None for m in metas.values()):
        # a hot term tripped the metadata guard: the driver-orchestrated
        # impact walk would hold its block list — serve the whole query
        # through the exact distributed path instead (over the warm cached
        # doc-sorted scan when an engine provided one)
        return _search_fallback(spark, index, query, "or", k, cfg, _stats,
                                _doc_blocks=_doc_blocks)
    readers = {
        t: _ImpactBlockReader(spark, index, t, m, cfg.num_shards,
                              first_batch=2, _blocks=_blocks)
        for t, m in metas.items() if len(m)
    }
    # one combined job seeds every term's first payload batch — with per-term
    # lazy fetches, a warm 3-term OR paid 3 scheduler round-trips before
    # reading a single posting
    _prefetch_first_batches(_blocks, readers, metas, k)
    ptr = {t: 0 for t in readers}
    # per-term decoded prefixes as array chunks — phase 1 stays fully
    # vectorized (no per-posting Python): partial sums come from one
    # unique+reduceat over the concatenated chunks at each stop check
    chunks: dict[int, list[tuple[np.ndarray, np.ndarray]]] = {
        t: [] for t in readers
    }
    p1_read = 0

    def _r(t: int) -> float:
        m = metas[t]
        return float(m["max_score"].iloc[ptr[t]]) if ptr[t] < len(m) else 0.0

    def _accumulate():
        """(docs_u sorted-unique, partial sums) over all decoded chunks."""
        parts = [c for lst in chunks.values() for c in lst]
        if not parts:
            return np.empty(0, np.uint64), np.empty(0, np.float64)
        du = np.concatenate([p[0] for p in parts])
        sc = np.concatenate([p[1] for p in parts])
        order = np.argsort(du, kind="stable")
        du, sc = du[order], sc[order]
        uniq, starts = np.unique(du, return_index=True)
        return uniq, np.add.reduceat(sc, starts)

    n_seen_docs = 0
    while readers:
        live = [t for t in readers if ptr[t] < len(metas[t])]
        if not live:
            break
        bound = {t: _r(t) for t in live}
        u_total = sum(bound.values())
        if n_seen_docs >= k:
            _, sums = _accumulate()
            if len(sums) >= k:
                theta = np.partition(sums, len(sums) - k)[len(sums) - k]
                if theta > u_total:
                    break
        if p1_read >= _P1_MAX_DRIVER_BLOCKS:
            # flat score distributions never satisfy the strict θ > U stop
            # and ANOTHER block would have to stream through the driver:
            # concede the walk and serve exact (the stop test above runs
            # first, so terminating exactly at the cap keeps the result)
            return _search_fallback(spark, index, query, "or", k, cfg,
                                    _stats, _doc_blocks=_doc_blocks)
        t = max(live, key=bound.__getitem__)
        bdu, bsc = readers[t].block(ptr[t])
        du, sc = _drop_deleted(bdu, bsc, deleted_u)
        chunks[t].append((du, sc))
        n_seen_docs += len(du)
        ptr[t] += 1
        p1_read += 1

    drained = 0
    if all(len(rd.dec) >= len(metas[t]) for t, rd in readers.items()):
        # every remaining block's postings are ALREADY decoded on the
        # driver (the combined prefetch seeds whole short lists): draining
        # them locally costs zero jobs and makes the sums exact, where the
        # phase-2 completion would re-decode the same blocks through a
        # Spark job. Counted as blocks_drained, NOT blocks_read_p1 — the
        # walk's own early-termination accounting stays meaningful.
        for t, rd in readers.items():
            while ptr[t] < len(metas[t]):
                bdu, bsc = rd.block(ptr[t])
                du, sc = _drop_deleted(bdu, bsc, deleted_u)
                chunks[t].append((du, sc))
                ptr[t] += 1
                drained += 1

    docs_u_arr, a_arr = _accumulate()
    if len(docs_u_arr) == 0:
        if _stats is not None:
            _stats.update(blocks_read_p1=p1_read, blocks_total=sum(
                len(m) for m in metas.values()), blocks_fetched_p2=0)
        return []

    if all(ptr[t] >= len(metas[t]) for t in readers):
        # the walk exhausted EVERY term's block list (short lists — the
        # common small-query shape): the accumulated partial sums are
        # already the exact scores, so the phase-2 completion job would
        # only recompute them. Skip it.
        if _stats is not None:
            _stats.update(
                blocks_read_p1=p1_read,
                blocks_total=sum(len(m) for m in metas.values()),
                blocks_fetched_p2=0, n_candidates=0,
                blocks_drained=drained,
            )
        di = docs_u_arr.view(np.int64)
        top = np.lexsort((docs_u_arr, -a_arr))[:k]
        return [(int(di[i]), float(a_arr[i])) for i in top]

    # candidate cut: ub(d) = a(d) + Σ residuals of terms that haven't shown d
    ub = a_arr.copy()
    for t in readers:
        r_t = _r(t)
        if r_t <= 0.0:
            continue
        if chunks[t]:
            seen_t = np.unique(np.concatenate([c[0] for c in chunks[t]]))
            pos = np.minimum(np.searchsorted(seen_t, docs_u_arr),
                             max(len(seen_t) - 1, 0))
            in_seen = seen_t[pos] == docs_u_arr if len(seen_t) else \
                np.zeros(len(docs_u_arr), dtype=bool)
        else:
            in_seen = np.zeros(len(docs_u_arr), dtype=bool)
        ub[~in_seen] += r_t
    if len(docs_u_arr) >= k:
        theta = np.partition(a_arr, len(a_arr) - k)[len(a_arr) - k]
        cand_mask = ub >= theta
    else:
        cand_mask = np.ones(len(docs_u_arr), dtype=bool)
    cand = docs_u_arr[cand_mask].view(np.int64)

    exact, p2_blocks = _exact_scores_docsorted(spark, index, term_ids, cand,
                                               cfg, _doc_blocks,
                                               _doc_meta_pinned)
    if _stats is not None:
        _stats.update(
            blocks_read_p1=p1_read,
            blocks_total=sum(len(m) for m in metas.values()),
            blocks_fetched_p2=p2_blocks,
            n_candidates=int(len(cand)),
        )
    d = np.fromiter(exact.keys(), dtype=np.int64)
    s = np.fromiter(exact.values(), dtype=np.float64)
    top = np.lexsort((d.view(np.uint64), -s))[:k]
    return [(int(d[i]), float(s[i])) for i in top]


def _exact_scores_docsorted(spark: SparkSession, index: Index,
                            term_ids: list[int], cand: np.ndarray,
                            cfg: EngineConfig,
                            _doc_blocks=None,
                            _doc_meta_pinned: pd.DataFrame | None = None,
                            ) -> tuple[dict[int, float], int]:
    """Exact OR scores for the candidate docs from the doc-sorted postings.

    Selective candidate sets (block pruning keeps few blocks): one job
    pulls only the kept blocks' payloads to the driver and sums in numpy —
    a single stage, tiny transfer. Dense candidate sets — the common case
    for hot multi-term ORs at scale, where thousands of uniformly-spread
    candidates intersect EVERY block's [min_doc, max_doc] range and
    pruning keeps everything — switch to the fully distributed completion
    (decode + broadcast semi-join + groupBy): the driver then receives
    only one summed row per candidate instead of the terms' entire payload
    bytes (at 500k docs the driver path measured 1.2–1.8 s pulling
    192–288/192–288 blocks; the distributed path bounds the transfer by
    len(cand) regardless of corpus size).
    ``_doc_blocks`` substitutes ImpactEngine's cached doc-sorted scan."""
    from alexandria_spark.plans.query import _META_GUARD_ROWS, _decode_map

    shards = sorted({_shard_of(t, cfg.num_shards) for t in term_ids})
    src = _doc_blocks if _doc_blocks is not None else index.postings(spark)
    blocks = src.where(
        F.col("shard").isin(shards) & F.col("term_id").isin(list(term_ids))
    )
    if len(cand) == 0:
        return {}, 0

    def _complete_distributed() -> dict[int, float]:
        # ONE shuffle-free job when (cand x terms) is driver-small: decode,
        # filter to the candidate set inside the task (sorted-array
        # membership, no broadcast join), ship one (doc, score-f32) row per
        # (term, doc) hit, and sum doc-major on the driver — the exact
        # summation order of the driver-blocks path below, so the two
        # completions are bit-identical. Past the row cap (hot ORs with
        # huge candidate sets at scale), the previous shuffle+groupBy path
        # bounds the driver transfer by len(cand) regardless of term count.
        if len(cand) * len(term_ids) <= _P2_FLAT_MAX_ROWS:
            import pyspark.sql.types as T

            cu = np.sort(cand.view(np.uint64))
            schema = T.StructType([T.StructField("doc_id", T.LongType()),
                                   T.StructField("score", T.FloatType())])

            def fn(batches):
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    dec = decode_blocks(pdf)
                    du = dec["doc_id"].to_numpy().view(np.uint64)
                    pos = np.minimum(np.searchsorted(cu, du), len(cu) - 1)
                    hit = cu[pos] == du
                    if hit.any():
                        yield dec.loc[hit, ["doc_id", "score"]]

            pdf = blocks.mapInPandas(fn, schema).toPandas()
            if len(pdf) == 0:
                return {}
            dh = pdf["doc_id"].to_numpy(np.int64)
            sh = pdf["score"].to_numpy(np.float64)
            order = np.lexsort((sh, dh))
            dh, sh = dh[order], sh[order]
            uniq, starts = np.unique(dh, return_index=True)
            return dict(zip(uniq.tolist(),
                            np.add.reduceat(sh, starts).tolist()))
        keys = spark.createDataFrame(
            [(int(x),) for x in cand.tolist()], "doc_id long"
        )
        rows = (
            _decode_map(blocks)
            .join(F.broadcast(keys), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.sum(F.col("score").cast("double")).alias("s"))
            .collect()
        )
        return {int(r["doc_id"]): float(r["s"]) for r in rows}

    if _doc_meta_pinned is not None:  # warm engine: zero-job block pruning
        meta = _doc_meta_pinned[_doc_meta_pinned["term_id"].isin(term_ids)]
    else:
        meta = blocks.select("term_id", "salt", "block_id",
                             "min_doc", "max_doc").limit(_META_GUARD_ROWS + 1).toPandas()
    if len(meta) > _META_GUARD_ROWS:
        # metadata guard: skip driver-side block pruning entirely
        # (candidate set is bounded by the phase-1 prefix)
        return _complete_distributed(), -1
    if len(meta) == 0:
        return {}, 0
    cand_u = np.sort(cand.view(np.uint64))
    lo = meta["min_doc"].to_numpy(np.int64).view(np.uint64)
    hi = meta["max_doc"].to_numpy(np.int64).view(np.uint64)
    a = np.searchsorted(cand_u, lo, side="left")
    b = np.searchsorted(cand_u, hi, side="right")
    kept = meta[b > a]
    if len(kept) == 0:
        return {}, 0
    if len(kept) > _P2_MAX_DRIVER_BLOCKS:
        # pruning kept too much to ship to the driver — complete
        # distributed; blocks_fetched_p2 = -len(kept) marks the switch
        return _complete_distributed(), -int(len(kept))
    keys = spark.createDataFrame(kept[["term_id", "salt", "block_id"]])
    payload = blocks.join(
        F.broadcast(keys), ["term_id", "salt", "block_id"], "left_semi"
    ).toPandas()
    dec = decode_blocks(payload)
    du = dec["doc_id"].to_numpy().view(np.uint64)
    pos = np.minimum(np.searchsorted(cand_u, du), len(cand_u) - 1)
    hit = cand_u[pos] == du
    dh = dec["doc_id"].to_numpy()[hit]
    sh = dec["score"].to_numpy(np.float64)[hit]
    # one summand per (term, doc): deterministic f64 sum in doc-major order
    order = np.lexsort((sh, dh))
    dh, sh = dh[order], sh[order]
    uniq, starts = np.unique(dh, return_index=True)
    sums = np.add.reduceat(sh, starts)
    return dict(zip(uniq.tolist(), sums.tolist())), int(len(kept))


class ImpactEngine:
    """Warm serving over the impact-ordered layout — the QueryEngine /
    DocPartEngine analogue: both the impact table and the doc-sorted
    completion table are pinned in executor memory once, so per-query work
    is metadata lookups + lazy payload fetches against the in-memory
    columnar cache (no parquet IO, no re-planning). Early-termination
    semantics and `_stats` accounting are identical to the cold paths."""

    def __init__(self, spark: SparkSession, index: Index,
                 cfg: EngineConfig | None = None, cache: bool = True):
        self.spark = spark
        self.index = index
        self.cfg = cfg or index.config()
        self.blocks = spark.read.parquet(
            os.path.join(index.path, "postings_impact")
        )
        self.doc_blocks = index.postings(spark)
        self.meta_pinned: pd.DataFrame | None = None
        self.doc_meta_pinned: pd.DataFrame | None = None
        if cache:
            from alexandria_spark.plans.query import _META_GUARD_ROWS, cache_coalesce

            self.blocks = cache_coalesce(
                self.blocks, os.path.join(index.path, "postings_impact")
            ).cache()
            self.blocks.count()
            self.doc_blocks = cache_coalesce(
                self.doc_blocks, index.postings_path
            ).cache()
            self.doc_blocks.count()
            # one-time driver pin of BOTH tables' block metadata (payloads
            # stay on the executors) — a warm query then plans its walk and
            # its phase-2 pruning without any metadata jobs: the per-query
            # Spark jobs drop from ~5 to the 1-2 payload fetches. Guarded
            # exactly like every other driver metadata fetch: past
            # _META_GUARD_ROWS the engine serves identically via per-query
            # scans (None => cold-path behavior). The pinned copy is as
            # consistent as the cached scans it mirrors: both snapshot init
            # time, so staleness semantics are unchanged.
            m = (self.blocks.select("term_id", "salt", "block_id", "n",
                                    "max_score")
                 .limit(_META_GUARD_ROWS + 1).toPandas())
            self.meta_pinned = None if len(m) > _META_GUARD_ROWS else m
            dm = (self.doc_blocks.select("term_id", "salt", "block_id",
                                         "min_doc", "max_doc")
                  .limit(_META_GUARD_ROWS + 1).toPandas())
            self.doc_meta_pinned = None if len(dm) > _META_GUARD_ROWS else dm

    def single_topk(self, query: str, k: int = 10,
                    _stats: dict | None = None) -> list[tuple[int, float]]:
        return impact_single_topk(self.spark, self.index, query, k, self.cfg,
                                  _stats, _blocks=self.blocks,
                                  _meta_pinned=self.meta_pinned)

    def or_topk(self, query: str, k: int = 10,
                _stats: dict | None = None) -> list[tuple[int, float]]:
        return impact_or_topk(self.spark, self.index, query, k, self.cfg,
                              _stats, _blocks=self.blocks,
                              _doc_blocks=self.doc_blocks,
                              _meta_pinned=self.meta_pinned,
                              _doc_meta_pinned=self.doc_meta_pinned)

    def unpersist(self) -> None:
        self.blocks.unpersist()
        self.doc_blocks.unpersist()
