"""Doc-partitioned index layout: distributed WAND serving.

The term-partitioned layout (plans/build.py) mirrors the reference's
``key % num_shards`` sharding and is ideal for single-term lookups and
build-side merging. For multi-term top-k at cluster scale, search engines
partition by DOCUMENT instead (the reference's own cluster split is
host_hash % nodes, src/URL.h:76-78): every bucket holds the postings of ALL
terms for its slice of the doc space, so each executor runs the full
block-max WAND locally over its slice and only per-bucket top-k rows travel
to the driver — one Spark job, no global metadata, no driver-side decode.

Build: term_doc → term-sharded scoring pre-pass (blockify's one-shuffle
local-df machinery emitting scored postings — df never travels through a
vocabulary join) → bucket = hash(doc_id) % n_buckets → repartition(bucket)
→ sort (bucket, term, unsigned doc) → the SAME block builder (bucket rides
in the block's salt slot) → parquet partitioned by bucket. Two full-data
shuffles standalone; ONE when derived from a co-built term index
(rebuild_docpart_from_postings).

Query: scan pruned to the query terms (row-group stats on term_id inside
each bucket dir), groupBy(bucket).applyInPandas(per-bucket WAND kernel),
global TakeOrdered merge. A warm DocPartEngine over a table that fits the
driver pin budget runs the same kernel on the driver instead, with no job.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from alexandria_spark.config import DEFAULT, EngineConfig
from alexandria_spark.plans.blocks import build_blocks, decode_blocks
from alexandria_spark.plans.build import (
    MIN_I64,
    BLOCK_SCHEMA,
    Index,
    corpus_stats_pass,
    tokenize_docs,
)
from alexandria_spark.plans.checkpoint import parquet_dir_bytes
from alexandria_spark.plans.delete import (
    _deletes_small,
    filter_deleted,
    load_deleted_ids,
)
from alexandria_spark.plans.query import (
    RESULT_SCHEMA,
    PinnedBlocks,
    _query_term_ids,
    _result_frame,
    pin_budget,
    top_k,
)


class DocPartitionedIndex(Index):
    @property
    def postings_path(self) -> str:
        return os.path.join(self.path, "postings_doc")

    def postings(self, spark: SparkSession) -> DataFrame:
        # distinguish "layout never built" (clear error, not an
        # unresolved-column failure downstream) from "built over an empty
        # corpus" (empty relation WITH the bucket column, so searches
        # return zero rows like the term layout does)
        if not os.path.isdir(self.postings_path):
            raise FileNotFoundError(
                f"no doc-partitioned layout under {self.postings_path!r} — "
                f"build one with build_docpart_index (CLI: build_submit.py "
                f"--layout docpart|both), or query the term layout with "
                f"engine dist/bmw"
            )
        df = super().postings(spark)
        if "bucket" not in df.columns:  # the empty-build fallback schema
            df = df.withColumn("bucket", F.col("salt").cast("int"))
        return df


def build_docpart_index(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    cfg: EngineConfig = DEFAULT,
    n_buckets: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DocPartitionedIndex:
    n_buckets = n_buckets or cfg.num_shards
    os.makedirs(index_path, exist_ok=True)
    idx = DocPartitionedIndex(index_path)

    # corpus stats (same light pass as the term layout). The grouped stats
    # are vocab+docs-sized — persist them so the doc-length aggregate and
    # the hot-term pull read ONE tokenizer pass instead of re-tokenizing
    # the whole corpus for each (was two full passes; one is a pure win at
    # every scale)
    stats_pdf = (
        corpus_stats_pass(docs, cfg, id_col, text_col)
        .groupBy("kind", "key").agg(F.sum("val").alias("val"))
    ).persist()
    try:
        term_stats = stats_pdf.where(F.col("kind") == 1).select(
            F.col("key").alias("term_id"), F.col("val").alias("df")
        )
        dl = stats_pdf.where(F.col("kind") == 0)
        st = dl.agg(F.count("*").alias("n"), F.avg("val").alias("avg")).collect()[0]
        n_docs, avg_dl = int(st["n"] or 0), float(st["avg"] or 0.0)
        with open(os.path.join(index_path, "meta.json"), "w") as fh:
            json.dump(
                {"n_docs": n_docs, "avg_dl": avg_dl, "config": asdict(cfg),
                 "layout": "doc", "n_buckets": n_buckets,
                 "fingerprint": "docpart", "run_id": "docpart"}, fh,
            )

        # hot terms (df above the salt cap): a handful even at web scale —
        # their exact dfs ride in a broadcast dict, like the term layout
        hot_df = {
            int(r["term_id"]): int(r["df"])
            for r in term_stats.where(F.col("df") > cfg.max_postings_per_salt).collect()
        }
    finally:
        stats_pdf.unpersist()
    # TWO full-data shuffles total (was three): a term-sharded scoring
    # pre-pass (blockify's one-shuffle local-df machinery emitting scored
    # postings — no vocabulary-sized term_stats join), then the one
    # re-cluster by doc bucket that a doc-major layout inherently needs.
    # When a term-layout index is co-built (build_submit --layout both),
    # use rebuild_docpart_from_postings instead: deriving from the already
    # scored term blocks costs ONE shuffle.
    from alexandria_spark.plans.build import blockify

    td = tokenize_docs(docs, cfg, id_col, text_col)
    scored = blockify(td, cfg, n_docs, avg_dl, hot_df, emit_postings=True)
    scored = scored.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")
    ).select("term_id", "salt", "doc_id", "tf", "score")
    blocks = _scored_to_docpart_blocks(scored, cfg)
    blocks.write.partitionBy("bucket").mode("overwrite").parquet(idx.postings_path)
    from alexandria_spark.plans.snapshots import commit_snapshot

    commit_snapshot(index_path, "build_docpart", {"n_buckets": n_buckets})
    return idx


def _scored_to_docpart_blocks(scored: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(term_id, salt, doc_id, tf, score) rows → per-(bucket, term) encoded
    blocks with a ``bucket`` partition column (salt IS the doc bucket)."""
    parts = scored.repartition(cfg.shuffle_partitions, "salt").sortWithinPartitions(
        F.col("salt"), F.col("term_id"), F.col("doc_id").bitwiseXOR(F.lit(MIN_I64))
    )
    block_size = cfg.block_size
    # a source that carries no tf column (e.g. re-derived from a
    # keep_tf=False index) encodes without tf regardless of cfg
    keep_tf = cfg.keep_tf and "tf" in scored.columns
    cols = [c for c in ("term_id", "salt", "doc_id", "score", "tf")
            if c in scored.columns]

    def fn(batches):
        # one bucket's rows arrive contiguously; group integrity across Arrow
        # batches is handled the same way as the term layout (tail buffering)
        buf: list[pd.DataFrame] = []
        tail_key = None

        def _finish(pdf):
            # build_blocks groups by (term_id, salt): salt is constant per
            # bucket run, so blocks are per (bucket, term) — what WAND wants
            out = build_blocks(
                pdf.sort_values(["salt", "term_id"], kind="stable")
                   .reset_index(drop=True)[cols],
                block_size, keep_tf,
            )
            out["shard"] = out["salt"].astype(np.int32)
            return out

        for pdf in batches:
            pdf = pdf[cols]
            if len(pdf) == 0:
                continue
            t = pdf["term_id"].to_numpy()
            sbk = pdf["salt"].to_numpy()
            first_key = (int(sbk[0]), int(t[0]))
            if buf and first_key != tail_key:
                yield _finish(pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0])
                buf = []
            not_tail = (t != t[-1]) | (sbk != sbk[-1])
            idx_ = np.nonzero(not_tail)[0]
            if len(idx_):
                cut = int(idx_[-1]) + 1
                head, tail = pdf.iloc[:cut], pdf.iloc[cut:]
                if buf:
                    head = pd.concat(buf + [head], ignore_index=True)
                    buf = []
                yield _finish(head)
                buf = [tail.reset_index(drop=True)]
            else:
                buf.append(pdf)
            tail_key = (int(sbk[-1]), int(t[-1]))
        if buf:
            whole = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            if len(whole):
                yield _finish(whole)

    return parts.mapInPandas(fn, BLOCK_SCHEMA).withColumn("bucket", F.col("salt"))


def rebuild_docpart_from_postings(spark: SparkSession, index_path: str,
                                  cfg: EngineConfig,
                                  n_buckets: int | None = None
                                  ) -> DocPartitionedIndex:
    """Re-derive the doc-partitioned table from the CURRENT term-sharded
    postings (decode → re-bucket → re-encode, atomic swap) — called whenever
    the source-of-truth postings are rewritten (rebuild / compact / partial
    refresh), so the doc layout can never serve stale or resurrected docs.
    Deriving from the postings (not from term_doc) guarantees byte-level
    score identity between the two layouts."""
    from alexandria_spark.plans.checkpoint import atomic_swap_dir, recover_swap

    idx = DocPartitionedIndex(index_path)
    if n_buckets is None:
        # honor the layout's own bucket count: meta.json when the docpart
        # build wrote it last, else the existing partition dirs (a term
        # rebuild may have clobbered meta), else the config default
        try:
            n_buckets = int(idx.meta().get("n_buckets") or 0) or None
        except (OSError, ValueError):
            n_buckets = None
        if n_buckets is None and os.path.isdir(idx.postings_path):
            seen = [int(d.split("=", 1)[1]) for d in os.listdir(idx.postings_path)
                    if d.startswith("bucket=")]
            n_buckets = max(seen) + 1 if seen else None
        n_buckets = n_buckets or cfg.num_shards
    src_idx = Index(index_path)
    # keep_tf honesty: a keep_tf=False source stores NO tf payload, and
    # decode_blocks would silently backfill tf=0 — a maintenance rebuild
    # must not diverge from a fresh build by writing zeroed tfs. Derive the
    # effective keep_tf from the source's own build config.
    try:
        src_keep_tf = bool(getattr(src_idx.config(), "keep_tf", True))
    except (OSError, ValueError, KeyError):
        src_keep_tf = True
    want_tf = cfg.keep_tf and src_keep_tf
    blocks = src_idx.postings(spark)

    def decode_fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dec = decode_blocks(pdf, want_tf=want_tf)
            yield dec[["term_id", "doc_id", "score"]
                      + (["tf"] if want_tf else [])]

    import pyspark.sql.types as T

    dec_schema = T.StructType(
        [
            T.StructField("term_id", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("score", T.FloatType()),
        ]
        + ([T.StructField("tf", T.LongType())] if want_tf else [])
    )
    scored = blocks.mapInPandas(decode_fn, dec_schema).withColumn(
        "salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")
    ).select("term_id", "salt", "doc_id", "score",
             *(["tf"] if want_tf else []))
    out = _scored_to_docpart_blocks(scored, cfg)
    recover_swap(idx.postings_path)
    tmp = idx.postings_path.rstrip("/") + "_rebuilding"
    out.write.partitionBy("bucket").mode("overwrite").parquet(tmp)
    atomic_swap_dir(tmp, idx.postings_path)
    from alexandria_spark.plans.snapshots import commit_snapshot

    commit_snapshot(index_path, "docpart_rebuild", {"n_buckets": n_buckets})
    return idx


def search_docpart(
    spark: SparkSession,
    index: DocPartitionedIndex,
    query: str,
    mode: str = "and",
    k: int = 10,
    cfg: EngineConfig | None = None,
    _blocks: DataFrame | None = None,
    _pinned: PinnedBlocks | None = None,
) -> DataFrame:
    """One-job distributed WAND: per-bucket exact top-k on executors via the
    shared kernel, global TakeOrdered merge. Returns (doc_id, score, n_terms).

    ``k=None`` returns EVERY match unranked (AND mode only — an unbounded
    OR is the whole disjunction, which no caller wants): the candidate feed
    for a serve pipeline whose boosts re-rank before truncation.

    ``_blocks`` (a cached scan) or ``_pinned`` (the whole table in driver
    RAM, answered by the same kernel with no Spark job) are how
    ``DocPartEngine`` substitutes its warm state. Either way tombstoned docs
    are dropped before any top-k truncation."""
    cfg = cfg or index.config()
    term_ids = _query_term_ids(query, mode, cfg)
    if not term_ids:
        return _result_frame(spark)
    kernel_mode = "and" if mode == "and" else "or"
    if k is None and kernel_mode == "or":
        raise ValueError("k=None (full candidate set) requires mode='and'")
    # AND results match every term by construction; the OR kernel does not
    # track per-doc match counts
    n_terms = len(term_ids) if kernel_mode == "and" else 0
    if _pinned is not None:
        docs_u, scores = _pinned.topk(term_ids, kernel_mode, k,
                                      lambda: load_deleted_ids(spark, index))
        return _result_frame(spark, docs_u, scores, n_terms)
    source = _blocks if _blocks is not None else index.postings(spark)
    if "bucket" not in source.columns:
        raise FileNotFoundError(
            f"no doc-partitioned layout under {index.postings_path!r} — build "
            f"one with build_docpart_index (CLI: build_submit.py --layout "
            f"docpart|both), or query the term layout with engine dist/bmw"
        )
    blocks = source.where(F.col("term_id").isin(term_ids))

    # tombstones go into the kernel, before the per-bucket truncation; a
    # mass deletion (too big to ship to every task) instead keeps every
    # per-bucket match and anti-joins the tombstones on the executors
    mass_delete = not _deletes_small(index)
    deleted = None if mass_delete else load_deleted_ids(spark, index)
    k_bucket = None if mass_delete else k

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        docs_u, scores = PinnedBlocks(pdf).topk(term_ids, kernel_mode, k_bucket,
                                                lambda: deleted)
        return pd.DataFrame({"doc_id": docs_u.view(np.int64),
                             "score": scores,
                             "n_terms": np.full(len(docs_u), n_terms, np.int32)})

    per = blocks.groupBy("bucket").applyInPandas(per_bucket, RESULT_SCHEMA)
    if mass_delete:
        per = filter_deleted(spark, index, per)
    return per if k is None else top_k(per, k)


class DocPartEngine:
    """Warm serving over the doc-partitioned layout — the ``QueryEngine``
    analogue (plans/query.py) for the layout whose per-bucket evaluation
    already runs executor-side. The reference's counterpart is its
    RAM-cached reader pool (index_reader.cpp:59-89) on a doc-split cluster
    (URL.h:76-78 host_hash % nodes).

    A table within the driver pin budget (``pin_budget``:
    ``LocalIndex.MAX_PIN_BYTES``, capped at a quarter of
    ``spark.driver.maxResultSize`` and of the driver heap) is pinned on the
    driver at init, and each query runs the shared WAND kernel there over
    its terms' blocks, returning a local relation. A larger table, or one
    whose collect fails at init, is pinned in executor memory instead,
    clustered by bucket, so each query is one cached-scan job (filter on
    term_id in memory → per-bucket WAND → TakeOrdered) with no parquet IO
    or re-planning.

    Tombstones are read per query, so deletes made after init are hidden.
    While ``deletes/`` is absent that costs nothing and a pinned query runs
    no Spark job. Once it exists, every query with a present term (the
    pinned path) or with any term (the executor path) also runs
    ``load_deletes``: the tombstones joined against a ``doc_lengths`` scan
    and collected to the driver, 4-5 Spark jobs."""

    def __init__(self, spark: SparkSession, index: DocPartitionedIndex,
                 cfg: EngineConfig | None = None):
        self.spark = spark
        self.index = index
        self.cfg = cfg or index.config()
        self.pinned: PinnedBlocks | None = None
        self.blocks: DataFrame | None = None
        table_bytes = parquet_dir_bytes(index.postings_path)
        if table_bytes <= pin_budget(spark):
            try:
                self.pinned = PinnedBlocks.load(spark, index)
                return
            except (Py4JJavaError, MemoryError):
                # the collect outgrew spark.driver.maxResultSize or the
                # driver's memory despite the budget's headroom
                pass
        # about 64 MiB per pinned partition, capped at shuffle_partitions;
        # re-clustering by bucket balances the per-query kernel tasks
        parts = min(self.cfg.shuffle_partitions, max(1, -(-table_bytes // (64 << 20))))
        self.blocks = index.postings(spark).repartition(parts, F.col("bucket")).cache()
        self.blocks.count()  # materialize the cache once

    def search(self, query: str, mode: str = "and", k: int = 10) -> DataFrame:
        return search_docpart(self.spark, self.index, query, mode=mode, k=k,
                              cfg=self.cfg, _blocks=self.blocks,
                              _pinned=self.pinned)

    def unpersist(self) -> None:
        if self.blocks is not None:
            self.blocks.unpersist()
