"""Document deletion: tombstones + compaction.

The reference's doc store supports remove/versioning (hash_table tests,
tests/test_hash_table.cpp) while its immutable index shards are rebuilt
offline. The Spark-native equivalent: deletes append doc ids to a tombstone
table (query paths anti-filter it — cheap, immediate), and ``compact``
physically rebuilds postings + stats from the retained documents (BM25
refreshes, like the reference's calculate_scores after a rebuild).
"""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans.build import Index
from alexandria_spark.plans.checkpoint import atomic_swap_dir, recover_swap
from alexandria_spark.plans.merge import rebuild_from_term_doc


def deletes_path(index: Index) -> str:
    return os.path.join(index.path, "deletes")


def delete_docs(spark: SparkSession, index: Index, doc_ids) -> None:
    """Tombstone doc ids (list[int] or a DataFrame with a doc_id column).

    The tombstone records the CURRENT ingest version — "delete every
    version up to and including v" (the reference hash table's versioned
    remove). A later re-ingest gets a higher version and escapes the
    tombstone, so delete→re-ingest needs no interposed compact."""
    from alexandria_spark.plans.versioning import current_version

    v = current_version(index.path)
    if isinstance(doc_ids, DataFrame):
        df = doc_ids.select("doc_id")
    else:
        df = spark.createDataFrame([(int(d),) for d in doc_ids], ["doc_id"])
    df.withColumn("version", F.lit(v).cast("long")).write.mode(
        "append").parquet(deletes_path(index))


def load_tombstones(spark: SparkSession, index: Index) -> DataFrame | None:
    """Raw tombstones as (doc_id, del_version), max per doc — the shape the
    physical paths (compact / doc-store GC) filter rows against. Tombstone
    files written before versioning read as LEGACY_DELETE_VERSION (hide
    every version until a compact clears them)."""
    from alexandria_spark.plans.versioning import LEGACY_DELETE_VERSION

    p = deletes_path(index)
    if not os.path.exists(p):
        return None
    df = spark.read.parquet(p)
    if "version" not in df.columns:
        df = df.withColumn("version", F.lit(LEGACY_DELETE_VERSION))
    return df.groupBy("doc_id").agg(
        F.coalesce(F.max("version"), F.lit(LEGACY_DELETE_VERSION))
        .alias("del_version")
    )


def load_deletes(spark: SparkSession, index: Index) -> DataFrame | None:
    """The EFFECTIVE hidden doc set: docs whose current version (per the
    last-refreshed doc_lengths) is <= their tombstoned version. A doc
    re-ingested at a higher version AND folded in by a refresh escapes its
    tombstone; one re-ingested but not yet refreshed stays hidden (its
    servable postings are still the old content). Returns (doc_id) rows —
    every serving path anti-joins / sorted-array-drops this set unchanged."""
    from alexandria_spark.plans.versioning import read_versioned

    tombs = load_tombstones(spark, index)
    if tombs is None:
        return None
    dl_path = os.path.join(index.path, "doc_lengths")
    if not os.path.exists(dl_path):
        return tombs.select("doc_id")
    # slim two-column scan of doc_lengths joined to the (small) tombstone
    # set; output is at most the tombstone count
    dl = read_versioned(spark, dl_path).select(
        "doc_id", F.col("version").alias("cur_version"))
    eff = (
        tombs.join(dl, "doc_id", "left")
        .where(F.col("cur_version").isNull()
               | (F.col("cur_version") <= F.col("del_version")))
        .select("doc_id")
    )
    return eff


def load_deleted_ids(spark: SparkSession, index: Index) -> np.ndarray | None:
    """``load_deletes`` collected for a driver-side drop: the sorted
    unsigned doc ids (np.uint64), or None when there are no tombstones.
    Arrow toPandas, not collect(): Row objects cost ~100x the numpy bytes."""
    dels = load_deletes(spark, index)
    if dels is None:
        return None
    return np.sort(dels.toPandas()["doc_id"].to_numpy(np.int64).view(np.uint64))


# tombstone files up to this size get the broadcast hint; past it (a mass
# deletion at scale) the anti-join falls back to Catalyst/AQE's own join
# choice instead of forcing a giant broadcast through the driver
_BROADCAST_DELETES_MAX_BYTES = 64 * 1024 * 1024


def _deletes_small(index: Index) -> bool:
    from alexandria_spark.plans.checkpoint import parquet_dir_bytes

    return parquet_dir_bytes(deletes_path(index)) <= _BROADCAST_DELETES_MAX_BYTES


def filter_deleted(spark: SparkSession, index: Index, results: DataFrame) -> DataFrame:
    """Anti-join results against the tombstones (no-op without any). Small
    tombstone sets broadcast; large ones let AQE pick the join strategy."""
    dels = load_deletes(spark, index)
    if dels is None:
        return results
    if _deletes_small(index):
        dels = F.broadcast(dels)
    return results.join(dels, "doc_id", "left_anti")


def compact(spark: SparkSession, index: Index,
            cfg: EngineConfig | None = None,
            doc_store: str | None = None,
            doc_store_buckets: int | None = None) -> Index:
    """Physically drop tombstoned docs: rebuild postings/stats from the
    retained term_doc rows, then clear the tombstones. Requires the index
    to have been built with materialize_stage1=True.

    ``doc_store`` names the bucketed doc-store table paired with this index
    (the one streaming ingest appends to): when given, compaction also
    physically removes the tombstoned docs' raw payloads from the store
    (gc_doc_store — the reference's hash_table remove,
    /root/reference/tests/test_hash_table.cpp), so a data-retention delete
    leaves no bytes behind anywhere."""
    from alexandria_spark.plans.versioning import (
        latest_versions_only,
        read_versioned,
        version_span,
    )

    cfg = cfg or index.config()
    td_path = os.path.join(index.path, "term_doc")
    recover_swap(td_path)  # repair a crash from a previous compact
    if not os.path.exists(td_path):
        raise ValueError("compact requires a materialized stage-1 term_doc table")
    dels = load_tombstones(spark, index)
    td = read_versioned(spark, td_path).select(
        "doc_id", "term_id", "shard", "tf", "doc_len", "version")
    # physical cleanup is row-level and version-aware: a tombstone at
    # del_version drops only rows up to that version, so a doc re-ingested
    # AFTER its delete keeps the new version's postings through the compact
    # (no more delete→re-ingest→compact data loss); superseded versions of
    # updated docs are dropped too — compact leaves exactly one live
    # version per surviving doc
    vmin, vmax = version_span(td)
    if vmin != vmax:
        td = latest_versions_only(td)
    if dels is not None:
        if _deletes_small(index):
            dels = F.broadcast(dels)
        td = td.join(dels, "doc_id", "left").where(
            F.col("del_version").isNull()
            | (F.col("version") > F.col("del_version"))
        ).drop("del_version")
    if doc_store is not None:
        from alexandria_spark.sources.docstore import gc_doc_store

        # GC the paired store even with zero tombstones: an update-only
        # workload still leaves superseded payload versions behind, and
        # compact is the op whose contract is "one live version, no dead
        # bytes, anywhere"
        tomb = dels if dels is not None else spark.createDataFrame(
            [], "doc_id long, del_version long")
        if not gc_doc_store(tomb, doc_store, doc_store_buckets):
            # abort BEFORE the postings rewrite clears the tombstones:
            # silently proceeding would orphan the deleted payloads with
            # no surviving record of what to GC (retention violation)
            raise ValueError(
                f"doc_store table {doc_store!r} found in neither the "
                f"catalog nor the warehouse — compact aborted with "
                f"tombstones retained; check the store name or run "
                f"compact without --doc-store"
            )
    # rewrite term_doc first so future compactions/merges see the new truth;
    # old copy is parked at term_doc_old until the new one is in place, so a
    # crash mid-swap never destroys the only stage-1 source of truth.
    tmp = td_path + "_compacting"
    td.withColumn("wave", F.pmod(F.col("shard"), F.lit(cfg.build_waves))).write.partitionBy(
        "wave"
    ).mode("overwrite").parquet(tmp)
    atomic_swap_dir(tmp, td_path)
    import shutil
    idx = rebuild_from_term_doc(
        spark, read_versioned(spark, td_path), index.path, cfg,
        run_id="compact", versions_resolved=True
    )
    p = deletes_path(index)
    if os.path.exists(p):
        shutil.rmtree(p)
    return idx
