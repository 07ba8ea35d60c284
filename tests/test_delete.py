"""Tombstone deletes + compaction (doc-store remove/versioning analogue)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans.build import build_index, with_doc_ids
from alexandria_spark.plans.delete import compact, delete_docs
from alexandria_spark.plans.query import LocalIndex, QueryEngine, search
from alexandria_spark.sources.tables import synth_corpus, synth_corpus_pdf
from tests.oracle import OracleIndex

CFG = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                   build_waves=1, max_postings_per_salt=64)


def test_delete_and_compact(spark, tmp_path):
    docs = with_doc_ids(synth_corpus(spark, 80, seed=33))
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG, text_col="content")

    before = [r.doc_id for r in search(spark, idx, "def", "or", k=5).collect()]
    assert before
    victims = before[:2]
    delete_docs(spark, idx, victims)

    # all three query paths hide tombstoned docs immediately
    after = [r.doc_id for r in search(spark, idx, "def", "or", k=5).collect()]
    assert not set(victims) & set(after)
    local = LocalIndex(spark, idx, CFG)
    assert not set(victims) & {d for d, _ in local.search("def", "or", 5)}
    qe = QueryEngine(spark, idx, CFG, cache=False)
    assert not set(victims) & {r.doc_id for r in qe.search("def", "or", 5).collect()}
    from alexandria_spark.plans.query import search_bmw

    assert not set(victims) & {d for d, _ in search_bmw(spark, idx, "def", "or", 5, CFG)}

    # compaction rebuilds: identical to a fresh build over the retained docs
    compact(spark, idx, CFG)
    retained = docs.where(~F.col("doc_id").isin([int(v) for v in victims]))
    clean = build_index(spark, retained, str(tmp_path / "clean"), CFG, text_col="content")
    a = sorted(map(tuple, idx.postings(spark).drop("wave", "salt", "block_id").collect()))
    b = sorted(map(tuple, clean.postings(spark).drop("wave", "salt", "block_id").collect()))
    assert a == b
    assert idx.meta()["n_docs"] == clean.meta()["n_docs"]

    # post-compaction scores are rank-identical to the oracle on retained docs
    pdf = synth_corpus_pdf(80, seed=33)
    ids = {r["path"]: r["doc_id"] for r in docs.select("path", "doc_id").collect()}
    oracle = OracleIndex(
        [(ids[r.path], r.content) for r in pdf.itertuples() if ids[r.path] not in victims],
        CFG,
    )
    got = LocalIndex(spark, idx, CFG).search("def return", "and", 10)
    exp = oracle.search("def return", "and", 10)
    assert [d for d, _ in got] == [d for d, _ in exp]


def test_compact_multiwave_no_stale_partitions(spark, tmp_path):
    """Regression: compact() over an index built with build_waves>1 must not
    leave the old wave=1..N-1 (or vanished-shard) posting partitions behind —
    stale partitions mean duplicated postings and resurrected tombstones."""
    cfg = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                       build_waves=4, max_postings_per_salt=64)
    docs = with_doc_ids(synth_corpus(spark, 60, seed=44))
    idx = build_index(spark, docs, str(tmp_path / "idx"), cfg, text_col="content")

    # delete almost everything so entire shards (and all waves > 0) empty out
    all_ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    keep, victims = all_ids[:5], all_ids[5:]
    delete_docs(spark, idx, victims)
    compact(spark, idx, cfg)

    retained = docs.where(F.col("doc_id").isin([int(k) for k in keep]))
    clean = build_index(spark, retained, str(tmp_path / "clean"), cfg, text_col="content")
    a = sorted(map(tuple, idx.postings(spark).drop("wave", "salt", "block_id").collect()))
    b = sorted(map(tuple, clean.postings(spark).drop("wave", "salt", "block_id").collect()))
    assert a == b  # no duplicates, no resurrected docs, no stale shards
    assert idx.meta()["n_docs"] == len(keep)

    # queries over the compacted index see only retained docs
    hits = {r.doc_id for r in search(spark, idx, "def", "or", k=50).collect()}
    assert hits <= set(keep)


def test_compact_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the two renames of the term_doc swap leaves only
    term_doc_old; the next compact must restore it and proceed."""
    import os

    docs = with_doc_ids(synth_corpus(spark, 30, seed=55))
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG, text_col="content")
    td = os.path.join(idx.path, "term_doc")

    # crash shape 1: dst missing, _old dangling
    os.replace(td, td + "_old")
    delete_docs(spark, idx, [0])
    compact(spark, idx, CFG)
    assert os.path.exists(td) and not os.path.exists(td + "_old")
    hits = {r.doc_id for r in search(spark, idx, "def", "or", k=50).collect()}
    assert 0 not in hits

    # crash shape 2: both present (crash after the new dir landed) -> _old dropped
    import shutil

    shutil.copytree(td, td + "_old")
    compact(spark, idx, CFG)
    assert os.path.exists(td) and not os.path.exists(td + "_old")


def test_compact_rederives_docpart(spark, tmp_path):
    """Compaction must re-derive the doc-partitioned layout: its tombstone
    filter disappears with the tombstones, so a stale postings_doc would
    resurrect every compacted doc through the fastest warm engine."""
    from alexandria_spark.plans.docpart import build_docpart_index, search_docpart

    docs = with_doc_ids(synth_corpus(spark, 60, seed=31))
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG,
                      text_col="content")
    dp = build_docpart_index(spark, docs, str(tmp_path / "idx"), CFG,
                             text_col="content")

    before = search_docpart(spark, dp, "def", "or", 20, CFG).collect()
    assert before
    victim = before[0]["doc_id"]
    delete_docs(spark, idx, [victim])
    idx = compact(spark, idx, CFG)

    after = search_docpart(spark, dp, "def", "or", 20, CFG).collect()
    assert victim not in {r["doc_id"] for r in after}
    # the re-derived doc layout is rank- and score-identical to the
    # term layout on the compacted index
    expect = [(r["doc_id"], round(r["score"], 6))
              for r in search(spark, idx, "def", "or", 20, CFG).collect()]
    got = [(r["doc_id"], round(r["score"], 6)) for r in after]
    assert got == expect


def test_tombstones_do_not_take_topk_slots(spark, tmp_path, monkeypatch):
    """Deleting a query's top docs must leave k live answers in every
    engine: tombstones are dropped before any top-k truncation (per
    bucket in the doc-partitioned engines) and never count toward the OR
    kernel's quit threshold. The engines are built before the delete, so
    this also covers deletes made after a warm engine's init. A tombstone
    set too large to ship to executor tasks takes the executor path's
    untruncated anti-join instead, with the same answers."""
    from alexandria_spark.plans import delete as delete_mod
    from alexandria_spark.plans.docpart import (
        DocPartEngine,
        rebuild_docpart_from_postings,
        search_docpart,
    )

    docs = with_doc_ids(synth_corpus(spark, 80, seed=33))
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG, text_col="content")
    dp = rebuild_docpart_from_postings(spark, idx.path, CFG, n_buckets=1)
    pinned = DocPartEngine(spark, dp, CFG)
    with monkeypatch.context() as m:  # a zero pin budget: executor cache
        m.setattr(LocalIndex, "MAX_PIN_BYTES", 0)
        cached = DocPartEngine(spark, dp, CFG)
    assert pinned.pinned is not None and cached.pinned is None

    victims = [r.doc_id for r in search(spark, idx, "def", "or", k=5).collect()][:3]
    assert len(victims) == 3
    delete_docs(spark, idx, victims)
    exp = [(r.doc_id, r.score) for r in search(spark, idx, "def", "or", k=3).collect()]
    assert len(exp) == 3 and not set(victims) & {d for d, _ in exp}

    def rows(df):
        return [(r.doc_id, r.score) for r in df.collect()]

    try:
        got = {
            "search_docpart": rows(search_docpart(spark, dp, "def", "or", 3, CFG)),
            "docpart_pinned": rows(pinned.search("def", "or", 3)),
            "docpart_cached": rows(cached.search("def", "or", 3)),
            "local": LocalIndex(spark, idx, CFG).search("def", "or", 3),
            "query_engine": rows(QueryEngine(spark, idx, CFG, cache=False)
                                 .search("def", "or", 3)),
        }
        monkeypatch.setattr(delete_mod, "_BROADCAST_DELETES_MAX_BYTES", 0)
        got["search_docpart_mass"] = rows(search_docpart(spark, dp, "def", "or", 3, CFG))
        got["docpart_cached_mass"] = rows(cached.search("def", "or", 3))
    finally:
        cached.unpersist()
    for name, g in got.items():
        assert [d for d, _ in g] == [d for d, _ in exp], name
        assert np.allclose([s for _, s in g], [s for _, s in exp], rtol=1e-9), name
