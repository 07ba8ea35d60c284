"""The three workloads: build, serve and maintain.

Each drives the library only through its public functions, the way the
command-line entry points do, and checks every answer against the
brute-force oracle after the timed region.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import corpus
from perfbench.oracle import OracleState, Postings, same_topk
from perfbench.spans import error_class

K = 10
# At these sizes set-up and per-query cost are dominated by fixed Spark
# overhead, not data volume: on a 4-core host the first build in a process
# takes about 19 s for 500 documents and 20 s for 800, a second one about
# 6 s. So the indexes stay small and a run's time goes to measured windows.
BUILD_DOCS = 800         # one build, about 20 s
BUILD_QUERIES = 13       # one per query kind, checked on the built index
SERVE_DOCS = 800
SERVE_QUERIES = 78       # six per kind; a 20-s window runs about 50, in a mix-keeping order
SERVE_RAMP_S = 2.0
MAINTAIN_DOCS = 800
MAINTAIN_QUERIES = 13    # one read round: one query per kind
MAINTAIN_BATCH = 56      # 7% of the index: the second fold crosses the
MAINTAIN_CYCLES = 2      # 10% staleness ratio and escalates to a full refresh
VICTIMS_PER_CYCLE = 3


@dataclass
class Op:
    kind: str            # "query" | "fold" | "build"
    start: float
    end: float = 0.0
    ok: bool = True
    error: str | None = None
    shape: str | None = None
    route: str | None = None
    query: int | None = None
    hits: list = field(default_factory=list, repr=False)
    paused: float = 0.0  # time inside [start, end] spent on other ops

    @property
    def wall(self) -> float:
        return self.end - self.start - self.paused


def write_table(df, path: str) -> int:
    """Write a generated table as parquet; returns its content bytes."""
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return int(df["content"].str.len().sum())


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def file_ids(path: str) -> dict[str, tuple[int, int]]:
    """path -> (inode, size) for every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_ino, st.st_size)
    return out


def in_window(ops: list[Op], t0: float) -> list[Op]:
    """The queries that started after the ramp: the latency samples."""
    return [o for o in ops if o.start >= t0]


def rate(ops: list[Op], t0: float, t1: float) -> float:
    """Successful queries per second over ``[t0, t1]``, each query counted
    by the share of its duration inside the window, so the rate is not
    quantized to whole queries."""
    done = sum((min(o.end, t1) - max(o.start, t0)) / o.wall
               for o in ops if o.ok and o.end > t0 and o.start < t1 and o.wall > 0)
    return done / (t1 - t0)


def pct(values, q: float) -> float:
    """q-th percentile (0-100) by linear interpolation; NaN when empty."""
    return float(np.percentile(values, q)) if len(values) else float("nan")


class Bench:
    """State shared by the workloads of one run."""

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer,
                 nproc: int):
        from alexandria_spark.config import EngineConfig

        self.spark, self.sc = spark, spark.sparkContext
        self.work, self.seed, self.seconds = work, seed, seconds
        self.tr, self.nproc = tracer, nproc
        # fixed here so a change of library defaults cannot shift the
        # workload; shuffle width follows the host's cores
        self.cfg = EngineConfig(num_shards=16, build_waves=2,
                                shuffle_partitions=nproc)
        self.ops: list[Op] = []
        self.facts: dict = {}      # per-layer facts not carried by spans

    # ------------------------------------------------------------ build
    def servable_build(self, src: str, index: str) -> None:
        """All layouts ``--engine auto`` needs, as the build CLI makes them."""
        from alexandria_spark.plans.build import Index, build_index, with_doc_ids
        from alexandria_spark.plans.docpart import rebuild_docpart_from_postings
        from alexandria_spark.plans.impact import build_impact_postings

        tr, cfg = self.tr, self.cfg
        with tr.span("bench.build"):
            docs = with_doc_ids(self.spark.read.parquet(src))
            with tr.span("plans.build.build_index"):
                build_index(self.spark, docs, index, cfg, text_col="content")
            with tr.span("plans.docpart.rebuild"):
                rebuild_docpart_from_postings(self.spark, index, cfg)
            with tr.span("plans.impact.derive"):
                build_impact_postings(self.spark, Index(index), cfg)

    def record_index(self, index: str, input_bytes: int) -> None:
        """Index size per input byte, whole and per table; the build's own
        checkpoint records give its stage wall times."""
        from alexandria_spark.plans.build import Index

        tables = {t: dir_bytes(os.path.join(index, t)) / input_bytes
                  for t in ("term_doc", "postings", "postings_doc",
                            "postings_impact", "doc_lengths")}
        recs = {r["unit"]: r.get("wall_ms", 0) / 1000.0
                for r in Index(index).checkpoints()}
        self.facts["index"] = {
            "ratio": dir_bytes(index) / input_bytes, "tables": tables,
            "stage1_s": recs.get("stage1_term_doc", 0.0),
            "stage2_s": recs.get("stage2_stats", 0.0),
            "waves_s": sum(v for k, v in recs.items() if k.startswith("wave_")),
        }

    # ------------------------------------------------------------ queries
    def routed(self, index: str, query: str, mode: str, warm=None):
        """One query routed the way ``query_submit.py --engine auto`` routes
        it: cold function-level calls, or the warm engines when given."""
        from alexandria_spark.plans.build import Index
        from alexandria_spark.plans.query import choose_engine

        tr = self.tr
        idx = Index(index)
        cfg = warm.cfg if warm else idx.config()
        with tr.span("plans.query.choose_engine"):
            engine = choose_engine(query, mode, cfg)
        if engine == "docpart":
            from alexandria_spark.plans.docpart import DocPartitionedIndex, search_docpart

            name = "plans.docpart.search" if warm else "plans.docpart.search_cold"
            with tr.span(name):
                df = (warm.docpart.search(query, mode, K) if warm else
                      search_docpart(self.spark, DocPartitionedIndex(index),
                                     query, mode, K))
                hits = [(r.doc_id, r.score) for r in df.collect()]
        elif engine == "impact":
            from alexandria_spark.plans.impact import impact_or_topk, impact_single_topk

            name = "plans.impact.topk" if warm else "plans.impact.topk_cold"
            with tr.span(name):
                if warm:
                    fn = warm.impact.or_topk if mode == "or" else warm.impact.single_topk
                    hits = fn(query, K)
                else:
                    fn = impact_or_topk if mode == "or" else impact_single_topk
                    hits = fn(self.spark, idx, query, K)
        else:
            from alexandria_spark.plans.query import search

            with tr.span("plans.query.search"):
                hits = [(r.doc_id, r.score) for r in
                        search(self.spark, idx, query, mode, K).collect()]
        return engine, hits

    def closed_loop(self, clients: int, queries: list, order: list[int],
                    call, seconds: float | None = None, ramp: float = 0.0,
                    label: str = "q") -> tuple[list[Op], float, float]:
        """``clients`` threads, each sending its next query only when the
        previous answer is back, each in its own FAIR pool. Runs for ``ramp``
        plus ``seconds``, or without ``seconds`` for one pass over ``order``.
        Returns every query and the measured window ``(t0, t1)``; queries
        still in flight at ``t1`` are waited for, so no latency sample is cut
        short. :func:`in_window` and :func:`rate` pick
        the measured ones."""
        ops: list[Op] = []
        lock = threading.Lock()
        cursor = [0]
        t_start = time.perf_counter()
        t0 = t_start + ramp
        stop_at = t0 + seconds if seconds else None
        t1 = [stop_at]

        def next_query():
            with lock:
                i = cursor[0]
                cursor[0] += 1
            if stop_at is None:
                return order[i] if i < len(order) else None
            return order[i % len(order)]

        def more():
            return stop_at is None or time.perf_counter() < stop_at

        def client(c: int):
            self.sc.setLocalProperty("spark.scheduler.pool", f"{label}{c}")
            j = 0
            while more():
                qi = next_query()
                if qi is None:
                    break
                shape, q, mode = queries[qi]
                op = Op("query", time.perf_counter(), shape=shape, query=qi)
                with self.tr.request(f"{label}:{c}:{j}"):
                    with self.tr.span("bench.request"):
                        try:
                            op.route, op.hits = call(q, mode)
                        except Exception as exc:  # recorded, loop goes on
                            op.ok, op.error = False, error_class(exc)
                op.end = time.perf_counter()
                ops.append(op)
                j += 1
            with lock:
                if stop_at is None:
                    t1[0] = max(t1[0] or 0.0, time.perf_counter())

        threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return ops, t0, t1[0]

    def check(self, ops: list[Op], queries: list, states) -> None:
        """Mark every answered query that differs from the oracle as failed.
        ``states(op)`` lists the oracle states the answer may come from."""
        for op in ops:
            if not op.ok or op.kind != "query":
                continue
            _shape, q, mode = queries[op.query]
            if not any(same_topk(op.hits, s.search(q, mode, K, self.cfg))
                       for s in states(op)):
                op.ok, op.error = False, "WrongAnswer"


# ---------------------------------------------------------------- helpers

class Warm:
    """Warm engines pinned over one index, as a serving process holds them."""

    def __init__(self, bench: Bench, index: str):
        from alexandria_spark.plans.build import Index
        from alexandria_spark.plans.docpart import DocPartEngine, DocPartitionedIndex
        from alexandria_spark.plans.impact import ImpactEngine

        idx = Index(index)
        self.cfg = idx.config()
        with bench.tr.span("plans.docpart.engine_init"):
            self.docpart = DocPartEngine(bench.spark, DocPartitionedIndex(index), self.cfg)
        with bench.tr.span("plans.impact.engine_init"):
            self.impact = ImpactEngine(bench.spark, idx, self.cfg)

    def close(self) -> None:
        self.docpart.unpersist()
        self.impact.unpersist()


def stratified(queries: list, seed: int) -> list[int]:
    """A seeded order in which every prefix keeps the query set's shape mix:
    each shape's queries are spread evenly over the sequence."""
    rng = np.random.default_rng([seed, 13])
    by_shape: dict[str, list[int]] = {}
    for i, (shape, _q, _m) in enumerate(queries):
        by_shape.setdefault(shape, []).append(i)
    keyed = []
    for rank, (_shape, idxs) in enumerate(sorted(by_shape.items())):
        for j, i in enumerate(rng.permutation(idxs)):
            keyed.append(((j + 0.5) / len(idxs), rank, int(i)))
    return [i for *_key, i in sorted(keyed)]


def oracle_for(table) -> tuple[Postings, OracleState]:
    post = Postings()
    return post, OracleState.fresh(post, post.add(table))


def generated(b: Bench, name: str, n_docs: int, start: int = 0):
    """Generate a seeded table, write it as parquet; (table, path, bytes)."""
    table = corpus.source_table(b.seed, n_docs, start=start)
    path = os.path.join(b.work, f"{name}.parquet")
    return table, path, write_table(table, path)


# ---------------------------------------------------------------- workloads
# Each returns its end-to-end inputs and leaves on ``b`` what the traced
# run's probe needs: the index, the query set and its order.

def run_build(b: Bench) -> dict:
    """Build one fresh corpus into a servable index, in a fresh process as
    the build command-line entry point does, so it pays the Python workers'
    start-up; set-up is the session. The run times exactly one build,
    whatever ``seconds`` is: BUILD_DOCS sets its length."""
    table, src, nbytes = generated(b, "corpus", BUILD_DOCS)
    index = os.path.join(b.work, "index")
    build = Op("build", time.perf_counter())
    b.servable_build(src, index)
    build.end = time.perf_counter()

    # verification, after the timed build: every distinct query through
    # the cold routed calls, by nproc clients
    b.index, b.table, b.src = index, table, src
    b.record_index(index, nbytes)
    b.queries = corpus.query_set(b.seed, BUILD_QUERIES)
    b.order = stratified(b.queries, b.seed)
    _post, state = oracle_for(table)
    ops, t0, t1 = b.closed_loop(b.nproc, b.queries, b.order,
                                lambda q, m: b.routed(index, q, m), label="cold")
    b.check(ops, b.queries, lambda _op: [state])
    b.ops = [build] + ops
    return {"setup_s": 0.0, "build_docs_per_s": BUILD_DOCS / build.wall,
            "query_qps": rate(ops, t0, t1)}


def run_serve(b: Bench) -> dict:
    """nproc closed-loop clients over warm engines for ``seconds``."""
    t_setup = time.perf_counter()
    table, src, nbytes = generated(b, "corpus", SERVE_DOCS)
    b.index, b.table, b.src = os.path.join(b.work, "index"), table, src
    t_build = time.perf_counter()
    b.servable_build(src, b.index)
    build_s = time.perf_counter() - t_build
    b.warm = Warm(b, b.index)
    b.queries = corpus.query_set(b.seed, SERVE_QUERIES)
    b.order = stratified(b.queries, b.seed)
    call = lambda q, m: b.routed(b.index, q, m, b.warm)  # noqa: E731
    setup_s = time.perf_counter() - t_setup + SERVE_RAMP_S

    # the clients start together; the window opens once they have spread
    # out over the ramp, and the ramp counts as set-up
    ops, t0, t1 = b.closed_loop(b.nproc, b.queries, b.order, call,
                                seconds=b.seconds, ramp=SERVE_RAMP_S,
                                label="client")
    b.record_index(b.index, nbytes)
    _post, state = oracle_for(table)
    b.check(ops, b.queries, lambda _op: [state])
    b.ops = in_window(ops, t0)
    return {"setup_s": setup_s, "build_docs_per_s": SERVE_DOCS / build_s,
            "query_qps": rate(ops, t0, t1)}


def run_maintain(b: Bench) -> dict:
    """A fixed number of writer cycles (land, ingest, partial refresh,
    delete). One reader makes a round of the cold routed calls, one query
    per kind, before the first cycle and after each refresh. Writer and
    reader take turns in one thread, so what a read sees, and whether it
    fails, follows from the steps before it alone: every run does the same
    ops, whatever ``seconds`` is, and fails the same ones."""
    t_setup = time.perf_counter()
    table, src, nbytes = generated(b, "corpus", MAINTAIN_DOCS)
    b.index, b.table, b.src = os.path.join(b.work, "index"), table, src
    b.servable_build(src, b.index)
    setup_s = time.perf_counter() - t_setup

    b.record_index(b.index, nbytes)
    b.queries = corpus.query_set(b.seed, MAINTAIN_QUERIES)
    b.order = stratified(b.queries, b.seed)
    post, s0 = oracle_for(table)
    batches = [generated(b, f"batch-{c}", MAINTAIN_BATCH,
                         start=MAINTAIN_DOCS + c * MAINTAIN_BATCH)
               for c in range(MAINTAIN_CYCLES)]
    victims = pick_victims(b, s0, b.queries, MAINTAIN_CYCLES)
    # the traced run's warm probe runs after the writer, on this copy; the
    # untraced run copies too, so both do the same work
    b.healthy = os.path.join(b.work, "index-healthy")
    shutil.copytree(b.index, b.healthy)

    writer = Writer(b, b.index)
    reads: list[Op] = []

    def read_round():
        ops, _t0, _t1 = b.closed_loop(1, b.queries, b.order,
                                      lambda q, m: b.routed(b.index, q, m),
                                      label="cold")
        reads.extend(ops)

    # untimed warm-up, one query per route, so the first timed reads do
    # not pay first-use costs (JIT, imports in the Python workers)
    warmup = [next(i for i in b.order if b.queries[i][0] == shape)
              for shape in ("and2", "single", "vacuous")]
    b.closed_loop(1, b.queries, warmup, lambda q, m: b.routed(b.index, q, m),
                  label="warmup")
    read_round()
    for c, (_t, bsrc, bbytes) in enumerate(batches):
        writer.cycle(c, bsrc, bbytes, victims[c], after_refresh=read_round)

    timeline = writer.timeline(post, s0, [t for t, _p, _n in batches])

    def states(op):
        return [st for since, until, st in timeline
                if since <= op.end and op.start <= until]

    b.check(reads, b.queries, states)
    b.ops = writer.folds + reads
    b.writer = writer
    ok_docs = MAINTAIN_BATCH * sum(f.ok for f in writer.folds)
    ok_reads = [o for o in reads if o.ok]
    return {"setup_s": setup_s,
            "build_docs_per_s": ok_docs / sum(f.wall for f in writer.folds),
            "query_qps": len(ok_reads) / max(1e-9, sum(o.wall for o in ok_reads))}


WORKLOADS = {"build": run_build, "serve": run_serve, "maintain": run_maintain}


def pick_victims(b: Bench, state: OracleState, queries, cycles: int) -> list[list[int]]:
    """Seeded tombstones among documents the queries actually return, so
    every delete changes some answer."""
    seen: dict[int, None] = {}
    for _shape, q, mode in queries:
        for d, _s in state.search(q, mode, K, b.cfg)[:3]:
            seen.setdefault(d)
    pool = list(seen)
    rng = np.random.default_rng([b.seed, 17])
    pick = [pool[i] for i in rng.permutation(len(pool))]
    n = VICTIMS_PER_CYCLE
    return [pick[c * n:(c + 1) * n] for c in range(cycles)]


class Writer:
    """One maintenance writer. Each cycle lands a batch (``with_doc_ids``
    into the landing directory), ingests it, folds it in with a partial
    refresh and tombstones seeded documents. Every step runs whatever the
    previous one did; failures are recorded with their error class."""

    def __init__(self, b: Bench, index: str):
        self.b, self.index = b, index
        self.land = os.path.join(b.work, "landing")
        self.steps: list[dict] = []
        self.folds: list[Op] = []
        self.cycle_facts: list[dict] = []

    def _step(self, kind: str, cycle: int, span: str, fn, **extra) -> dict:
        step = {"kind": kind, "cycle": cycle, "ok": True,
                "start": time.perf_counter(), **extra}
        try:
            with self.b.tr.span(span):
                step.update(fn() or {})
        except Exception as exc:  # recorded per layer with its error class
            step["ok"], step["error"] = False, error_class(exc)
        step["end"] = time.perf_counter()
        self.steps.append(step)
        return step

    def cycle(self, c: int, src: str, nbytes: int, victims: list[int],
              after_refresh=lambda: None) -> None:
        """One cycle; ``after_refresh()`` runs between the refresh and the
        delete, and the fold's wall time leaves it out."""
        from alexandria_spark.plans.build import Index, with_doc_ids
        from alexandria_spark.plans.delete import delete_docs
        from alexandria_spark.plans.snapshots import history
        from alexandria_spark.streaming.incremental import ingest_stream, refresh_index

        b, index, spark = self.b, self.index, self.b.spark
        before = file_ids(index)
        n_snap = len(history(index))
        fold = Op("fold", time.perf_counter())
        self._step("land", c, "bench.land", lambda: with_doc_ids(
            spark.read.parquet(src)).write.mode("append").parquet(self.land))

        def ingest():
            ingest_stream(spark, self.land, index,
                          spark.read.parquet(self.land).schema, b.cfg,
                          text_col="content")

        def refresh():
            n0 = len(history(index))
            refresh_index(spark, index, b.cfg, mode="partial")
            ops = [h["operation"] for h in history(index)[n0:]]
            return {"mode": "full" if "rebuild" in ops else "partial"}

        self._step("ingest", c, "streaming.incremental.ingest_stream", ingest)
        self._step("refresh", c, "streaming.incremental.refresh_index", refresh)
        t_pause = time.perf_counter()
        after_refresh()
        fold.paused = time.perf_counter() - t_pause
        self._step("delete", c, "plans.delete.delete_docs",
                   lambda: delete_docs(spark, Index(index), victims),
                   victims=victims)
        fold.end = time.perf_counter()
        mine = [s for s in self.steps if s["cycle"] == c]
        fold.ok = all(s["ok"] for s in mine)
        fold.error = next((s["error"] for s in mine if not s["ok"]), None)
        self.folds.append(fold)
        after = file_ids(index)
        self.cycle_facts.append({
            "rewritten_per_appended": sum(
                size for p, (ino, size) in after.items()
                if before.get(p, (None,))[0] != ino) / nbytes,
            "commits": len(history(index)) - n_snap,
            "escalated": any(s.get("mode") == "full" for s in mine),
        })

    def timeline(self, post: Postings, s0: OracleState, batches) -> list:
        """``(since, until, state)`` for every servable state the writer
        produced: a state may be read from the start of the step that made
        it to the end of the step that replaced it."""
        out, state, pending = [], s0, []
        since = float("-inf")
        for step in self.steps:
            new = None
            if step["kind"] == "ingest" and step["ok"]:
                pending += post.add(batches[step["cycle"]])
            elif step["kind"] == "refresh" and step["ok"] and pending:
                new = (OracleState.fresh(post, state.indexed | set(pending),
                                         state.tombstoned)
                       if step["mode"] == "full" else state.anchored(pending))
                pending = []
            elif step["kind"] == "delete" and step["ok"]:
                new = state.deleted(step["victims"])
            if new is not None:
                out.append((since, step["end"], state))
                state, since = new, step["start"]
        out.append((since, float("inf"), state))
        return out


# ---------------------------------------------------------------- probe
# The traced run calls, once, each layer its workload does not reach, so
# every per-layer metric is measured on every workload.

def probe_warm(b: Bench, index: str) -> None:
    """Warm engines: one client (idle), then nproc clients (loaded)."""
    warm = Warm(b, index)
    call = lambda q, m: b.routed(index, q, m, warm)  # noqa: E731
    sample = b.order[:len(corpus.SHAPES)]
    b.closed_loop(1, b.queries, sample[:2], call, label="first")
    b.closed_loop(1, b.queries, sample, call, label="idle")
    b.closed_loop(b.nproc, b.queries, sample, call, label="client")
    warm.close()


def probe(b: Bench, workload: str) -> None:
    from alexandria_spark.functions.tokenizer import query_terms
    from alexandria_spark.plans.build import (Index, blockify, corpus_stats_pass,
                                              tokenize_docs, with_doc_ids)

    sample = b.order[:len(corpus.SHAPES)]
    if workload == "build":
        probe_warm(b, b.index)
    if workload == "maintain":  # the index as it was before the writer
        probe_warm(b, b.healthy)
    if workload == "serve":
        call = lambda q, m: b.routed(b.index, q, m, b.warm)  # noqa: E731
        b.closed_loop(1, b.queries, sample, call, label="idle")
        b.closed_loop(1, b.queries, sample,
                      lambda q, m: b.routed(b.index, q, m), label="cold")
    # isolated stage calls into a no-op sink, over the workload's corpus
    docs = with_doc_ids(b.spark.read.parquet(b.src))
    meta = Index(b.index).meta()
    sinks = {
        "plans.build.tokenize_docs": lambda: tokenize_docs(docs, b.cfg, text_col="content"),
        "plans.build.corpus_stats_pass": lambda: corpus_stats_pass(docs, b.cfg, text_col="content"),
        "plans.build.blockify": lambda: blockify(
            b.spark.read.parquet(os.path.join(b.index, "term_doc")), b.cfg,
            meta["n_docs"], meta["avg_dl"], {}),
    }
    for name, df in sinks.items():
        with b.tr.span(name):
            df().write.format("noop").mode("overwrite").save()
    # the query tokenizer, timed in a tight loop (microseconds per call)
    per_call = []
    for _shape, q, _mode in b.queries:
        t0 = time.perf_counter()
        for _ in range(200):
            query_terms(q, limit=b.cfg.query_max_words)
        per_call.append((time.perf_counter() - t0) / 200)
    b.facts["query_terms_s"] = per_call
    if workload != "maintain":
        _t, bsrc, bbytes = generated(b, "probe-batch", MAINTAIN_BATCH, start=10**8)
        _post, state = oracle_for(b.table)
        victims = pick_victims(b, state, b.queries, 1)[0]
        b.writer = Writer(b, b.index)
        b.writer.cycle(0, bsrc, bbytes, victims)
