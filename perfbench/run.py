#!/usr/bin/env python3
"""Run one benchmark workload against alexandria_spark and print its result.

    python3 perfbench/run.py --workload serve|maintain|build --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
and the spans are written to ``perfbench/results/``. Every run also writes
its full record (host, versions, sample counts, errors per layer) there.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(ROOT, "perfbench", "results")

E2E_UNITS = {"setup_s": "s", "build_docs_per_s": "docs/s",
             "index_bytes_per_input_byte": "ratio", "query_qps": "q/s",
             "query_p50_ms": "ms", "ok_frac": "fraction"}
# layers whose calls and failures are counted
COUNTED = ["plans.build.build_index", "plans.docpart.rebuild",
           "plans.impact.derive", "plans.docpart.engine_init",
           "plans.impact.engine_init", "plans.docpart.search",
           "plans.impact.topk", "plans.docpart.search_cold",
           "plans.impact.topk_cold", "plans.query.search",
           "streaming.incremental.ingest_stream",
           "streaming.incremental.refresh_index", "plans.delete.delete_docs"]
TABLES = ["term_doc", "postings", "postings_doc", "postings_impact", "doc_lengths"]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["build", "serve", "maintain"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def host_record() -> dict:
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                mem[k] = int(v.split()[0]) * 1024
    return {"nproc": os.cpu_count(), "affinity": sorted(os.sched_getaffinity(0)),
            "mem_bytes": mem, "loadavg": os.getloadavg()}


def program_identity() -> dict:
    """The git commit when the checkout has one, and always a digest of the
    library sources, so records of non-git checkouts stay comparable."""
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, "alexandria_spark", "**", "*.py"),
                              recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def start_session(work: str, cores: int):
    """The library's session factory, sized to this host, with every
    scratch location inside the run's work directory."""
    from alexandria_spark.session import get_spark

    return get_spark(app="perfbench", cores=cores, shuffle_partitions=cores, extra={
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.scheduler.mode": "FAIR",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=60)


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def end_to_end(b, res: dict, session_s: float) -> dict:
    from perfbench.workloads import pct

    queries = [o for o in b.ops if o.kind == "query"]
    # percentiles over successful queries; over all of them only when none
    # succeeded, so the value stays a number
    walls = [o.wall for o in queries if o.ok] or [o.wall for o in queries]
    return {
        "setup_s": session_s + res["setup_s"],
        "build_docs_per_s": res["build_docs_per_s"],
        "index_bytes_per_input_byte": b.facts["index"]["ratio"],
        "query_qps": res["query_qps"],
        "query_p50_ms": 1000 * pct(walls, 50),
        "ok_frac": sum(o.ok for o in b.ops) / len(b.ops),
    }


def per_layer(b) -> dict:
    tr = b.tr
    spans = tr.by_name()

    def recs(name, phase=None):
        return [r for r in spans.get(name, [])
                if phase is None or (r["request"] or "").split(":")[0] == phase]

    def self_s(name, phase=None):
        rs = recs(name, phase)
        return median([r["self"] for r in rs if r["ok"]] or [r["self"] for r in rs])

    def per_call(name, key, phases=None):
        rs = [r for r in recs(name)
              if phases is None or (r["request"] or "").split(":")[0] in phases]
        return statistics.fmean([r[key] for r in rs]) if rs else 0.0

    m = {"session.start_s": self_s("session.start")}
    for name in COUNTED:
        m[f"{name}.calls"] = len(recs(name))
        m[f"{name}.failed"] = sum(not r["ok"] for r in recs(name))
    idx = b.facts["index"]
    m.update({
        "plans.build.build_index_s": self_s("plans.build.build_index"),
        "plans.build.build_index.jobs": per_call("plans.build.build_index", "jobs"),
        "plans.build.build_index.tasks": per_call("plans.build.build_index", "tasks"),
        "plans.build.stage1_s": idx["stage1_s"],
        "plans.build.stage2_s": idx["stage2_s"],
        "plans.build.waves_s": idx["waves_s"],
        "plans.build.tokenize_docs_s": self_s("plans.build.tokenize_docs"),
        "plans.build.corpus_stats_pass_s": self_s("plans.build.corpus_stats_pass"),
        "plans.build.blockify_s": self_s("plans.build.blockify"),
        "plans.docpart.rebuild_s": self_s("plans.docpart.rebuild"),
        "plans.docpart.rebuild_jobs": per_call("plans.docpart.rebuild", "jobs"),
        "plans.impact.derive_s": self_s("plans.impact.derive"),
        "plans.impact.derive_jobs": per_call("plans.impact.derive", "jobs"),
    })
    for t in TABLES:
        m[f"plans.build.bytes_per_input_byte.{t}"] = idx["tables"][t]
    routes = [o.route for o in b.ops if o.kind == "query" and o.route]
    for r in ("docpart", "impact", "dist"):
        m[f"plans.query.route_share.{r}"] = routes.count(r) / max(1, len(routes))
    for layer, short in (("plans.docpart.search", "search"),
                         ("plans.impact.topk", "topk")):
        base = layer.rsplit(".", 1)[0]
        m[f"{base}.{short}_p50_ms"] = 1000 * self_s(layer, "client")
        m[f"{base}.{short}_idle_p50_ms"] = 1000 * self_s(layer, "idle")
        m[f"{base}.jobs_per_query"] = per_call(layer, "jobs", ("client", "idle"))
        m[f"{base}.tasks_per_query"] = per_call(layer, "tasks", ("client", "idle"))
        m[f"{base}.{short}_cold_p50_ms"] = 1000 * self_s(f"{layer}_cold", "cold")
    m["plans.docpart.engine_init_s"] = self_s("plans.docpart.engine_init")
    m["plans.impact.engine_init_s"] = self_s("plans.impact.engine_init")
    m["functions.query_terms_us"] = 1e6 * median(b.facts["query_terms_s"])
    w = b.writer
    folds = [f.wall for f in w.folds if f.ok] or [f.wall for f in w.folds]
    m.update({
        "streaming.incremental.ingest_stream_s": self_s("streaming.incremental.ingest_stream"),
        "streaming.incremental.refresh_index_s": self_s("streaming.incremental.refresh_index"),
        "streaming.incremental.escalations": sum(c["escalated"] for c in w.cycle_facts),
        "streaming.incremental.bytes_rewritten_per_appended_byte":
            median(c["rewritten_per_appended"] for c in w.cycle_facts),
        "streaming.incremental.fold_p50_s": median(folds),
        "streaming.incremental.fold_max_s": max(folds),
        "plans.delete.delete_docs_s": self_s("plans.delete.delete_docs"),
        "plans.snapshots.commits_per_cycle": median(c["commits"] for c in w.cycle_facts),
        "trace.spans": len(tr.spans),
    })
    return m


def layer_errors(b) -> dict:
    out: dict = {}
    for rec in b.tr.spans:
        if not rec["ok"]:
            key = f'{rec["name"]} {rec["error"]}'
            out[key] = out.get(key, 0) + 1
    for op in b.ops:
        if not op.ok:
            key = f"{op.kind} {op.error}"
            out[key] = out.get(key, 0) + 1
    return out


def report_lines(workload: str, e2e: dict, b) -> list[str]:
    """The end-to-end table by name and unit, with sample counts."""
    from perfbench.workloads import pct

    queries = [o for o in b.ops if o.kind == "query"]
    ok = [o.wall for o in queries if o.ok]
    lines = [f"{k} = {v:.6g} {E2E_UNITS[k]}" for k, v in e2e.items()]
    lines.append(f"query_p95_ms = {1000 * pct(ok, 95):.6g} ms (n = {len(ok)} "
                 f"successful queries, {int(len(ok) * 0.05)} beyond p95; "
                 f"reported, not gated)")
    lines.append(f"failed_frac = {1 - e2e['ok_frac']:.6g} fraction "
                 f"({sum(not o.ok for o in b.ops)} of {len(b.ops)} ops)")
    if workload == "maintain":
        folds = b.writer.folds
        ok = [f.wall for f in folds if f.ok]
        lines.append(f"fold_p50_s = {median(ok, float('nan')):.6g} s, fold_max_s = "
                     f"{max(ok, default=float('nan')):.6g} s "
                     f"({len(ok)} of {len(folds)} folds ok)")
    return [f"perfbench {workload}: {x}" for x in lines]


def previous_untraced(workload: str, seed: int) -> dict | None:
    path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace0.json")
    try:
        with open(path) as fh:
            return json.load(fh)["metrics"]
    except (OSError, ValueError, KeyError):
        return None


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "alexandria_spark", "__init__.py")):
        print(f"perfbench: no alexandria_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, "perfbench", ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(RESULTS, exist_ok=True)
    # Spark's Python workers import the library from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the launcher starts: temp files in the work directory, and
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)

    import pandas
    import pyarrow
    import pyspark

    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Bench, probe

    cores = len(os.sched_getaffinity(0))
    record = {"args": vars(args), "host_before": host_record(),
              "versions": {"python": sys.version.split()[0],
                           "pyspark": pyspark.__version__,
                           "pyarrow": pyarrow.__version__,
                           "pandas": pandas.__version__},
                      **program_identity()}
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext if args.trace else None)
        tracer.record("session.start", session_s)
        b = Bench(spark, work, args.seed, args.seconds, tracer, cores)
        res = WORKLOADS[args.workload](b)
        e2e = end_to_end(b, res, session_s)
        if args.trace:
            probe(b, args.workload)
            time.sleep(1.0)  # let the listener bus post the last task ends
            tracer.resolve_jobs()
            metrics = per_layer(b)
        else:
            metrics = e2e
        record["spark"] = spark.version
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    wrong = sum(o.error == "WrongAnswer" for o in b.ops)
    failed = sum(not o.ok for o in b.ops)
    record.update({
        "host_after": host_record(), "cores_used": cores,
        "counts": {"ops": len(b.ops), "failed": failed, "wrong_answers": wrong,
                   "queries": sum(o.kind == "query" for o in b.ops),
                   "builds": sum(o.kind == "build" for o in b.ops),
                   "folds": sum(o.kind == "fold" for o in b.ops)},
        "errors": layer_errors(b), "end_to_end": e2e, "metrics": metrics,
        "ops": [[o.kind, o.shape, o.route, o.start, o.wall, o.ok, o.error]
                for o in b.ops],
    })
    lines = report_lines(args.workload, e2e, b)
    if args.trace:
        base = previous_untraced(args.workload, args.seed)
        if base:
            record["trace_overhead"] = {k: e2e[k] / base[k] - 1 for k in
                                        ("query_p50_ms", "query_qps", "build_docs_per_s")
                                        if base.get(k)}
            lines.append("perfbench trace overhead vs untraced run: " + ", ".join(
                f"{k} {v:+.1%}" for k, v in record["trace_overhead"].items()))
        else:
            record["trace_overhead"] = None
            lines.append(f"perfbench trace overhead: unknown, no untraced record for "
                         f"seed {args.seed} (run --trace 0 with this seed first)")
        tracer.dump(os.path.join(RESULTS, f"{args.workload}-seed{args.seed}.spans.json"))
        record["self_s_by_layer"] = {
            name: sum(r["self"] for r in rs) for name, rs in tracer.by_name().items()}
    with open(os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1)
    print("\n".join(lines))
    units = E2E_UNITS if not args.trace else None
    print(json.dumps({
        "correct": wrong == 0, "attempted": len(b.ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k] if units else layer_unit(k)}
                    for k, v in metrics.items()},
    }))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_us"):
        return "us"
    if name.endswith("_s"):
        return "s"
    if ".bytes_per_input_byte" in name or name.endswith("_per_appended_byte"):
        return "ratio"
    if ".route_share." in name:
        return "fraction"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
