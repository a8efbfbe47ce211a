"""Benchmark of record for vector_db_at_home_spark.

    python3 benchmark/run.py --workload store_churn --seed 1 --seconds 5 --trace 0

Generates every input from ``--seed``, drives one workload through the
engine's public functions from this single process on ``local[nproc]``
(one closed-loop client, no extra threads), checks every answer against
the benchmark's own oracle, and prints one JSON object as the last line of
stdout.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs
with spans and a Spark event log and reports the per-layer metrics.  The
line before it carries the detail (every per-op median, sample counts,
session facts).  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

import gen
import workloads
from tracing import EventLog, Tracer, find_event_log, union_ms

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

LAYER_OPS = ("search", "search_batch", "fuzzy", "filter", "lookup",
             "insert", "delete", "maintain", "admit", "dedup_pass")
PIPELINE_STAGES = ("0_batch", "1_exact", "2_neardup", "3_substring",
                   "4_quality", "5_lang", "6_semantic", "decide_marker",
                   "write_back")


def fail(msg: str) -> None:
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    """Median, or 0 when a workload has no sample of the quantity."""
    return statistics.median(xs) if xs else 0.0


WORKLOADS = {"store_churn": workloads.StoreWorkload,
             "corpus_clean": workloads.CorpusWorkload}


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.events = os.path.join(work, "events")

    def start_session(self):
        from vector_db_at_home_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        n = cores()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        }
        if self.args.trace:
            os.makedirs(self.events, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.events,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark("benchmark", master=f"local[{n}]",
                               shuffle_partitions=n, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        """Stop the session, then the gateway JVM, and wait for it to
        exit (it exits when its stdin closes)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0


def run(args) -> tuple:
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM: no perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    bench = Bench(args, work)
    wl = WORKLOADS[args.workload](args.seed, work, cores(), bool(args.trace))
    load_before = os.getloadavg()[0]
    try:
        wl.prepare()

        # set-up: session start, store load / state build, warm-up; the
        # median of several repetitions.  The first launches the JVM and the
        # session and warms every op type; later ones drop every cached
        # table and re-open the store / rebuild the state in that session
        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            if rep == 0:
                spark = bench.start_session()
            else:
                spark.catalog.clearCache()
            wl.open(spark)
            wl.warm(rep)
            setups.append(time.perf_counter() - t0)

        sc = spark.sparkContext
        tracer = Tracer(sc, bool(args.trace))
        off = Tracer(sc, False)
        recs = []
        failures = []
        busy = 0.0
        seen: dict = {}
        for op_id, (op, a) in enumerate(wl.ops()):
            # measure whole cycles, until --seconds of op time
            if op_id % wl.CYCLE_OPS == 0 and busy >= args.seconds:
                break
            # in traced mode every other op of each type runs untraced:
            # their latency against the traced ops' is the tracing overhead
            seen[op] = seen.get(op, 0) + 1
            traced = bool(args.trace) and seen[op] % 2 == 1
            cached = (wl.index_cached() if traced and
                      op in ("search", "search_batch") else None)
            t0 = time.perf_counter()
            try:
                res = wl.execute(op, a, tracer if traced else off, op_id)
                err = None
            except Exception as e:  # a raising op is a failed op
                res, err = None, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
            busy += dt
            if err is None:
                err = wl.check(op, a, res)
            if err is not None:
                failures.append(f"{op}#{op_id}: {err}")
            recs.append({"op": op, "s": dt, "ok": err is None,
                         "traced": traced, "cached": cached, "res": res})
        try:
            final = wl.final_check()
        except Exception as e:  # the engine call behind the check raised
            final = f"{type(e).__name__}: {e}"
        if final is not None:
            failures.append(f"final state: {final}")

        facts = wl.facts()
        session = {"master": sc.master, "nproc": cores(),
                   "default_parallelism": sc.defaultParallelism}
        jvm_rss = bench.jvm_peak_rss_mb()
        app_id = sc.applicationId
        bench.spark.stop()
        bench.spark = None
        py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

        ok = [r for r in recs if r["ok"]]
        attempted = len(recs) + 1
        failed = len(failures)
        lat = [r["s"] * 1e3 for r in ok]
        # work done over op time, whole cycles; a failed op took its time
        # but did no work
        throughput = sum(wl.work_items(r["op"]) for r in ok) / busy
        detail = {
            "workload": args.workload, "seed": args.seed, **session,
            "loadavg_1m_before": load_before,
            "setup_reps_s": setups,
            "ops": len(recs), "cycles": len(recs) // wl.CYCLE_OPS,
            "busy_s": busy, "failures": failures[:20],
            "failed_frac": failed / attempted,
            "per_op": {op: {"n": len(v), "p50_ms": median(v),
                            "samples_ms": [round(x, 1) for x in v]}
                       for op, v in _by_op(ok).items()},
            "latency_samples": len(lat),
            "latency_p50_ms": median(lat),
            "peak_rss_mb": jvm_rss + py_rss,
        }
        if args.workload == "store_churn":
            detail["space_amp"] = (
                _tree_bytes(wl.root) / wl.live_user_bytes())
        out = {"correct": failed == 0, "attempted": attempted,
               "failed": failed}
        if not args.trace:
            out["metrics"] = {
                "setup_s": {"value": median(setups), "unit": "s"},
                "throughput": {"value": throughput, "unit": "1/s"},
                "peak_rss_mb": {"value": jvm_rss + py_rss, "unit": "MB"},
            }
        else:
            ev = EventLog(find_event_log(bench.events, app_id))
            tracer.write(os.path.join(
                ROOT, ".bench_work",
                f"spans-{args.workload}-{args.seed}.jsonl"))
            out["metrics"] = {
                k: {"value": v, "unit": u} for k, (v, u) in
                layer_metrics(args.workload, wl, tracer, ev, recs,
                              facts, setups).items()}
            detail["spans"] = len(tracer.spans)
            detail["ungrouped_tasks"] = ev.ungrouped_tasks
        return detail, out
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)


def _by_op(recs) -> dict:
    out: dict = {}
    for r in recs:
        out.setdefault(r["op"], []).append(r["s"] * 1e3)
    return out


def _tree_bytes(path: str) -> int:
    return workloads.tree_bytes_files(path)[0]


def layer_metrics(name: str, wl, tracer, ev, recs, facts,
                  setups) -> dict:
    """Per-layer metrics from the spans and the event log.  A layer the
    workload does not drive reports 0."""
    kids = tracer.children()
    roots = [s for s in tracer.spans if s["parent"] is None]
    by_op: dict = {}
    for s in roots:
        by_op.setdefault(recs[s["op"]]["op"], []).append(s)

    def groups(spans):
        return [t["id"] for s in spans for t in tracer.subtree(s, kids)]

    def wall_ms(s):
        return (s["end"] - s["start"]) * 1e3

    m: dict = {}
    for op in LAYER_OPS:
        spans = by_op.get(op, [])
        per = [ev.totals(groups([s])) for s in spans]
        m[f"session.jobs_per_op.{op}"] = (
            median([p["jobs"] for p in per]), "count")
        m[f"session.tasks_per_op.{op}"] = (
            median([p["tasks"] for p in per]), "count")
        m[f"session.driver_ms.{op}"] = (median([
            wall_ms(s) - _stage_cover(ev, groups([s]), s) for s in spans]),
            "ms")
    tot = ev.totals(groups(roots))
    traced_wall = sum(wall_ms(s) for s in roots)
    m["session.core_util"] = (
        tot["run_ms"] / (traced_wall * cores()) if traced_wall else 0.0, "1")
    m["session.gc_ms"] = (tot["gc_ms"], "ms")
    m["session.spill_bytes"] = (tot["spill_bytes"], "B")
    m["session.failed_tasks"] = (tot["failed"], "count")
    m["session.cold_setup_s"] = (setups[0], "s")

    ok = [r for r in recs if r["ok"]]
    t_med = _op_medians([r for r in ok if r["traced"]])
    u_med = _op_medians([r for r in ok if not r["traced"]])
    both = [op for op in t_med if op in u_med]
    if both:
        untraced = sum(u_med[op] for op in both)
        m["trace.overhead_pct"] = (
            100 * (sum(t_med[op] for op in both) / untraced - 1), "%")
    else:
        m["trace.overhead_pct"] = (0.0, "%")
    for op in LAYER_OPS:
        m[f"op_p50_ms.{op}"] = (t_med.get(op, 0.0), "ms")

    store = name == "store_churn"
    searches = [r for r in recs if r["traced"] and r["cached"] is not None]
    m["store.index_cache_hit_ratio"] = (
        sum(r["cached"] for r in searches) / len(searches)
        if searches else 0.0, "1")
    if store:
        m["store.snapshot_files"] = (facts["snapshot_files"], "count")
        written = ev.totals(groups(
            by_op.get("insert", []) + by_op.get("delete", [])
            + by_op.get("maintain", [])))["output_bytes"]
        # writes are traced every other op of each type: scale the user
        # bytes of all inserts (equal-sized batches) to the traced share
        traced_inserts = len(by_op.get("insert", []))
        all_inserts = sum(1 for r in recs if r["op"] == "insert") or 1
        inserted = wl.user_bytes_inserted * traced_inserts / all_inserts
        m["store.write_amp"] = (written / inserted if inserted else 0.0, "1")
        m["store.versions_retained"] = (facts["versions"], "count")
        m["store.space_amp"] = (
            _tree_bytes(wl.root) / wl.live_user_bytes(), "1")
    else:
        for k, u in (("snapshot_files", "count"), ("write_amp", "1"),
                     ("versions_retained", "count"), ("space_amp", "1")):
            m[f"store.{k}"] = (0, u)
    m["store.maintain_ms"] = (median(
        [wall_ms(s) for s in by_op.get("maintain", [])]), "ms")

    def per_query(ops, key, nq):
        spans = [s for op in ops for s in by_op.get(op, [])]
        q = sum(nq[op] for op in ops for _ in by_op.get(op, []))
        return ev.totals(groups(spans))[key] / q if q else 0.0

    nq = {"search": 1, "search_batch": gen.BATCH_QUERIES, "fuzzy": 1}
    knn_ops = ("search", "search_batch")
    m["knn.task_ms_per_query"] = (per_query(knn_ops, "run_ms", nq), "ms")
    m["knn.shuffle_bytes_per_query"] = (
        per_query(knn_ops, "shuffle_write", nq), "B")
    m["knn.input_bytes_per_query"] = (
        per_query(knn_ops, "input_bytes", nq), "B")
    m["fuzzysearch.task_ms_per_query"] = (
        per_query(("fuzzy",), "run_ms", nq), "ms")
    m["fuzzysearch.shuffle_bytes_per_query"] = (
        per_query(("fuzzy",), "shuffle_write", nq), "B")
    filt = [r for r in recs if r["traced"] and r["op"] == "filter"
            and r["ok"]]
    rows = sum(len(r["res"]) for r in filt)
    m["jsonfn.bytes_read_per_row_returned"] = (
        ev.totals(groups(by_op.get("filter", [])))["input_bytes"] / rows
        if rows else 0.0, "B")

    def child_spans(cname):
        return [s for s in tracer.spans if s["name"] == cname]

    mh = child_spans("dedup.minhash_lsh_pairs")
    cs = child_spans("dedup.cosine_neardup_bucketed")
    cc = child_spans("graph.drop_near_duplicates")
    emb = child_spans("featurize.hashing_embed")
    n_docs = getattr(wl, "N_DOCS", 0)
    m["dedup.minhash_s"] = (median([wall_ms(s) for s in mh]) / 1e3, "s")
    m["dedup.cosine_s"] = (median([wall_ms(s) for s in cs]) / 1e3, "s")
    m["dedup.minhash_shuffle_bytes_per_doc"] = (
        ev.totals(groups(mh))["shuffle_write"] / (n_docs * len(mh))
        if mh else 0.0, "B")
    passes = [r for r in recs if r["op"] == "dedup_pass" and r["res"]]
    m["dedup.planted_recall"] = (
        median([r["res"].get("recall", 0.0) for r in passes]), "1")
    # components and the anti-join of drop_near_duplicates; the rounds
    # come from the check's separate connected_components run
    rounds = [r["res"]["rounds"] for r in passes if r["traced"]]
    m["graph.cc_rounds"] = (median(rounds), "count")
    m["graph.cc_s"] = (median([wall_ms(s) for s in cc]) / 1e3, "s")
    m["graph.shuffle_bytes_per_round"] = (
        ev.totals(groups(cc))["shuffle_write"] / sum(rounds)
        if rounds and sum(rounds) else 0.0, "B")
    m["featurize.embed_s"] = (median([wall_ms(s) for s in emb]) / 1e3, "s")

    if name == "corpus_clean":
        m.update(_ingest_metrics(wl, ev, recs, groups(by_op.get("admit", []))))
    else:
        m.update({k: (0, u) for k, u in INGEST_UNITS.items()})
    return m


INGEST_UNITS = {**{f"pipeline.stage_s.{st}": "s" for st in PIPELINE_STAGES},
                "pipeline.survivor_ratio": "1",
                "dedup.state_bytes_per_doc": "B", "dedup.state_files": "count",
                "dedup.shuffle_bytes_per_doc": "B",
                "fsutil.files_created_per_shard": "count"}


def _ingest_metrics(wl, ev, recs, admit_groups) -> dict:
    """The admit loop's metrics: stage walls from the public ``stats=``
    argument, the state under the root at the end, and the shuffle of the
    traced admits per input doc."""
    v = {f"pipeline.stage_s.{st}": median([w.get(st, 0.0) for w in wl.walls])
         for st in PIPELINE_STAGES}
    v["pipeline.survivor_ratio"] = wl.survivors / max(wl.docs_in, 1)
    nbytes, nfiles = workloads.tree_bytes_files(wl.root)
    v["dedup.state_bytes_per_doc"] = nbytes / (
        len(wl.ingest.corpus) + wl.survivors)
    v["dedup.state_files"] = nfiles
    traced_docs = gen.INGEST_SHARD * sum(
        1 for r in recs if r["op"] == "admit" and r["traced"])
    v["dedup.shuffle_bytes_per_doc"] = (
        ev.totals(admit_groups)["shuffle_write"] / traced_docs)
    v["fsutil.files_created_per_shard"] = median(wl.files_created)
    return {k: (x, INGEST_UNITS[k]) for k, x in v.items()}


def _stage_cover(ev, groups, span) -> float:
    return union_ms(ev.stage_intervals(groups), span["start"] * 1e3,
                    span["end"] * 1e3)


def _op_medians(recs) -> dict:
    return {op: median(v) for op, v in _by_op(recs).items()}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "vector_db_at_home_spark")):
        fail(f"engine package vector_db_at_home_spark not found under {ROOT}")
    sys.path.insert(0, ROOT)
    # executor-side Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    try:
        import vector_db_at_home_spark  # noqa: F401
    except ImportError as e:
        fail(f"cannot import the engine: {e}")

    detail, out = run(args)
    print(json.dumps({"detail": detail}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
