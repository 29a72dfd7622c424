"""One benchmark run, in its own process (started by perfbench/run.py).

    python3 -m perfbench.harness --workload queries --seed 1 --seconds 16 --trace 0

Phases, each a closed loop of one client on local[N], N = nproc:

1. build   — generate the tables and oracle digests once per checkout
             (cached under .bench_build/perfbench);
2. set-up  — get_spark + a warm-up query, once, in a fresh Python
             process and JVM: setup_s is this cold set-up. A second
             set-up in the same process would only restart the
             SparkContext in the running JVM, and a second process
             (about 17 s) does not fit the benchmark's time budget;
3. check   — every query once, untimed, as the warm-up pass; results
             are compared with their DuckDB oracle digests. The DAG is
             warmed here only in traced runs;
4. timed   — passes over the workload, in the check pass's order, until
             --seconds have elapsed (whole passes only), untraced. The
             reference DAG gets no warm-up pass: a batch job runs it
             once per session, and a second run would not fit the
             benchmark's time budget. Every written release is
             compared with the corpus's planted truth, untimed;
5. traced  — with --trace 1, in place of 4: the context restarts for
             an untraced baseline window, then restarts with Spark's
             event log on for the traced window, with spans and
             per-call job accounting; per-layer metrics come from here.

The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

from perfbench import data as gen
from perfbench import etl, oracle
from perfbench.trace import Tracer, find_event_log, parse_event_log


@dataclass(frozen=True)
class Query:
    name: str
    sf: float
    # "relational": the action (JVM scan/aggregate/shuffle) dominates;
    # "iterative": driver-side plan building with its own jobs dominates
    kind: str


POOL = (
    Query("pricing_summary", 0.1, "relational"),
    Query("shipping_priority_topk", 0.1, "relational"),
    Query("events_pagerank", 0.01, "iterative"),
)
WARM_QUERY = "order_priority_counts"


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[Query, ...] = ()  # empty: the reference DAG


WORKLOADS = {
    "queries": Workload("queries", POOL),
    "reference_etl": Workload("reference_etl"),
}
SCALES = (0.1, 0.01)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Build (once per checkout)
# ---------------------------------------------------------------------------


def tables_dir(build: str, sf: float) -> str:
    return os.path.join(build, gen.TABLES_VERSION, f"sf{sf}")


def ensure_build(build: str) -> dict[float, dict]:
    """Tables for every scale and oracle digests for every query pool."""
    for sf in SCALES:
        path = tables_dir(build, sf)
        if not os.path.isdir(path):
            t0 = time.perf_counter()
            tmp = f"{path}.{os.getpid()}.tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            gen.write_tables(tmp, sf)
            os.replace(tmp, path)
            log(f"generated sf{sf} tables in {time.perf_counter() - t0:.1f}s")
    t0 = time.perf_counter()
    digests = {}
    for sf in SCALES:
        names = [q.name for q in POOL if q.sf == sf]
        digests[sf] = oracle.oracle_digests(
            tables_dir(build, sf), names, os.path.join(build, "oracle")
        )
    log(f"oracle digests ready in {time.perf_counter() - t0:.1f}s")
    return digests


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


def session_conf(tmp: str, event_log: str | None = None) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def warm(spark, warm_dir: str) -> None:
    from aurora_mito_etl_spark.plans.queries import QUERIES

    QUERIES[WARM_QUERY](spark, warm_dir).write.format("noop").mode("overwrite").save()


def start(tmp: str, warm_dir: str, event_log: str | None = None):
    """get_spark + warm-up; returns (spark, get_spark_s, warm_s)."""
    from aurora_mito_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=session_conf(tmp, event_log))
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, warm_dir)
    return spark, t1 - t0, time.perf_counter() - t1


def peak_rss_mib() -> float:
    """VmHWM of this driver process plus its JVM child(ren)."""

    def hwm(pid: int) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    me = os.getpid()
    total = hwm(me)
    for task in os.listdir(f"/proc/{me}/task"):
        with open(f"/proc/{me}/task/{task}/children") as f:
            for child in f.read().split():
                total += hwm(int(child))
    return total / 1024.0


# ---------------------------------------------------------------------------
# Operations
# ---------------------------------------------------------------------------


class Run:
    """State of one benchmark run."""

    def __init__(self, args, workload: Workload, root: str):
        self.args = args
        self.w = workload
        self.build = os.path.join(root, ".bench_build", "perfbench")
        self.tmp = os.environ["PERFBENCH_TMP"]
        # The seed picks where the pool's cycle starts. Every query keeps
        # the same predecessor on every run: a full shuffle made the
        # median bimodal, because a query right after events_pagerank
        # runs up to 1.6x slower than the same query first in a pass.
        k = args.seed % max(len(workload.queries), 1)
        self.order = list(workload.queries[k:] + workload.queries[:k]) or ["pipeline"]
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.corpus = None
        self.counters = None
        self.tracer = Tracer(f"pb{args.seed}", enabled=False)
        self.warm_dir = tables_dir(self.build, SCALES[-1])
        self.pipeline_runs = 0
        self.written: list[int] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)
            log(f"FAILED {what}")

    # -- query workloads ----------------------------------------------------

    def query(self, spark, q: Query, collect: bool):
        from aurora_mito_etl_spark.plans.queries import QUERIES

        with self.tracer.span("plans.build", query=q.name):
            df = QUERIES[q.name](spark, tables_dir(self.build, q.sf))
        with self.tracer.span("operators.action", query=q.name):
            if collect:
                return df.columns, [tuple(r) for r in df.collect()]
            df.write.format("noop").mode("overwrite").save()
        return None

    def check_queries(self, spark, digests: dict) -> None:
        for q in self.order:
            self.attempted += 1
            try:
                cols, rows = self.query(spark, q, collect=True)
            except Exception as e:  # noqa: BLE001 — a failing query is a result
                self.fail(f"{q.name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            got, want = oracle.digest(rows, cols), digests[q.sf][q.name]
            if got != want:
                self.fail(f"{q.name}: digest {got} != oracle {want}")

    # -- reference DAG --------------------------------------------------------

    def pipeline(self, spark) -> tuple[str, tuple[str, str, str]]:
        out = os.path.join(self.tmp, f"release-{self.pipeline_runs}")
        self.pipeline_runs += 1
        return out, etl.run_pipeline(spark, self.corpus, out, self.tracer, self.counters)

    def finish_pipeline(self, out: str, paths: tuple[str, str, str]) -> None:
        """Untimed: check the written release, then remove it."""
        for err in etl.check_release(self.corpus, *paths):
            self.fail(f"release: {err}")
        self.written.append(etl.dir_bytes(out))
        shutil.rmtree(out, ignore_errors=True)

    # -- loops ----------------------------------------------------------------

    def op(self, spark, item, name: str):
        """One timed operation; None when it raised."""
        self.attempted += 1
        try:
            if not self.w.queries:
                return self.pipeline(spark)
            self.query(spark, item, collect=False)
            return ()
        except Exception as e:  # noqa: BLE001 — a failing operation is a result
            self.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            return None

    def timed(self, spark) -> tuple[float, list[tuple[str, float]]]:
        """Whole passes until --seconds have elapsed."""
        lat: list[tuple[str, float]] = []
        self.written = []
        elapsed = 0.0
        while elapsed < self.args.seconds:
            for item in self.order:
                name = getattr(item, "name", item)
                t0 = time.perf_counter()
                with self.tracer.span("op", job_group=False, item=name):
                    res = self.op(spark, item, name)
                dt = time.perf_counter() - t0
                elapsed += dt
                if res is None:
                    continue
                lat.append((name, dt))
                if self.corpus is not None:
                    self.finish_pipeline(*res)
        return elapsed, lat


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(setup, lat) -> dict:
    """setup_s is the run's cold set-up. ops_per_s is the throughput of
    a typical pass: operations per pass over the sum of each
    operation's median latency, so that from three passes on one
    stalled operation does not move it."""
    by_item: dict[str, list[float]] = {}
    for item, t in lat:
        by_item.setdefault(item, []).append(t)
    typical = sum(median(ts) for ts in by_item.values())
    return {
        "setup_s": (setup[0] + setup[1], "s"),
        "ops_per_s": (len(by_item) / typical if typical else 0.0, "1/s"),
    }


def per_layer(run: Run, setup, traced_wall, traced_lat, untraced_wall, untraced_lat, ev) -> dict:
    """Per-op means of the traced window's spans and event-log totals."""
    tr = run.tracer
    ops = [s for s in tr.spans if s.name == "op"]
    n = max(len(ops), 1)
    in_window = {s.id for op in ops for s in tr.subtree(op)}
    spans = [s for s in tr.spans if s.id in in_window]

    def subtree_jobs(s):
        return sum(x.jobs for x in tr.subtree(s))

    def total(name, f=lambda s: s.seconds):
        return sum(f(s) for s in spans if s.name == name) / n

    m: dict[str, tuple[float, str]] = {}
    m["session.get_spark_s"] = (setup[0], "s")
    m["session.warm_s"] = (setup[1], "s")
    m["sources.load_table_s"] = (total("sources.load_table"), "s")
    m["sources.load_table_jobs"] = (total("sources.load_table", lambda s: s.jobs), "count")
    builds = [s for s in spans if s.name == "plans.build"]
    actions = [s for s in spans if s.name == "operators.action"]
    m["plans.build_s"] = (sum(s.seconds for s in builds) / n, "s")
    m["plans.build_jobs"] = (sum(subtree_jobs(s) for s in builds) / n, "count")
    for q in (q.name for q in POOL if q.kind == "iterative"):
        mine = [s for s in builds if s.attrs.get("query") == q]
        k = max(len(mine), 1)
        m[f"plans.build_s.{q}"] = (sum(s.seconds for s in mine) / k, "s")
        m[f"plans.build_jobs.{q}"] = (sum(subtree_jobs(s) for s in mine) / k, "count")
    m["operators.action_s"] = (sum(s.seconds for s in actions) / n, "s")
    m["operators.action_jobs"] = (sum(s.jobs for s in actions) / n, "count")
    m["operators.stages"] = (sum(s.stages for s in spans) / n, "count")
    m["operators.tasks"] = (sum(s.tasks for s in spans) / n, "count")
    for q in (q.name for q in POOL if q.kind == "relational"):
        mine = [s for s in actions if s.attrs.get("query") == q]
        m[f"operators.action_s.{q}"] = (sum(s.seconds for s in mine) / max(len(mine), 1), "s")

    groups = [ev.get(s.group, {}) for s in spans if s.group]

    def ev_sum(key):
        return sum(g.get(key, 0.0) for g in groups)

    for key, unit in (
        ("task_cpu_s", "s"), ("task_run_s", "s"), ("gc_s", "s"), ("deser_s", "s"),
        ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
        ("python_sent_bytes", "B"), ("python_returned_bytes", "B"),
    ):
        m[f"operators.{key}"] = (ev_sum(key) / n, unit)
    cores = os.cpu_count() or 1
    m["operators.cpu_util"] = (ev_sum("task_cpu_s") / (traced_wall * cores) if traced_wall else 0.0, "ratio")

    for stage in ("mesh", "pubtator", "pubmed", "merge_filter", "classify", "finalize"):
        m[f"pipeline.{stage}_s"] = (total(f"pipeline.{stage}"), "s")
    m["pipeline.finalize_jobs"] = (total("pipeline.finalize", lambda s: s.jobs), "count")
    scan = 0.0
    if run.corpus is not None:
        prefix = "file:" + os.path.abspath(run.corpus.pubmed_dir)
        scan = sum(b for g in groups for loc, b in g.get("scans", {}).items() if prefix in loc)
        scan /= run.corpus.pubmed_bytes * n
    m["pipeline.pubmed_scans"] = (scan, "ratio")
    calls, items, fetches = run.counters.snapshot() if run.counters else (0, 0, 0)
    m["operators.llm.calls"] = (calls / n, "count")
    m["operators.llm.items"] = (items / n, "count")
    per_pmid = items / n / run.corpus.classified_pmids if run.corpus else 0.0
    m["operators.llm.items_per_pmid"] = (per_pmid, "ratio")
    m["operators.rest.fetches"] = (fetches / n, "count")
    m["sources.sinks.write_s"] = (total("sources.sinks.write"), "s")
    m["sources.sinks.write_jobs"] = (total("sources.sinks.write", lambda s: s.jobs), "count")
    m["sources.sinks.bytes_written"] = (median(run.written), "B")
    m["sources.sinks.provenance_s"] = (total("sources.sinks.provenance"), "s")
    overhead = 0.0
    if traced_lat and untraced_lat:
        overhead = traced_wall / len(traced_lat) - untraced_wall / len(untraced_lat)
    m["trace.overhead_s"] = (overhead, "s")
    return m


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    w = WORKLOADS[args.workload]
    run = Run(args, w, root)
    cores = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    digests = ensure_build(run.build)

    records = {
        "workload": w.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "cores_used": cores,
        "versions": versions(),
    }
    if w.queries:
        records["pool"] = [f"{q.name}@sf{q.sf}" for q in w.queries]
    else:
        t0 = time.perf_counter()
        run.corpus = gen.write_corpus(os.path.join(run.tmp, "corpus"), args.seed)
        records["corpus"] = {
            "articles": run.corpus.n_articles,
            "shards": gen.CORPUS_SHARDS,
            "pubmed_bytes": run.corpus.pubmed_bytes,
            "total_bytes": run.corpus.total_bytes,
            "released_compounds": len(run.corpus.all_rows),
            "classified_pmids": run.corpus.classified_pmids,
            "generate_s": round(time.perf_counter() - t0, 3),
        }

    spark, *setup = start(run.tmp, run.warm_dir)
    log(f"cold set-up: get_spark {setup[0]:.2f}s, warm-up {setup[1]:.2f}s")

    t0 = time.perf_counter()
    if w.queries:
        run.check_queries(spark, digests)
    elif args.trace:
        # Warm the DAG once so that the baseline and traced windows
        # both time warm runs.
        res = run.op(spark, "pipeline", "pipeline")
        if res is not None:
            run.finish_pipeline(*res)
    log(f"check pass {time.perf_counter() - t0:.1f}s, failed {run.failed}")

    if not args.trace:
        wall, lat = run.timed(spark)
        spark.stop()
        log(f"timed {len(lat)} ops in {wall:.1f}s")
        metrics = end_to_end(setup, lat)
        records["timed_ops"] = [(item, round(t, 3)) for item, t in lat]
    else:
        # A baseline window and the traced window, each in a fresh
        # context, so that the tracing overhead compares like with like.
        spark.stop()
        spark, _, _ = start(run.tmp, run.warm_dir)
        wall, lat = run.timed(spark)
        spark.stop()
        log(f"baseline {len(lat)} ops in {wall:.1f}s")
        ev_dir = os.path.join(run.tmp, "eventlog")
        os.makedirs(ev_dir)
        spark, _, _ = start(run.tmp, run.warm_dir, event_log=ev_dir)
        run.tracer.enabled = True
        run.tracer.sc = spark.sparkContext
        if run.corpus is not None:
            run.counters = etl.Counters(spark.sparkContext)
        restore = _trace_load_table(run.tracer)
        try:
            t_wall, t_lat = run.timed(spark)
        finally:
            restore()
        spark.stop()
        log(f"traced {len(t_lat)} ops in {t_wall:.1f}s")
        ev = parse_event_log(find_event_log(ev_dir))
        metrics = per_layer(run, setup, t_wall, t_lat, wall, lat, ev)
        metrics["session.peak_rss_mib"] = (peak_rss_mib(), "MiB")
        trace_path = os.path.join(run.build, "traces", f"{w.name}-seed{args.seed}.json")
        run.tracer.dump(trace_path, {"records": records})
        records["trace_file"] = os.path.relpath(trace_path, root)
        records["timed_ops"] = [(item, round(t, 3)) for item, t in t_lat]

    records["attempted"] = run.attempted
    records["failed"] = run.failed
    records["failed_ratio"] = run.failed / run.attempted
    records["errors"] = run.errors
    print("records " + json.dumps(records, sort_keys=True))
    for name, (value, unit) in metrics.items():
        print(f"metric {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _trace_load_table(tracer: Tracer):
    """Route the plans module's load_table through a span for the
    traced window; returns the function that undoes it."""
    from aurora_mito_etl_spark.plans import queries

    original = queries.load_table

    def traced(spark_, sf_dir, name):
        with tracer.span("sources.load_table", table=name):
            return original(spark_, sf_dir, name)

    queries.load_table = traced

    def restore():
        queries.load_table = original

    return restore


if __name__ == "__main__":
    sys.exit(main())
