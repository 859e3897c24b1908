"""One engine process of a benchmark run.

``run.py`` starts this from the checkout root with a fresh state directory
(TMPDIR, SPARK_LOCAL_DIRS, warehouse) and the launch instant. It builds the
session, materializes the workload's input, and then either exits (a set-up
probe, after the cold pass if the workload asks for it) or runs the measured
closed loop and the output check, and writes one JSON result file.

The loop has one client: units run one after another. Pass 0 is cold (first
declaration, codegen, layout builds and checkpoints in this process) and runs
the units in their listed order. The workload's warm-up passes follow
unmeasured, and then the warm passes that fill the measured window of
``--seconds`` (at least two of them); every pass after the cold one runs the
units in an order drawn from the seed. A unit's latency is its declaration
(the ``queries()`` callable, or ``kmer_count``) plus its execution through
the ``noop`` sink.

With ``--trace 1`` the cold pass and every other measured warm pass, from the
first, are traced (spans, job groups, counters; see tracing.py); the warm-up
passes and the other measured ones run untraced, and
the ratio of the two warm-pass medians is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.getcwd())  # the package and tests/, from the checkout root

import tracing as tr  # noqa: E402  (sys.path[0] is this directory)
from workloads import Workload, resolve  # noqa: E402

MB = tr.MB

# additive per-query layer counters summed into a pass
ADDITIVE = [
    "queries.declare_s", "queries.declare_jobs", "streaming.declare_s",
    "sources.layout_write_mb", "sources.layouts_published",
    "codegen.compiles", "codegen.compile_s",
    "operators.exec_s", "operators.jobs", "operators.stages", "operators.tasks",
    "operators.task_run_s", "operators.task_cpu_s", "operators.gc_s",
    "operators.shuffle_write_mb", "operators.shuffle_read_mb",
    "operators.shuffle_fetch_wait_s", "operators.spill_mb", "operators.scan_mb",
    "operators.failed_tasks", "operators.driver_gap_s",
    "functions.pyworker_cpu_s", "plans.py_driver_cpu_s", "plans.jvm_driver_cpu_s",
    "plans.result_mb", "jvm.gc_s",
]
SETTING_KEYS = [
    "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled", "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.codegen.wholeStage", "spark.sql.codegen.cache.maxEntries",
    "spark.sql.execution.arrow.pyspark.enabled", "spark.ui.enabled",
]


class QueryUnits:
    """Declared queries of ``__spark_entry__.queries()``, checked with the
    strict oracle comparison of tests/parity.py."""

    def __init__(self, spark, wl: Workload, fixture: str, seed: int) -> None:
        import __spark_entry__ as entry

        queries = entry.queries()
        self.spark, self.fixture = spark, fixture
        self.fns = {name: queries[name] for name in wl.queries}
        self.oracles = entry.oracle_sql()
        self.windows: dict[str, int] = {}

    def declare(self, name: str):
        return self.fns[name](self.spark, self.fixture)

    def cleanup(self) -> None:
        # what a long-lived driver does between queries (bench.py, parity.py)
        self.spark.catalog.clearCache()
        for jrdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(True)

    def verify(self) -> dict[str, dict]:
        from tests.parity import compare_one, duckdb_con

        con = duckdb_con(self.fixture)
        out = {}
        for name, fn in self.fns.items():
            try:
                r = compare_one(self.spark, con, name, fn, self.oracles.get(name), self.fixture)
            except Exception as exc:  # a failing query is a result, not a crash
                r = {"ok": False, "error": f"{type(exc).__name__}: {exc}"[:500]}
            self.cleanup()
            out[name] = r
        return out


class KmerUnits:
    """The reference's k-mer count over documents chosen by the seed, each
    tiled to ``kmer_chars`` characters and materialized once."""

    def __init__(self, spark, wl: Workload, fixture: str, seed: int) -> None:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

        path = os.path.join(fixture, "documents.parquet")
        n_docs = pq.read_metadata(path).num_rows
        self.doc_ids = sorted(random.Random(seed).sample(range(n_docs), wl.kmer_docs))
        self.spark, self.n, self.ks, self.fixture = spark, wl.kmer_chars, wl.kmer_ks, fixture
        self.corpus = (
            load_table(spark, fixture, "documents")
            .where(F.col("doc_id").isin(self.doc_ids))
            .selectExpr("doc_id", self._tile_sql("text"))
            .localCheckpoint()
        )
        self.windows = {f"kmer_k{k}": len(self.doc_ids) * (self.n - k + 1) for k in self.ks}

    def _tile_sql(self, col: str) -> str:
        n = self.n
        return f"substring(repeat({col}, CAST(ceil({n} / greatest(length({col}), 1)) AS INT)), 1, {n}) AS text"

    def declare(self, name: str):
        from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.kmer import kmer_count

        return kmer_count(self.corpus, k=int(name.removeprefix("kmer_k")), min_count=2, spread=True)

    def cleanup(self) -> None:
        pass  # the corpus checkpoint must survive the run

    def verify(self) -> dict[str, dict]:
        import duckdb

        from tests.parity import frame_signature

        con = duckdb.connect()
        ids = ", ".join(map(str, self.doc_ids))
        con.execute(
            "CREATE TEMP TABLE tiled AS SELECT doc_id, "
            + self._tile_sql("text")
            + f" FROM read_parquet('{self.fixture}/documents.parquet') WHERE doc_id IN ({ids})"
        )
        out = {}
        for k in self.ks:
            name = f"kmer_k{k}"
            try:
                rows = [tuple(r) for r in self.declare(name).collect()]
                oracle = con.sql(
                    f"SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM ("
                    f"SELECT substr(text, i, {k}) AS word FROM ("
                    f"SELECT text, unnest(range(1, length(text) - {k} + 2)) AS i FROM tiled))"
                    f" GROUP BY word HAVING count(*) >= 2"
                ).fetchall()
                mine, theirs = frame_signature(["word", "cnt"], rows), frame_signature(["word", "cnt"], oracle)
                out[name] = {"ok": mine == theirs, "rows": mine[0], "oracle_rows": theirs[0]}
            except Exception as exc:
                out[name] = {"ok": False, "error": f"{type(exc).__name__}: {exc}"[:500]}
        return out


class Tracer:
    """Layer counters around one unit, for the traced passes."""

    def __init__(self, spark) -> None:
        self.jvm = tr.JvmCounters(spark)
        self.stages = tr.StageRecords(spark)
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.layout_root = os.path.join(tempfile.gettempdir(), "smrgh_roundtrip")
        self.cores = spark.sparkContext.defaultParallelism

    def start_pass(self) -> None:
        self.jvm.reset_heap_peak()
        self.stages.new_jobs()  # start attribution from here

    def before(self) -> dict:
        # the CPU clocks are read last, so the tracer's own work before
        # them (the /proc scan, the layout walk, py4j calls) is not counted
        snap = self._counters()
        snap["jvm_cpu_s"] = tr.proc_cpu_s(self.jvm_pid)
        snap["driver_cpu_s"] = time.process_time()
        return snap

    def after(self) -> dict:
        # ... and first here
        driver_cpu_s = time.process_time()
        jvm_cpu_s = tr.proc_cpu_s(self.jvm_pid)
        return {**self._counters(), "jvm_cpu_s": jvm_cpu_s, "driver_cpu_s": driver_cpu_s}

    def _counters(self) -> dict:
        size, entries = tr.layout_stats(self.layout_root)
        return {
            "compiles": self.jvm.compiles(), "compile_s": self.jvm.compile_s(),
            "gc_s": self.jvm.gc_s(), "pyworker_cpu_s": tr.pyworker_cpu_s(self.jvm_pid),
            "layout_bytes": size, "layouts": entries,
        }

    def layers(self, name: str, before: dict, after: dict, rec: dict) -> dict:
        # every job since the previous query is this query's
        declare_jobs, exec_jobs = tr.split_at(self.stages.new_jobs(), rec["execute_wall"][0])
        declare_stages = self.stages.stage_attempts(declare_jobs)
        ops = tr.stage_totals(self.stages.stage_attempts(exec_jobs), *rec["execute_wall"])
        declare_task_cpu_s = tr.stage_totals(declare_stages, 0, 0)["task_cpu_s"]
        d = {k: after[k] - before[k] for k in before}
        out = {
            "queries.declare_s": rec["declare_s"],
            "queries.declare_jobs": len(declare_jobs),
            "streaming.declare_s": rec["declare_s"] if name.startswith("stream_") else 0.0,
            "sources.layout_write_mb": max(0, d["layout_bytes"]) / MB,
            "sources.layouts_published": max(0, d["layouts"]),
            "codegen.compiles": d["compiles"],
            "codegen.compile_s": d["compile_s"],
            "operators.exec_s": rec["execute_s"],
            "operators.jobs": len(exec_jobs),
            "functions.pyworker_cpu_s": d["pyworker_cpu_s"],
            "plans.py_driver_cpu_s": d["driver_cpu_s"],
            # local mode: the tasks run in the JVM, so its CPU minus theirs
            # is the driver side (planning, codegen, scheduling, GC, JIT)
            "plans.jvm_driver_cpu_s": d["jvm_cpu_s"] - ops["task_cpu_s"] - declare_task_cpu_s,
            "plans.result_mb": ops.pop("result_mb") + sum(a.get("resultSize", 0) for a in declare_stages) / MB,
            "jvm.gc_s": d["gc_s"],
        }
        out.update({f"operators.{k}": v for k, v in ops.items()})
        # Spark's own job times against the client's phase windows: every
        # execute job must run inside the execute span, and every declare
        # job must have ended before execution began
        lo, hi = rec["execute_wall"]
        rec["jobs_outside_s"] = max(
            [tr.outside(j, lo, hi) for j in exec_jobs]
            + [tr.outside(j, rec["declare_wall"][0], lo) for j in declare_jobs]
            + [0.0]
        )
        return out


def _order(names: list[str], seed: int, index: int) -> list[str]:
    """The units of warm pass ``index`` in an order drawn from the seed."""
    order = names[:]
    random.Random(f"{seed}:{index}").shuffle(order)
    return order


def run_pass(index: int, units, order: list[str], spans: tr.Spans, run_span: int,
             tracer: Tracer | None, last: dict, warmup: bool = False) -> dict:
    pass_span = spans.open("pass", run_span, index=index, traced=tracer is not None, warmup=warmup)
    if tracer:
        _in_span(spans, "trace", pass_span, tracer.start_pass)
    records = []
    for name in order:
        rec = {"name": name, "error": None}
        before = _in_span(spans, "trace", pass_span, tracer.before) if tracer else None
        q_span = spans.open("query", pass_span, query=name)
        df = None
        try:
            rec["declare_s"], rec["declare_wall"], df = _timed(spans, "declare", q_span, units.declare, name)
            rec["execute_s"], rec["execute_wall"], _ = _timed(
                spans, "execute", q_span, lambda d: d.write.format("noop").mode("overwrite").save(), df
            )
        except Exception as exc:  # a failing query is counted, the loop goes on
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        rec["wall_s"] = spans.close(q_span)
        rec["plan_cache_hit"] = df is not None and last.get(name) is df
        if df is not None:
            last[name] = df
        if tracer and rec["error"] is None:
            after = _in_span(spans, "trace", pass_span, tracer.after)
            rec["layers"] = _in_span(spans, "trace", pass_span, tracer.layers, name, before, after, rec)
        _in_span(spans, "cleanup", pass_span, units.cleanup)
        records.append(rec)
    wall = spans.close(pass_span)
    out = {"index": index, "cold": index == 0, "warmup": warmup, "traced": tracer is not None,
           "wall_s": wall, "queries": records,
           # pass wall not covered by a query, trace or cleanup span
           "unaccounted_s": wall - spans.children_s(pass_span)}
    if tracer:
        out["layers"] = pass_layers(records, tracer)
    return out


def _timed(spans: tr.Spans, name: str, parent: int, fn, arg):
    """(seconds, (epoch start, epoch end), result) of ``fn(arg)`` in a span."""
    span = spans.open(name, parent)
    wall0 = time.time()
    result = fn(arg)
    wall1 = time.time()
    return spans.close(span), (wall0, wall1), result


def _in_span(spans: tr.Spans, name: str, parent: int, fn, *args):
    span = spans.open(name, parent)
    try:
        return fn(*args)
    finally:
        spans.close(span)


def pass_layers(records: list[dict], tracer: Tracer) -> dict:
    traced = [r["layers"] for r in records if "layers" in r]
    out = {k: sum(t[k] for t in traced) for k in ADDITIVE}
    out["operators.peak_exec_mem_mb"] = max((t["operators.peak_exec_mem_mb"] for t in traced), default=0.0)
    out["queries.plan_cache_hit_ratio"] = sum(r["plan_cache_hit"] for r in records) / len(records)
    exec_s = out["operators.exec_s"]
    out["operators.core_busy_ratio"] = (
        out["operators.task_run_s"] / (exec_s * tracer.cores) if exec_s > 0 else 0.0
    )
    out["jvm.heap_peak_mb"] = tracer.jvm.heap_peak_mb()
    return out


def settings(spark) -> dict:
    out = {k: spark.conf.get(k, None) for k in SETTING_KEYS}
    out.update({k: v for k, v in sorted(os.environ.items())
                if k.startswith(("SMRGH_", "SPARK_GRAFT_"))})
    out["host_cpus"] = os.cpu_count()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--probe", action="store_true", help="set up, report, exit")
    ap.add_argument("--launched", type=float, required=True, help="time.monotonic() at launch")
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    wl = resolve(args.workload, args.smoke)
    traced = bool(args.trace) and not args.probe

    spans = tr.Spans()
    run_span = spans.open("run", workload=wl.name, seed=args.seed)
    setup_span = spans.open("setup", run_span)
    from sycl_mapreduce_cpu_gpu_hybrid_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": args.warehouse}
    if traced:
        conf["spark.ui.enabled"] = "true"
    start_span = spans.open("session.get_spark", setup_span)
    spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
    session_start_s = spans.close(start_span)
    spark.sparkContext.setLogLevel("ERROR")
    units = (KmerUnits if wl.kind == "kmer" else QueryUnits)(spark, wl, args.fixture, args.seed)
    spans.close(setup_span)
    setup_s = time.monotonic() - args.launched
    result: dict = {"setup_s": setup_s, "session_start_s": session_start_s}
    tracer = Tracer(spark) if traced else None
    names = wl.units()
    last: dict = {}
    if args.probe:
        if wl.probes_run_cold_pass:
            result["passes"] = [run_pass(0, units, names, spans, run_span, None, last)]
        _write(args.out, result)
        spark.stop()
        return
    # the cold pass runs the units in their listed order, so each
    # first-of-its-kind cost (first job, first shuffle, first Python
    # worker) lands on the same unit in every run
    passes = [run_pass(0, units, names, spans, run_span, tracer, last)]
    for i in range(1, 1 + wl.warmup_passes):
        passes.append(run_pass(i, units, _order(names, args.seed, i), spans, run_span, None, last,
                               warmup=True))
    first = len(passes)
    window0 = time.monotonic()
    while len(passes) < first + 2 or time.monotonic() - window0 < args.seconds:
        i = len(passes)
        traced_pass = tracer if (i - first) % 2 == 0 else None
        passes.append(run_pass(i, units, _order(names, args.seed, i), spans, run_span, traced_pass, last))
    result["window_s"] = time.monotonic() - window0

    verify_span = spans.open("verify", run_span)
    result["verification"] = units.verify()
    result["verify_s"] = spans.close(verify_span)
    spans.close(run_span)
    result.update(
        passes=passes, windows=units.windows, settings=settings(spark),
    )
    if traced:
        result["spans"] = spans.with_self_time()
    _write(args.out, result)
    spark.stop()


def _write(path: str, obj: dict) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    try:
        main()
    except Exception:
        traceback.print_exc()
        sys.exit(1)
