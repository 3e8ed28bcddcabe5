#!/usr/bin/env python3
"""Benchmark: one closed-loop client on one ``local[nproc]`` Spark session.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. A run:

1. generates the seeded inputs under ``.perfbench/data`` (reused when the
   row counts match) and the oracle digests for them (cached);
2. sets up: ``session.get_spark`` in a fresh JVM, catalog import and one
   cheap warm-up query on the workload's input (``setup_s``);
3. runs WARM_PASSES untimed passes: the JIT warms per call, so a count
   of passes, not a time, gives a slow host as much warm-up as a fast one;
4. runs timed passes, each query starting after the previous one's sink
   write completes, until ``--seconds`` have passed (at least three
   passes); wall and latency are medians over them. Query order is a
   seeded permutation per pass;
5. runs a check pass: every query once, its output compared with its DuckDB
   twin from ``oracle_sql()`` (the integration outputs are read back from
   the sink).

Set-up, query and pass walls are unstolen (see ``unstolen``): scaled by the
share of runnable CPU time the hypervisor did not steal while they ran. The
raw walls and the busy and stolen CPU seconds behind them are kept in the
record; per-layer span times are raw.

With ``--trace 0`` the result line carries the end-to-end metrics. With
``--trace 1`` untraced and traced passes alternate, and it carries the
per-layer metrics, including the tracing overhead (traced over untraced
pass wall).
Every run writes its full record (environment, per-query detail, spans)
to ``.perfbench/runs``; ``python3 perfbench/show.py`` prints it.
The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"

sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s",
              "peak_mem_mb": "MB", "ok_share": "ratio"}
OPERATORS = ("dedup", "similarity", "graph", "iterate", "cache", "integrate",
             "join", "merge", "profile", "quality", "sketches")
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.eager_executions": "count",
    "plans.eager_exec_s": "s",
    "sources.read_calls": "count", "sources.read_s": "s",
    "sources.reread_ratio": "ratio", "sources.write_s": "s",
    "sources.bytes_written": "B", "sources.files_written": "count",
    **{f"operators.{m}.{k}": u for m in OPERATORS
       for k, u in (("calls", "count"), ("s", "s"))},
    "functions.calls": "count", "functions.s": "s",
    "multimodal.calls": "count", "multimodal.python_rows": "count",
    "multimodal.python_bytes_sent": "B",
    "multimodal.python_bytes_returned": "B",
    "spark.plan_s": "s",
    "spark.exec_s": "s", "spark.sql_executions": "count", "spark.jobs": "count",
    "spark.tasks": "count", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.spill_bytes": "B",
    "spark.peak_exec_memory_bytes": "B", "spark.gc_s": "s",
    "spark.agg_time_s": "s", "spark.sort_time_s": "s",
    "spark.join.broadcast": "count", "spark.join.smj": "count",
    "spark.join.shj": "count",
    "jvm.peak_rss_mb": "MB",
    "trace.wall_s": "s", "trace.overhead_ratio": "ratio",
}
MIN_PASSES = 3
WARM_PASSES = 4
TCK = os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int | str) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_s() -> tuple[float, float]:
    """Busy and stolen CPU seconds of this machine so far, summed over CPUs."""
    f = [int(x) for x in
         Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / TCK, f[7] / TCK


def _cpu_delta(c0: tuple[float, float]) -> dict:
    c1 = _cpu_s()
    return {"busy_s": c1[0] - c0[0], "steal_s": c1[1] - c0[1]}


def unstolen(wall: float, cpu: dict) -> float:
    """``wall`` scaled by the share of runnable CPU time in it that the
    hypervisor did not steal, busy / (busy + stolen): the wall the same work
    would take with the CPUs to itself, if steal slows all of it evenly. On
    a shared host steal moves from run to run (0-45 % of a pass on a 4-vCPU
    VM), and unscaled walls follow it."""
    runnable = cpu["busy_s"] + cpu["steal_s"]
    return wall * cpu["busy_s"] / runnable if runnable > 0 else wall


def _raised(e: Exception) -> str:
    first = (str(e).strip().splitlines() or [""])[0]
    return f"raised {type(e).__name__}: {first[:300]}"


def _pin_environment(run_dir: Path) -> int:
    """Core count and Spark local dirs for this run, set before the package is
    imported (session.py reads SPARK_GRAFT_CPUS at import)."""
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # Python workers (mapInPandas, pandas_udf) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    return nproc


class Bench:
    """One run: the session, the catalog and what was measured."""

    def __init__(self, wl, seed: int, seconds: float, trace: bool):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.run_dir = STATE / "tmp" / f"run-{os.getpid()}"
        self.out_dir = self.run_dir / "out"
        self.rng = random.Random(seed)
        self.record: dict = {"workload": wl.name, "seed": seed,
                             "seconds": seconds, "trace": int(trace)}
        self.failures: list[dict] = []
        self.attempted = 0
        self.spark = None

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        # pyspark's own import stays outside setup_s
        import pyspark.sql  # noqa: F401

        c0 = _cpu_s()
        t0 = time.perf_counter()
        from data_integration_case_study_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        import __spark_entry__ as entry

        self.queries = entry.queries()
        t2 = time.perf_counter()
        self._warmup()
        t3 = time.perf_counter()
        cpu = _cpu_delta(c0)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.record["setup"] = {
            "setup_s": unstolen(t3 - t0, cpu), "start_s": unstolen(t1 - t0, cpu),
            "catalog_import_s": unstolen(t2 - t1, cpu),
            "warmup_s": unstolen(t3 - t2, cpu), **cpu}

    def _warmup(self) -> None:
        from data_integration_case_study_spark.sources import readers

        readers.read_parquet_table(
            self.spark, self.sf_dir, self.wl.warmup_table).count()

    # -- one query -----------------------------------------------------------
    def _sink(self, name: str, df) -> None:
        if name in self.wl.gated:
            from pyspark.sql import functions as F

            from data_integration_case_study_spark.sources import sinks

            sinks.write_with_quality_gate(
                df, str(self.out_dir / name),
                {"n_rows": (F.count(F.lit(1)), lambda n: n > 0)})
        else:
            df.write.format("noop").mode("overwrite").save()

    def _reset(self) -> None:
        from bench import reset_session_state

        reset_session_state(self.spark)

    def check_pass(self, expected: dict) -> list[dict]:
        """Every query once, untimed, its output checked against the oracle."""
        import oracle

        rows_out = []
        for name in self.wl.queries:
            self._reset()
            self.store.drain()
            m0 = self.store.marker()
            row = {"query": name}
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = self.queries[name](self.spark, self.sf_dir)
                row["build_s"] = time.perf_counter() - t0
                self.store.drain()
                m1 = self.store.marker()
                if name in self.wl.gated:
                    self._sink(name, df)
                    out = self.spark.read.parquet(str(self.out_dir / name))
                    cols, rows = out.columns, [tuple(r) for r in out.collect()]
                else:
                    cols, rows = df.columns, [tuple(r) for r in df.collect()]
                self.store.drain()
                row["eager_executions"] = m1 - m0
                eager = self.store.executions_after(m0, m1)
                execs = self.store.executions_after(m1)
                row["plan_digest"] = dict(sum(
                    (Counter(e["operators"]) for e in execs), Counter()))
                # Spark-accounted memory: the largest operator peak-memory
                # total plus the storage memory still held by persists
                row["peak_mem_bytes"] = max(
                    (e.get("peak_exec_memory_bytes", 0) for e in eager + execs),
                    default=0) + self.store.executor_totals().get(
                        "storage_used_bytes", 0)
                row["oracle"] = oracle.check(rows, cols, expected[name]) or "ok"
            except Exception as e:  # a failing query is counted, not fatal
                row["oracle"] = _raised(e)
                traceback.print_exc(file=sys.stderr)
            row["check_s"] = time.perf_counter() - t0
            if row["oracle"] != "ok":
                self.failures.append({"query": name, "diff": row["oracle"]})
            rows_out.append(row)
        return rows_out

    def timed_query(self, name: str) -> dict:
        self._reset()
        self.attempted += 1
        try:
            c0 = _cpu_s()
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            self._sink(name, df)
            t2 = time.perf_counter()
            cpu = _cpu_delta(c0)
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            self.failures.append({"query": name,
                                  "diff": _raised(e)})
            return {"query": name, "failed": True}
        return {"query": name, "build_s": t1 - t0, "exec_s": t2 - t1,
                "wall_s": t2 - t0, "unstolen_s": unstolen(t2 - t0, cpu), **cpu}

    def traced_query(self, name: str, tracer) -> dict:
        """One query with spans around build, plan and sink, and the status
        stores read before and after it."""
        self._reset()
        self.attempted += 1
        self.store.drain()
        m0, ex0 = self.store.marker(), self.store.executor_totals()
        tracer.query = name
        reads_before, written = len(tracer.tables_read), None
        c0 = _cpu_s()
        try:
            with tracer.span("query") as q:
                with tracer.span("plans.build") as b:
                    df = self.queries[name](self.spark, self.sf_dir)
                self.store.drain()
                m1 = self.store.marker()
                with tracer.span("spark.plan") as p:
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("spark.exec") as x:
                    self._sink(name, df)
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            self.failures.append({"query": name,
                                  "diff": _raised(e)})
            return {"query": name, "failed": True}
        cpu = _cpu_delta(c0)
        self.store.drain()
        m2, ex1 = self.store.marker(), self.store.executor_totals()
        eager = self.store.executions_after(m0, m1)
        execs = self.store.executions_after(m1, m2)
        if name in self.wl.gated:
            files = [f for f in (self.out_dir / name).rglob("*")
                     if f.is_file() and not f.name.startswith((".", "_"))]
            written = {"bytes": sum(f.stat().st_size for f in files),
                       "files": len(files)}
        tables = tracer.tables_read[reads_before:]
        total = Counter()
        for e in eager + execs:
            for k, v in e.items():
                if k not in ("id", "submitted_ms", "operators", "duration_s"):
                    total[k] = (max(total[k], v) if k == "peak_exec_memory_bytes"
                                else total[k] + v)
        return {
            "query": name, "wall_s": q.seconds,
            "unstolen_s": unstolen(q.seconds, cpu), **cpu, "build_s": b.seconds,
            "plan_s": p.seconds, "exec_s": x.seconds,
            "eager_executions": len(eager),
            "eager_exec_s": sum(e["duration_s"] or 0.0 for e in eager),
            "sql_executions": len(eager) + len(execs),
            "read_calls": len(tables), "distinct_tables": len(set(tables)),
            "written": written,
            "executor": {k: ex1.get(k, 0) - ex0.get(k, 0) for k in ex1},
            "sql": dict(total),
            "plan_digest": dict(sum((Counter(e["operators"]) for e in execs),
                                    Counter())),
        }

    # -- passes ------------------------------------------------------------
    def one_pass(self, order: list[str], run_one) -> dict:
        """The queries in ``order``, with the peak resident memory of the
        driver JVM plus this process over the pass (the kernel's peak
        counters are reset first)."""
        for pid in (self.jvm_pid, "self"):
            Path(f"/proc/{pid}/clear_refs").write_text("5")
        queries = [run_one(n) for n in order]
        peak_kb = _vm_hwm_kb(self.jvm_pid) + _vm_hwm_kb("self")
        return {"wall_s": sum(q.get("wall_s", 0.0) for q in queries),
                "unstolen_s": sum(q.get("unstolen_s", 0.0) for q in queries),
                "peak_rss_mb": peak_kb / 1024, "queries": queries}

    def passes(self, run_one) -> list[dict]:
        """Closed loop: whole passes until ``seconds`` have passed, at least
        MIN_PASSES of them."""
        out = []
        start = time.perf_counter()
        while (len(out) < MIN_PASSES
               or time.perf_counter() - start < self.seconds):
            out.append(self.one_pass(self._order(), run_one))
        return out

    def _order(self) -> list[str]:
        return self.rng.sample(self.wl.queries, len(self.wl.queries))

    def run(self) -> dict:
        import oracle
        from statusstore import StatusStore

        STATE.mkdir(exist_ok=True)
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.out_dir.mkdir(parents=True)
        nproc = _pin_environment(self.run_dir)
        cpu0 = _cpu_s()
        env = {"nproc": nproc, "load1_start": os.getloadavg()[0],
               "python": sys.version.split()[0]}
        t_start = time.perf_counter()
        self.sf_dir = str(gen.ensure_inputs(STATE / "data", self.seed,
                                            self.wl.copies))
        t_inputs = time.perf_counter()
        self.record["inputs"] = {"dir": self.sf_dir,
                                 "rows": gen.row_counts(Path(self.sf_dir))}
        self.setup()
        import pyspark

        jvm = self.spark.sparkContext._jvm
        self.jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        env.update(pyspark=pyspark.__version__,
                   java=jvm.System.getProperty("java.version"))
        self.store = StatusStore(self.spark)
        t_setup = time.perf_counter()
        self.record["warm_passes"] = [
            self.one_pass(self._order(), self.timed_query)
            for _ in range(WARM_PASSES)]
        t_warm = time.perf_counter()
        if self.trace:
            self._traced_passes()
        else:
            self.record["passes"] = self.passes(self.timed_query)
        t_passes = time.perf_counter()
        import __spark_entry__ as entry

        expected = oracle.expected(
            Path(self.sf_dir), list(self.wl.queries), entry.oracle_sql(),
            Path(self.sf_dir) / "oracle.json")
        t_oracle = time.perf_counter()
        self.record["check_pass"] = self.check_pass(expected)
        t_check = time.perf_counter()
        env["load1_end"] = os.getloadavg()[0]
        cpu = _cpu_delta(cpu0)
        env["cpu_steal_share"] = cpu["steal_s"] / (cpu["busy_s"]
                                                   + cpu["steal_s"])
        self.record["phases_s"] = {
            "inputs": t_inputs - t_start, "setup": t_setup - t_inputs,
            "warm_passes": t_warm - t_setup, "passes": t_passes - t_warm,
            "oracle": t_oracle - t_passes, "check_pass": t_check - t_oracle}
        self.record["env"] = env
        self.record["failures"] = self.failures
        return self.record

    def _traced_passes(self) -> None:
        """Untraced and traced passes alternate, so warming over the run
        does not bias the tracing overhead."""
        from layers import Tracer

        tracer = Tracer()
        untraced, traced = [], []

        start = time.perf_counter()
        while (len(traced) < MIN_PASSES
               or time.perf_counter() - start < self.seconds):
            order = self._order()
            untraced.append(self.one_pass(order, self.timed_query))
            tracer.install()
            try:
                traced.append(self.one_pass(
                    order, lambda n: self.traced_query(n, tracer)))
            finally:
                tracer.uninstall()
        self.record["passes"] = untraced
        self.record["traced_passes"] = traced
        self.record["spans"] = tracer.spans
        self.record["layers"] = {"calls": dict(tracer.calls),
                                 "seconds": dict(tracer.seconds)}

    def stop(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.run_dir, ignore_errors=True)


def end_to_end(rec: dict) -> dict:
    passes = rec["passes"]
    per_query: dict[str, list[float]] = {}
    for p in passes:
        for q in p["queries"]:
            if "unstolen_s" in q:
                per_query.setdefault(q["query"], []).append(q["unstolen_s"])
    # the median query's typical wall: a median pooled over all the walls
    # of a few queries of different lengths jumps between them
    return {"setup_s": rec["setup"]["setup_s"],
            "wall_s": statistics.median(p["unstolen_s"] for p in passes),
            "query_p50_s": statistics.median(
                statistics.median(w) for w in per_query.values()),
            "peak_mem_mb": max(q.get("peak_mem_bytes", 0)
                               for q in rec["check_pass"]) / 2**20,
            "ok_share": 1 - rec["failed"] / rec["attempted"]}


def per_layer(rec: dict) -> dict:
    traced = [q for p in rec["traced_passes"] for q in p["queries"]
              if "wall_s" in q]
    n = len(rec["traced_passes"])
    calls, secs = rec["layers"]["calls"], rec["layers"]["seconds"]

    def tot(key: str, sub: str | None = None) -> float:
        return sum((q[sub] if sub else q).get(key) or 0 for q in traced) / n

    def written(key: str) -> float:
        return sum((q["written"] or {}).get(key, 0) for q in traced) / n

    m = {
        "session.start_s": rec["setup"]["start_s"],
        "session.warmup_s": rec["setup"]["warmup_s"],
        "plans.build_s": tot("build_s"),
        "plans.eager_executions": tot("eager_executions"),
        "plans.eager_exec_s": tot("eager_exec_s"),
        "sources.read_calls": calls.get("sources.read", 0) / n,
        "sources.read_s": secs.get("sources.read", 0.0) / n,
        "sources.reread_ratio": (sum(q["read_calls"] for q in traced)
                                 / max(1, sum(q["distinct_tables"]
                                              for q in traced))),
        "sources.write_s": secs.get("sources.write", 0.0) / n,
        "sources.bytes_written": written("bytes"),
        "sources.files_written": written("files"),
        "functions.calls": calls.get("functions", 0) / n,
        "functions.s": secs.get("functions", 0.0) / n,
        "multimodal.calls": calls.get("multimodal", 0) / n,
        "multimodal.python_rows": tot("python_rows", "sql"),
        "multimodal.python_bytes_sent": tot("python_bytes_sent", "sql"),
        "multimodal.python_bytes_returned": tot("python_bytes_returned", "sql"),
        "spark.plan_s": tot("plan_s"),
        "spark.exec_s": tot("exec_s"),
        "spark.sql_executions": tot("sql_executions"),
        "spark.jobs": tot("jobs", "sql"),
        "spark.tasks": tot("tasks", "executor"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes", "executor"),
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes", "executor"),
        "spark.spill_bytes": tot("spill_bytes", "sql"),
        "spark.peak_exec_memory_bytes": max(
            [q["sql"].get("peak_exec_memory_bytes", 0) for q in traced],
            default=0),
        "spark.gc_s": tot("gc_s", "executor"),
        "spark.agg_time_s": tot("agg_time_s", "sql"),
        "spark.sort_time_s": tot("sort_time_s", "sql"),
        "spark.join.broadcast": tot("join_broadcast", "sql"),
        "spark.join.smj": tot("join_smj", "sql"),
        "spark.join.shj": tot("join_shj", "sql"),
    }
    for op in OPERATORS:
        m[f"operators.{op}.calls"] = calls.get(f"operators.{op}", 0) / n
        m[f"operators.{op}.s"] = secs.get(f"operators.{op}", 0.0) / n
    m["jvm.peak_rss_mb"] = statistics.median(
        p["peak_rss_mb"] for p in rec["passes"])
    traced_wall = statistics.median(
        p["unstolen_s"] for p in rec["traced_passes"])
    m["trace.wall_s"] = traced_wall
    m["trace.overhead_ratio"] = traced_wall / statistics.median(
        p["unstolen_s"] for p in rec["passes"])
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace))
    try:
        rec = bench.run()
    finally:
        bench.stop()
    rec["attempted"] = bench.attempted
    rec["failed"] = len(bench.failures)
    units = PER_LAYER if args.trace else END_TO_END
    values = per_layer(rec) if args.trace else end_to_end(rec)
    rec["metrics"] = {k: {"value": values[k], "unit": u}
                      for k, u in units.items()}
    runs = STATE / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    path = runs / (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                   f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    path.write_text(json.dumps(rec, indent=1, default=str))
    print(f"record: {path.relative_to(ROOT)}", file=sys.stderr)
    print(json.dumps({"correct": not bench.failures,
                      "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": rec["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
