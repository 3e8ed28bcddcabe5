#!/usr/bin/env python
"""Per-query profiler: a thin CLI over ``bench.measure_query``.

Prints, per requested query, the best-of-``--reps`` record by ``wall_s``:
``build_s`` (the Python plan construction, including any Spark jobs the
query starts while building — ``build_jobs``), ``exec_s`` (the noop-sink
run of the whole plan — ``exec_jobs``) and the exec phase's shuffle-write
and spill bytes and peak execution memory (the largest plan node's).
``--explain TAG`` also writes ``.explain("formatted")`` to
.perfbench/plans/<name>_<TAG>.txt (gitignored) so plan claims are
checkable without running Spark. The session's counters are stripped
from the dumps (expression ids ``#n``, ``plan_id=n``, ``RDD[n]``,
lambda variable suffixes) and so are the codegen and query-stage ids
that adaptive execution numbers in whatever order stages happen to be
planned, so the dumps of two source trees diff clean when their plans
are the same: ``diff -r A/.perfbench/plans
B/.perfbench/plans`` is the plan-identity check. ``--json-out`` keeps
the full records, operator counts included.

Usage:
  python scripts/profile_queries.py NAME [NAME...] [--explain TAG] [--reps N]
  python scripts/profile_queries.py --top N   # N most expensive per the
                                              # newest BENCH sidecar
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

# counters in an explain dump that differ between runs of one plan
_SESSION_IDS = (
    (re.compile(r"#\d+|plan_id=\d+"), ""),
    (re.compile(r"(RDD)\[\d+\]"), r"\1"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id]"),
    (re.compile(r"(?m)^Arguments: \d+$"), "Arguments:"),  # query-stage id
)


def _strip_session_ids(txt: str) -> str:
    for pattern, repl in _SESSION_IDS:
        txt = pattern.sub(repl, txt)
    return txt


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--explain", default=None,
                    help="write .perfbench/plans/<name>_<TAG>.txt explain dumps")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    import bench
    from data_integration_case_study_spark.session import get_spark

    names = list(args.names)
    if args.top:
        # the current round's sidecar when it exists, else the newest prior
        current = HERE / f"BENCH_r{bench.ROUND}_local.json"
        path = current if current.exists() else bench._newest_prior_sidecar(HERE)
        t = bench._merge_timing_sections(
            json.loads(path.read_text()) if path else {})
        names += [n for n, _ in sorted(t.items(), key=lambda kv: -kv[1])[: args.top]
                  if n not in names]
    if not names:
        ap.error("no queries given")

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # warm JVM + parquet footers outside any timing
    next(iter(qs.values()))(spark, sf_dir).limit(1).collect()

    plans_dir = HERE / ".perfbench" / "plans"
    if args.explain:
        plans_dir.mkdir(parents=True, exist_ok=True)

    results = {}
    for name in names:
        if name not in qs:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        best = min((bench.measure_query(spark, qs[name], name, sf_dir)
                    for _ in range(args.reps)), key=lambda r: r["wall_s"])
        if args.explain:
            # re-build outside the timing so the dump reflects the same code
            df = qs[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            (plans_dir / f"{name}_{args.explain}.txt").write_text(
                _strip_session_ids(txt))
        results[name] = best
        print(f"{best['wall_s']:8.2f}  (build {best['build_s']:6.2f} "
              f"[{best['build_jobs']} jobs] + exec {best['exec_s']:6.2f})  "
              f"shuffle {best['shuffle_write_bytes']}B spill "
              f"{best['spill_bytes']}B peak "
              f"{best['peak_exec_memory_bytes'] / 2**20:.1f}MiB "
              f"{best['status']}  {name}", flush=True)

    if args.json_out:
        Path(args.json_out).write_text(json.dumps(
            {"sf_dir": sf_dir, "results": results}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
