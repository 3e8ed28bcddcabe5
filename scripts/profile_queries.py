#!/usr/bin/env python
"""Per-query optimization profiler (round 11, guide §1 "measure first").

For each requested query: isolates session state (bench's own
reset_session_state), then measures
  - build_s: Python plan-construction time (the DataFrame DSL walk —
    driver-side, single-threaded; includes any eager .first()/count()
    actions a query runs while building),
  - exec_s: the noop-sink wall (guide §1.4 — computes every column of
    every row, ships nothing to the driver),
and optionally writes `.explain("formatted")` to
.perfbench/plans/<name>_<tag>.txt (gitignored) so plan claims are
checkable without running Spark.

Usage:
  python scripts/profile_queries.py NAME [NAME...] [--explain TAG] [--reps N]
  python scripts/profile_queries.py --top N   # N most expensive per the
                                              # newest BENCH sidecar
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))


def newest_sidecar() -> dict:
    import re

    best = None
    for p in HERE.glob("BENCH_r*_local.json"):
        m = re.fullmatch(r"BENCH_r(\d+)_local\.json", p.name)
        if m and (best is None or int(m.group(1)) > best[0]):
            best = (int(m.group(1)), p)
    return json.loads(best[1].read_text()) if best else {}


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
    from bench import _merge_timing_sections, reset_session_state
    from data_integration_case_study_spark.session import get_spark

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    names = list(args.names)
    if args.top:
        t = _merge_timing_sections(newest_sidecar())
        names += [n for n, _ in sorted(t.items(), key=lambda kv: -kv[1])[: args.top]
                  if n not in names]
    if not names:
        ap.error("no queries given")

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
        best = None
        for _ in range(args.reps):
            reset_session_state(spark)
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            row = {"build_s": round(t1 - t0, 3), "exec_s": round(t2 - t1, 3),
                   "total_s": round(t2 - t0, 3)}
            if best is None or row["total_s"] < best["total_s"]:
                best = row
        if args.explain:
            # re-build outside the timing so the dump reflects the same code
            df = qs[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            (plans_dir / f"{name}_{args.explain}.txt").write_text(txt)
        results[name] = best
        print(f"{best['total_s']:8.2f}  (build {best['build_s']:6.2f} + "
              f"exec {best['exec_s']:6.2f})  {name}", flush=True)

    if args.json_out:
        Path(args.json_out).write_text(json.dumps(
            {"sf_dir": sf_dir, "results": results}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
