#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE COMPACT JSON line as the FINAL stdout line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...15...},
     "extras_total": N, "extras_count": N, "detail": "...", "sf": ...}

``value`` is total wall time of the 15 pinned headline queries (each
executed to completion via a noop-format write so the full plan runs
without shipping result rows to the driver). The FULL per-query detail
(all catalog queries) is written to ``BENCH_r{ROUND}_local.json`` next to
this file — round 4's lesson: the driver captures only an output tail, so
a single ~9 KB JSON line truncated and BENCH_r04.json parsed as null.
The stdout line stays <1 KB regardless of catalog size.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback
import uuid
from collections import Counter
from contextlib import contextmanager
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from data_integration_case_study_spark.session import (  # noqa: E402
    class_archive_state,
    local_cores,
)

# Bumped once per driver round so the full-detail sidecar file name matches
# the round's BENCH_r{N}.json record. NOTE for round-over-round diffs: since
# round 10 the timing sections hold inline-GATED walls (best-of-2 for the
# noisy minority that would otherwise flag, single-pass for everything
# else), so baselines for noisy queries are floor-biased — the gate
# re-clears them inline, but a raw sidecar-vs-sidecar diff slightly
# overstates regressions for queries that were gated last round.
ROUND = "12"

# Per-query regression thresholds, shared by the end-stage diff
# (_regressions) and the inline first-pass gate (gate_first_pass): a
# flag needs ratio > REG_RATIO AND an absolute delta > REG_ABS_SECONDS
# (sub-0.5 s deltas are JVM/GC noise at sf0.1).
REG_RATIO = 1.5
REG_ABS_SECONDS = 0.5

# How long measure_query waits, after its watchdog cancelled a query, for
# the cancelled stages to end before it records them as orphaned.
ORPHAN_WAIT_S = 30.0

# Headline set: exercises scan+join+agg, windows, sessionization, temporal
# joins, integration, dedup (exact/LSH), text, and vector paths.
HEADLINE = [
    "flagship_revenue_by_nation",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "window_rank_orders",
    "session_windows_4h",
    "asof_click_purchase",
    "integration_entities",
    "p_norm_phone",
    "term_frequency",
    "exact_dedup_documents",
    "minhash_lsh_neardups",
    "cosine_topk",
    "range_count_prefix_sum",
    "tf_idf",
]


class UnknownHeadlineQueryError(LookupError):
    """A HEADLINE name is not in the catalog: the headline total would
    silently cover fewer queries."""


def _env_fingerprint() -> dict:
    """One-line box fingerprint carried in the bench JSON.

    Round 5 showed a 1.67x headline delta between two boxes running
    IDENTICAL code (driver 37.3s vs solo 22.3s, uniform 1.25-2.4x
    per-query including scan shapes untouched since round 2). This block
    lets a verdict separate box contention from a real regression."""
    import platform

    fp: dict = {
        # Effective core count: Spark's master is local[$SPARK_GRAFT_CPUS]
        # (session.py), so the fingerprint must report the SAME number or
        # a low-core driver run is unreadable from the record (the r11
        # scaling block flagged suspect_cpus_ignored on exactly this).
        "cpus": local_cores(),
        "platform": platform.platform(),
        "python": platform.python_version(),
    }
    try:
        fp["load_avg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    try:
        import subprocess

        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=15
        )
        # `java -version` prints to stderr; first line carries the version
        fp["java"] = (out.stderr or out.stdout).splitlines()[0].strip()
    except Exception as e:
        # sentinel, not absence: a fingerprint missing "java" entirely is
        # indistinguishable from a box where the probe itself failed
        fp["java"] = f"probe-failed: {type(e).__name__}"
    try:
        meminfo = Path("/proc/meminfo").read_text()
        for key, label in (("MemTotal", "mem_total_gb"),
                           ("MemAvailable", "mem_avail_gb")):
            for line in meminfo.splitlines():
                if line.startswith(key + ":"):
                    fp[label] = round(int(line.split()[1]) / 1048576, 1)
    except OSError:
        pass
    # mapped / recording / rejected / off:<reason>: the driver JVM's start
    # with or without the class archive (session.py), so a setup shift in
    # the record explains itself
    fp["class_archive"] = class_archive_state()
    return fp


def reset_session_state(spark) -> None:
    """Inter-query isolation, OUTSIDE any timed region. Called by
    ``measure_query`` (the one timing path of bench, the profiler and
    both sf1-probe modes) and by perfbench's runner.

    - clearCache: queries that persist() intermediates (minhash, tf_idf)
      must not donate cached blocks to — or steal memory from — the next
      timing.
    - unpersist all persistent RDDs: localCheckpoint blocks (iterative
      graph queries) live outside the SQL cache and py4j reference
      latency defers their GC-based release indefinitely.
    - System.gc: pay earlier queries' GC/ContextCleaner debt here —
      without it, late-slot timings absorb stop-the-world pauses caused
      by earlier queries' garbage (observed 3x swings on unchanged code).
    """
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    spark.sparkContext._jvm.System.gc()


@contextmanager
def _watchdog(sc, cap: float | None):
    """Cancel the block's Spark jobs every 2 s once ``cap`` seconds have
    passed, until the block ends (a one-shot cancel can land between the
    sequential jobs of one action and miss the next). Yields an Event set
    BEFORE the first cancel, so timeouts are classified from the
    watchdog's own record. ``cap=None`` starts no thread."""
    fired = threading.Event()
    if cap is None:
        yield fired
        return
    done = threading.Event()
    tag = f"watchdog-{uuid.uuid4().hex}"

    def watch():
        if done.wait(cap):
            return
        fired.set()
        while not done.is_set():
            sc.cancelJobsWithTag(tag)
            done.wait(2.0)

    sc.addJobTag(tag)
    thread = threading.Thread(target=watch, name="query-watchdog",
                              daemon=True)
    thread.start()
    try:
        yield fired
    finally:
        done.set()
        thread.join()
        sc.removeJobTag(tag)


def _active_stages_after(sc, wait_s: float) -> int:
    """How many Spark stages are still active once they have had up to
    ``wait_s`` seconds to end (polled every 0.2 s). The tasks of some
    plans ignore a cancel (a ``BroadcastNestedLoopJoin`` kept all four
    cores busy 930 s after its job was cancelled)."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + wait_s
    while (active := tracker.getActiveStageIds()) \
            and time.monotonic() < deadline:
        time.sleep(0.2)
    return len(active)


def measure_query(spark, fn, name: str, sf_dir: str,
                  cap: float | None = None) -> dict:
    """Build and run one query: the ONE query-timing path of bench.py,
    scripts/profile_queries.py and both scripts/sf1_probe.py modes.

    After ``reset_session_state``, ``build_s`` times ``fn(spark, sf_dir)``
    and ``exec_s`` a noop write of its result; ``wall_s`` is their sum.
    Each phase runs under its own job group, counted by
    ``getJobIdsForGroup`` (the jobs ``cache.truncate`` starts at build run
    outside any SQL execution). Shuffle-write and spill bytes and operator
    counts are the exec phase's SQL executions, and so is
    ``peak_exec_memory_bytes``, the largest node's peak memory. All capture
    sits outside the timed spans. ``status`` is ok, timeout (``cap``
    seconds passed) or error (traceback on stderr, message in ``error``).
    Once the watchdog has fired, it waits up to ``ORPHAN_WAIT_S`` for the
    cancelled stages to end and records how many are still active as
    ``orphaned_stages`` (absent when none are): a later query would run
    on the cores their tasks hold."""
    from perfbench.statusstore import StatusStore

    sc = spark.sparkContext
    reset_session_state(spark)
    store = StatusStore(spark)
    key = uuid.uuid4().hex
    groups = (f"build-{key}", f"exec-{key}")
    rec, spans, mark = {"status": "ok"}, [], None
    with _watchdog(sc, cap) as fired:
        sc.setJobGroup(groups[0], name, interruptOnCancel=True)
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            spans.append(time.perf_counter() - t0)
            store.drain()
            mark = store.marker()
            sc.setJobGroup(groups[1], name, interruptOnCancel=True)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            spans.append(time.perf_counter() - t0)
        except Exception as e:
            spans.append(time.perf_counter() - t0)
            msg = f"{type(e).__name__}: {e}"
            if fired.is_set() or "cancel" in msg.lower():
                rec = {"status": "timeout"}
            else:
                traceback.print_exc()
                rec = {"status": "error", "error": msg[:300]}
        finally:
            sc.setJobGroup("", "")
    if fired.is_set():
        orphaned = _active_stages_after(sc, ORPHAN_WAIT_S)
        if orphaned:
            rec["orphaned_stages"] = orphaned
    build_s, exec_s = (spans + [0.0])[:2]
    store.drain()
    execs = [] if mark is None else store.executions_after(mark)
    jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    ops, sums = Counter(), Counter()
    for e in execs:
        ops.update(e["operators"])
        sums.update({k: int(e.get(k, 0))
                     for k in ("shuffle_write_bytes", "spill_bytes")})
    peak = max((int(e.get("peak_exec_memory_bytes", 0)) for e in execs),
               default=0)
    return {**rec, "wall_s": round(build_s + exec_s, 3),
            "build_s": round(build_s, 3), "exec_s": round(exec_s, 3),
            "build_jobs": jobs[0], "exec_jobs": jobs[1],
            "shuffle_write_bytes": sums["shuffle_write_bytes"],
            "spill_bytes": sums["spill_bytes"],
            "peak_exec_memory_bytes": peak, "operators": dict(ops)}


def _newest_prior_sidecar(here: Path) -> Path | None:
    """The newest BENCH_r{N}_local.json with N < ROUND, or None — the
    ONE definition of baseline selection, shared by the inline gate and
    the end-stage regression diff so the two can never judge against
    different rounds."""
    import re

    prior = {}
    for p in here.glob("BENCH_r*_local.json"):
        m = re.fullmatch(r"BENCH_r(\d+)_local\.json", p.name)
        if m and int(m.group(1)) < int(ROUND):
            prior[int(m.group(1))] = p
    return prior[max(prior)] if prior else None


def _merge_timing_sections(sidecar: dict) -> dict:
    """Every per-query timing section of a sidecar, merged — "queries"
    plus any "extra*" section (round-7 advice: hardcoding the section
    names silently dropped a future round's new section)."""
    out = {}
    for key, v in sidecar.items():
        if isinstance(v, dict) and (key == "queries" or key.startswith("extra")):
            out.update(v)
    return out


def _baseline_mismatch(prev: dict, sf_val=None) -> dict | None:
    """Why a prior sidecar cannot be diffed against this run, or None.
    Cross-SF ratios are garbage both ways (a smaller current SF masks
    real regressions, a larger one flags everything), and so are ratios
    across core counts: a 4-core run against the 8-core baseline flags
    every parallel query. A sidecar that recorded no ``env.cpus`` is
    not a mismatch."""
    if sf_val is not None and prev.get("sf") != sf_val:
        return {"baseline_sf": prev.get("sf"),
                "error": f"sf mismatch (current {sf_val}) — no diff"}
    cpus = prev.get("env", {}).get("cpus")
    if cpus is not None and cpus != local_cores():
        return {"baseline_cpus": cpus,
                "error": f"cpus mismatch (current {local_cores()}) — no diff"}
    return None


def _gate_baseline(here: Path, sf_val=None) -> dict:
    """Prior-round per-query walls for the inline first-pass gate.
    Returns {} when no usable baseline exists (none, unreadable, or
    recorded at a different SF or core count), which disables the gate;
    the end-stage ``_regressions`` REPORTS those conditions instead of
    skipping them, but both resolve the baseline through the same
    helpers above."""
    prev_path = _newest_prior_sidecar(here)
    if prev_path is None:
        return {}
    try:
        prev = json.loads(prev_path.read_text())
    except (OSError, json.JSONDecodeError):
        return {}
    if _baseline_mismatch(prev, sf_val):
        return {}
    return _merge_timing_sections(prev)


def gate_first_pass(first: float, was: float | None, rerun) -> float:
    """Inline first-pass noise gate (round-9 verdict ask #4).

    Round 9's first pass flagged 38 queries and the end-stage re-measure
    cleared ALL of them — box noise, each clearance costing an extra
    end-of-bench run plus judge attention. This gate re-runs a query
    IMMEDIATELY (once) when its first wall would flag against the prior
    round's sidecar, and records the best of the two — so a contention
    blip dies at the slot where it happened and ``first_pass_count``
    stays single-digit at comparable load, while a real plan regression
    (which reproduces) still flags and still goes through the end-stage
    confirmation. Queries that don't trip the thresholds pay nothing,
    so total bench wall grows only with the noisy minority."""
    if was and was > 0 and first / was > REG_RATIO \
            and first - was > REG_ABS_SECONDS:
        return min(first, rerun())
    return first


def _regressions(current: dict, here: Path, sf_val=None,
                 remeasure=None, loads: dict | None = None) -> dict | None:
    """Diff per-query timings against the newest prior round's sidecar.

    Round-6 verdict ask #5: the tf_idf/flagship excursions were only
    visible to a judge eyeballing two JSON files; this makes >1.5x
    per-query regressions a builder-visible signal in the compact line,
    with the load averages of both runs attached so box contention can be
    told apart from a plan change. Sub-0.5s absolute deltas are excluded:
    at sf0.1 those are JVM/GC noise (round 6 saw 4 such excursions on
    untouched code), and flagging them would train the reader to ignore
    the key.

    ``loads`` (round 11): the per-query load-sample dict; each CONFIRMED
    flag is stamped with its samples. Round 10's one confirmed flag
    (bigram_counts 1.65×) did not reproduce in a clean session (3.75 s
    vs the 3.74 s baseline) — all its re-measures ran at the END of a
    full-catalog bench in the same JVM, inheriting heap/GC state the
    clean session does not have. The samples let a reader discount a
    confirm earned under elevated load without re-running anything.

    ``remeasure`` (round 8): a callable ``name -> seconds`` that re-runs
    one query. Back-to-back full-bench runs on byte-identical code flag
    DISJOINT sets of 10-31 queries (box noise: the round-7 variance
    study measured a 1.4x extras spread), so a single-pass flag is
    noise-dominated. When provided, every first-pass flag is re-measured
    up to twice and kept as CONFIRMED only if its best-of wall still
    clears both thresholds — a plan regression reproduces under
    re-measurement, contention does not. Since round 10 the timing
    sections hold the INLINE-GATED first pass (``gate_first_pass``:
    best-of-2 for the noisy minority that would otherwise flag, a
    single run for everything else); only the flag entries carry the
    end-stage ``best``/``confirmed`` re-measurement record, and
    ``count`` reports confirmed flags (``first_pass_count`` preserves
    the raw signal).
    """
    prev_path = _newest_prior_sidecar(here)
    if prev_path is None:
        return None
    try:
        prev = json.loads(prev_path.read_text())
    except (OSError, json.JSONDecodeError):
        return {"baseline": prev_path.name, "error": "unreadable"}
    mismatch = _baseline_mismatch(prev, sf_val)
    if mismatch:
        return {"baseline": prev_path.name, **mismatch}
    prev_t = _merge_timing_sections(prev)
    slow = {}
    for name, now in current.items():
        was = prev_t.get(name)
        if was and was > 0 and now / was > REG_RATIO \
                and now - was > REG_ABS_SECONDS:
            slow[name] = {"was": was, "now": now, "ratio": round(now / was, 2)}
    out = {
        "baseline": prev_path.name,
        "baseline_load_avg_1m": prev.get("env", {}).get("load_avg_1m"),
        "count": len(slow),
        "all": dict(sorted(slow.items(), key=lambda kv: -kv[1]["ratio"])),
    }
    if remeasure is not None and slow:
        confirmed = 0
        for name, row in out["all"].items():
            best = min(row["now"], remeasure(name))
            if best / row["was"] > REG_RATIO \
                    and best - row["was"] > REG_ABS_SECONDS:
                best = min(best, remeasure(name))  # second chance
            row["best"] = best
            row["best_ratio"] = round(best / row["was"], 2)
            row["confirmed"] = bool(
                best / row["was"] > REG_RATIO
                and best - row["was"] > REG_ABS_SECONDS
            )
            if row["confirmed"] and loads and loads.get(name):
                row["load_avg_1m"] = loads[name]
            confirmed += row["confirmed"]
        out["first_pass_count"] = len(slow)
        out["count"] = confirmed
    return out


def _quantile(vals: list, p: float) -> float | None:
    """Linear-interpolated quantile of a list (None when empty) — tiny
    local copy so the variance summary needs no numpy on the bench path."""
    if not vals:
        return None
    vals = sorted(vals)
    k = (len(vals) - 1) * p
    f = int(k)
    c = min(f + 1, len(vals) - 1)
    return round(vals[f] + (vals[c] - vals[f]) * (k - f), 3)


def _variance_summary(current: dict, baseline: dict,
                      headline_names: list, loads: dict) -> dict:
    """Round-10 verdict ask #5: three rounds running, the official bench
    swung up to 1.3x against solo runs on byte-identical code, and telling
    box contention from a plan regression required a re-run. This block
    makes the call attributable from ONE run: the per-query ratio
    DISTRIBUTION against the prior sidecar (a near-uniform median shift
    across ~300 untouched queries is contention by construction — no
    plan change moves them all; a tight median near 1.0 with one outlier
    is a plan change, and the regression gate names it), plus the spread
    of per-query 1-minute load averages sampled at each timed run's start
    (a load floor well above the executor's own footprint = a busy box).
    """
    import statistics

    ratios = {
        n: current[n] / baseline[n]
        for n in current
        if baseline.get(n, 0) and baseline[n] > 0
    }

    def dist(vals: list) -> dict | None:
        if not vals:
            return None
        return {
            "n": len(vals),
            "median_ratio": _quantile(vals, 0.5),
            "p25_ratio": _quantile(vals, 0.25),
            "p75_ratio": _quantile(vals, 0.75),
        }

    out = {
        "vs_baseline_all": dist(list(ratios.values())),
        "vs_baseline_headline": dist(
            [ratios[n] for n in headline_names if n in ratios]
        ),
    }
    flat = [s for samples in loads.values() for s in samples]
    if flat:
        out["load_avg_1m"] = {
            "min": round(min(flat), 2),
            "median": round(statistics.median(flat), 2),
            "max": round(max(flat), 2),
        }
    return out


def _regressions_compact(regress: dict | None) -> dict | None:
    """Trimmed view for the stdout line (worst 3 only, ratios only) so the
    compact line stays <1 KB even on a pathological round; the sidecar
    carries the full per-query dict."""
    if not regress or "all" not in regress:
        return regress
    rows = sorted(
        (
            (k, v) for k, v in regress["all"].items()
            if v.get("confirmed", True)  # unconfirmed = re-measured away
        ),
        # rank by the reproduced (best-of) magnitude — the value shown —
        # not the noisy first-pass excursion the dict happens to be
        # ordered by
        key=lambda kv: kv[1].get("best_ratio", kv[1]["ratio"]),
        reverse=True,
    )
    out = {
        "baseline": regress["baseline"],
        "baseline_load_avg_1m": regress["baseline_load_avg_1m"],
        "count": regress["count"],
        # confirmed flags report the REPRODUCED magnitude (best-of), not
        # the first-pass excursion — the compact line is the signal a
        # builder acts on
        "worst": {k: v.get("best_ratio", v["ratio"]) for k, v in rows[:3]},
    }
    # the compact line IS the driver's recorded BENCH_r{N}.json (the
    # sidecar stays local), so a confirm's load context must surface
    # HERE to be discountable from the record alone (round-11 ask #3)
    worst_loads = {
        k: v["load_avg_1m"] for k, v in rows[:3] if "load_avg_1m" in v
    }
    if worst_loads:
        out["worst_load_avg_1m"] = worst_loads
    if "first_pass_count" in regress:
        out["first_pass_count"] = regress["first_pass_count"]
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import __spark_entry__ as entrymod
    from data_integration_case_study_spark.session import get_spark

    qs = entrymod.queries()
    missing = [n for n in HEADLINE if n not in qs]
    if missing:
        raise UnknownHeadlineQueryError(
            f"HEADLINE names not in queries(): {missing}")

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so we measure query exec, not init
    qs[HEADLINE[0]](spark, sf_dir).limit(1).collect()

    # per-query 1m load samples, one per timed run (gate/remeasure reruns
    # append to the same list) — feeds the variance summary (ask #5)
    load_samples: dict[str, list] = {}
    # the measure_query record behind each timing-section wall
    layers: dict[str, dict] = {}

    def run(name: str) -> dict:
        try:
            load_samples.setdefault(name, []).append(
                round(os.getloadavg()[0], 2))
        except OSError:
            pass
        rec = measure_query(spark, qs[name], name, sf_dir)
        if rec["status"] != "ok":
            raise RuntimeError(f"{name}: {rec.get('error', rec['status'])}")
        return rec

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # inline noise gate (round-9 verdict ask #4): would-be flags get an
    # immediate best-of-2 against the prior round's walls
    gate_was = _gate_baseline(Path(__file__).resolve().parent, sf_val)

    def grun(name: str) -> float:
        layers[name] = run(name)

        def rerun() -> float:
            layers[name] = min(layers[name], run(name),
                               key=lambda r: r["wall_s"])
            return layers[name]["wall_s"]

        return gate_first_pass(layers[name]["wall_s"], gate_was.get(name),
                               rerun)

    timings = {name: grun(name) for name in HEADLINE}
    # every other catalog query, in queries() order
    extras = {name: grun(name) for name in qs if name not in HEADLINE}

    total = round(sum(timings.values()), 3)
    env = _env_fingerprint()  # one snapshot, shared by both outputs
    regress = _regressions({**timings, **extras},
                           Path(__file__).resolve().parent, sf_val,
                           remeasure=lambda name: run(name)["wall_s"],
                           loads=load_samples)
    variance = _variance_summary({**timings, **extras}, gate_was,
                                 HEADLINE, load_samples)

    # Full per-query detail goes to a sidecar file (the driver's stdout
    # capture keeps only a tail; see module docstring).
    detail_path = Path(__file__).resolve().parent / f"BENCH_r{ROUND}_local.json"
    detail_path.write_text(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extra": extras,
        "extras_total": round(sum(extras.values()), 3),
        "sf": sf_val,
        "env": env,
        "regressions": regress,
        "variance": variance,
        "load_avg_per_query": load_samples,
        "layers": layers,
    }, indent=1))

    # The COMPACT summary is the final stdout line (<1 KB): headline
    # timings only, extras as totals.
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extras_total": round(sum(extras.values()), 3),
        "extras_count": len(extras),
        "detail": detail_path.name,
        "sf": sf_val,
        "env": env,
        "regressions": _regressions_compact(regress),
        "variance": variance,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
