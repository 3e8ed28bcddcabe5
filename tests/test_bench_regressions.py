"""Unit tests for bench.py's per-query regression gate (round-6 verdict
ask #5) and scripts/float_census.py's cell scanner — pure Python, no
Spark session."""

from __future__ import annotations

import json
import math

import pytest

import bench
from scripts.float_census import census


def _write_sidecar(tmp_path, round_no: str, queries: dict, extra: dict | None
                   = None, load: float = 1.0, sf: float = 0.1) -> None:
    (tmp_path / f"BENCH_r{round_no}_local.json").write_text(json.dumps({
        "queries": queries,
        "extra": extra or {},
        "env": {"load_avg_1m": load},
        "sf": sf,
    }))


def test_regressions_flags_only_real_slowdowns(tmp_path):
    _write_sidecar(tmp_path, "06", {"a": 1.0, "b": 2.0, "c": 0.1},
                   extra={"d": 4.0}, load=5.5)
    # a: 3x AND +2s -> flagged; b: 1.2x -> not; c: 3x but +0.2s -> not
    # (sub-0.5s deltas are GC noise); d (from "extra"): 2x AND +4s -> flagged
    out = bench._regressions({"a": 3.0, "b": 2.4, "c": 0.3, "d": 8.0},
                             tmp_path)
    assert out["baseline"] == "BENCH_r06_local.json"
    assert out["baseline_load_avg_1m"] == 5.5
    assert set(out["all"]) == {"a", "d"}
    assert out["count"] == 2
    # worst-first ordering
    assert list(out["all"]) == ["a", "d"]
    assert out["all"]["a"] == {"was": 1.0, "now": 3.0, "ratio": 3.0}


def test_regressions_picks_newest_prior_round_only(tmp_path):
    _write_sidecar(tmp_path, "05", {"a": 10.0})
    _write_sidecar(tmp_path, "06", {"a": 1.0})
    # current round is 07 -> baseline must be r06 (not r05), and a file
    # from the CURRENT round must never be its own baseline
    _write_sidecar(tmp_path, bench.ROUND, {"a": 0.1})
    out = bench._regressions({"a": 3.0}, tmp_path)
    assert out["baseline"] == "BENCH_r06_local.json"
    assert set(out["all"]) == {"a"}


def test_regressions_none_without_prior_sidecar(tmp_path):
    assert bench._regressions({"a": 1.0}, tmp_path) is None


def test_regressions_skips_cross_sf_baseline(tmp_path):
    # a baseline recorded at a different SF must not be diffed — ratios
    # would be garbage both ways (mask real regressions, or flag all)
    _write_sidecar(tmp_path, "06", {"a": 1.0}, sf=0.01)
    out = bench._regressions({"a": 3.0}, tmp_path, sf_val=0.1)
    assert "all" not in out
    assert out["baseline_sf"] == 0.01
    assert "sf mismatch" in out["error"]
    # same SF diffs normally
    ok = bench._regressions({"a": 3.0}, tmp_path, sf_val=0.01)
    assert set(ok["all"]) == {"a"}
    # compact view passes the error shape through untrimmed
    assert bench._regressions_compact(out) is out


def test_regressions_compact_trims_to_top3():
    full = {
        "baseline": "BENCH_r06_local.json",
        "baseline_load_avg_1m": 2.0,
        "count": 5,
        "all": {f"q{i}": {"was": 1.0, "now": 9.0 - i, "ratio": 9.0 - i}
                for i in range(5)},
    }
    compact = bench._regressions_compact(full)
    assert compact["count"] == 5
    assert list(compact["worst"]) == ["q0", "q1", "q2"]
    assert compact["worst"]["q0"] == 9.0
    # compact line budget: the trimmed view must stay small
    assert len(json.dumps(compact)) < 200
    assert bench._regressions_compact(None) is None


def test_regressions_compact_ranks_by_reproduced_magnitude():
    # round-8 advice: the top-3 must be the 3 largest REPRODUCED
    # (best-of) ratios — a flag whose first-pass excursion was small but
    # whose re-measured ratio is among the worst must not be omitted.
    full = {
        "baseline": "BENCH_r08_local.json",
        "baseline_load_avg_1m": 2.0,
        "count": 4,
        "all": {
            # dict order = first-pass ratio order (worst first)
            "noisy": {"was": 1.0, "now": 9.0, "ratio": 9.0,
                      "best": 2.0, "best_ratio": 2.0, "confirmed": True},
            "a": {"was": 1.0, "now": 8.0, "ratio": 8.0,
                  "best": 3.0, "best_ratio": 3.0, "confirmed": True},
            "b": {"was": 1.0, "now": 7.0, "ratio": 7.0,
                  "best": 4.0, "best_ratio": 4.0, "confirmed": True},
            "steady": {"was": 1.0, "now": 6.0, "ratio": 6.0,
                       "best": 5.0, "best_ratio": 5.0, "confirmed": True},
        },
    }
    compact = bench._regressions_compact(full)
    assert list(compact["worst"]) == ["steady", "b", "a"]
    assert compact["worst"]["steady"] == 5.0


def test_regressions_remeasure_clears_box_noise(tmp_path):
    # round 8: back-to-back benches on identical code flag disjoint sets
    # (box noise), so first-pass flags re-measure up to twice and only
    # reproducible slowdowns stay confirmed.
    _write_sidecar(tmp_path, "06", {"a": 1.0, "b": 1.0})
    calls = []

    def remeasure(name):
        calls.append(name)
        return {"a": 1.1, "b": 9.0}[name]  # a was noise, b reproduces

    out = bench._regressions({"a": 3.0, "b": 3.0}, tmp_path,
                             remeasure=remeasure)
    assert out["first_pass_count"] == 2
    assert out["count"] == 1
    assert out["all"]["a"] == {"was": 1.0, "now": 3.0, "ratio": 3.0,
                               "best": 1.1, "best_ratio": 1.1,
                               "confirmed": False}
    assert out["all"]["b"]["confirmed"] is True and out["all"]["b"]["best"] == 3.0
    # a cleared on the first re-measure (no second chance spent); b
    # confirmed on re-measure #1 and re-measured once more
    assert calls.count("a") == 1 and calls.count("b") == 2
    # compact line surfaces only confirmed flags, at the REPRODUCED
    # (best-of) magnitude
    compact = bench._regressions_compact(out)
    assert compact["worst"] == {"b": 3.0}
    assert compact["count"] == 1 and compact["first_pass_count"] == 2


def test_regressions_without_remeasure_unchanged(tmp_path):
    # the re-measure pass is opt-in: callers that pass no hook get the
    # original single-pass shape (no best/confirmed keys)
    _write_sidecar(tmp_path, "06", {"a": 1.0})
    out = bench._regressions({"a": 3.0}, tmp_path)
    assert out["all"]["a"] == {"was": 1.0, "now": 3.0, "ratio": 3.0}
    assert "first_pass_count" not in out


def test_float_census_classes():
    rows = [
        (1.0, float("nan"), "x"),
        (float("inf"), -0.0, [float("-inf"), 5e-324]),
        (0.0, 2.5, None),
    ]
    c = census(rows)
    assert c == {"nan": 1, "pos_inf": 1, "neg_inf": 1, "neg_zero": 1,
                 "denormal": 1}
    # positive zero, normal floats, ints, strings, None never count
    assert census([(0.0, 1, "y", None, math.pi)]) == dict.fromkeys(
        ("nan", "pos_inf", "neg_inf", "neg_zero", "denormal"), 0)


def test_regressions_merges_future_extra_sections(tmp_path):
    # round-7 advice: sections are discovered by the sidecar's naming
    # convention ("queries" + any "extra*"), so a future extra_rN joins
    # the regression baseline automatically — and non-timing dicts
    # ("env", "regressions") never do.
    (tmp_path / "BENCH_r06_local.json").write_text(json.dumps({
        "queries": {"a": 1.0},
        "extra_r9": {"z": 1.0},
        "env": {"load_avg_1m": 99.0},
        "regressions": {"worst": {"zzz": 9.9}},
        "sf": 0.1,
    }))
    out = bench._regressions({"a": 3.0, "z": 4.0, "zzz": 50.0}, tmp_path)
    # z (from the never-before-seen extra_r9 section) is diffed; zzz
    # (only present inside the non-timing "regressions" dict) is not
    assert set(out["all"]) == {"a", "z"}


def test_gate_first_pass_reruns_only_would_be_flags():
    """Round-9 verdict ask #4: the inline first-pass gate re-runs a
    query once iff its first wall clears BOTH regression thresholds
    against the prior round, and records the best of the two."""
    calls = []

    def rerun(val=1.1):
        calls.append(1)
        return val

    # under the ratio threshold: recorded as-is, no rerun
    assert bench.gate_first_pass(1.2, 1.0, rerun) == 1.2
    assert not calls
    # ratio high but delta under 0.5s (GC noise class): no rerun
    assert bench.gate_first_pass(0.4, 0.1, rerun) == 0.4
    assert not calls
    # no baseline row (new query / first round): no rerun
    assert bench.gate_first_pass(9.9, None, rerun) == 9.9
    assert not calls
    # a would-be flag: exactly one rerun, best-of recorded
    assert bench.gate_first_pass(3.0, 1.0, rerun) == 1.1
    assert len(calls) == 1
    # rerun slower than first pass: first kept (best-of, not last-of)
    assert bench.gate_first_pass(3.0, 1.0, lambda: 4.0) == 3.0


def test_gate_baseline_same_rules_as_regressions(tmp_path):
    # newest prior round, merged sections, same-SF only
    _write_sidecar(tmp_path, "05", {"a": 10.0})
    _write_sidecar(tmp_path, "06", {"a": 1.0}, extra={"d": 4.0})
    assert bench._gate_baseline(tmp_path, 0.1) == {"a": 1.0, "d": 4.0}
    # cross-SF baseline disables the gate instead of mis-gating
    assert bench._gate_baseline(tmp_path, 0.01) == {}
    # no prior sidecar at all
    assert bench._gate_baseline(tmp_path / "no_sidecars_here", 0.1) == {}


def test_gate_baseline_disabled_by_cpus_mismatch(tmp_path, monkeypatch):
    # an 8-core baseline must not gate (or be diffed against) a 4-core
    # run: a core-count mismatch is handled like an SF mismatch
    (tmp_path / "BENCH_r06_local.json").write_text(json.dumps({
        "queries": {"a": 1.0}, "extra": {}, "sf": 0.1,
        "env": {"cpus": 8, "load_avg_1m": 1.0},
    }))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert bench._gate_baseline(tmp_path, 0.1) == {}
    out = bench._regressions({"a": 3.0}, tmp_path, sf_val=0.1)
    assert "all" not in out
    assert out["baseline"] == "BENCH_r06_local.json"
    assert out["baseline_cpus"] == 8
    assert "cpus mismatch (current 4)" in out["error"]
    assert bench._regressions_compact(out) is out
    # the same core count gates and diffs normally
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench._gate_baseline(tmp_path, 0.1) == {"a": 1.0}
    assert set(bench._regressions({"a": 3.0}, tmp_path, sf_val=0.1)["all"]) == {"a"}


def test_variance_summary_attributes_uniform_shift():
    """Round-10 verdict ask #5: a near-uniform ratio shift across many
    queries reads as box contention (median well above 1, tight IQR);
    the summary must carry that signal plus the load-sample spread."""
    baseline = {f"q{i}": 1.0 for i in range(20)}
    current = {f"q{i}": 1.3 for i in range(20)}  # uniform 1.3x
    loads = {"q0": [8.0, 9.0], "q1": [10.0]}
    out = bench._variance_summary(current, baseline, ["q0", "q1"], loads)
    assert out["vs_baseline_all"]["n"] == 20
    assert out["vs_baseline_all"]["median_ratio"] == 1.3
    assert out["vs_baseline_all"]["p25_ratio"] == 1.3
    assert out["vs_baseline_all"]["p75_ratio"] == 1.3
    assert out["vs_baseline_headline"]["n"] == 2
    assert out["load_avg_1m"] == {"min": 8.0, "median": 9.0, "max": 10.0}


def test_variance_summary_isolated_outlier_reads_flat():
    """One 3x outlier on an otherwise flat run: the median stays ~1.0
    (plan change, not contention — the regression gate names the query)."""
    baseline = {f"q{i}": 2.0 for i in range(9)}
    current = {f"q{i}": 2.0 for i in range(9)}
    current["q0"] = 6.0
    out = bench._variance_summary(current, baseline, [], {})
    assert out["vs_baseline_all"]["median_ratio"] == 1.0
    assert out["vs_baseline_headline"] is None
    assert "load_avg_1m" not in out


def test_variance_summary_skips_zero_and_missing_baselines():
    out = bench._variance_summary(
        {"a": 1.0, "b": 1.0, "c": 1.0}, {"a": 0.0, "b": 2.0}, [], {})
    assert out["vs_baseline_all"]["n"] == 1  # only b has a usable baseline
    assert out["vs_baseline_all"]["median_ratio"] == 0.5


def test_quantile_interpolates():
    assert bench._quantile([], 0.5) is None
    assert bench._quantile([1.0], 0.5) == 1.0
    assert bench._quantile([1.0, 2.0], 0.5) == 1.5
    assert bench._quantile([1.0, 2.0, 4.0], 0.25) == 1.5


def test_regressions_confirmed_flags_carry_load_samples(tmp_path):
    """Round-11: a confirmed flag is stamped with its load samples so a
    confirm earned under elevated load is discountable after the fact
    (round 10's one confirm was a clean-session false positive)."""
    _write_sidecar(tmp_path, "10", {"a": 1.0, "b": 1.0})
    out = bench._regressions(
        {"a": 3.0, "b": 1.0}, tmp_path,
        remeasure=lambda name: 3.0,  # reproduces -> confirmed
        loads={"a": [7.5, 8.0], "b": [1.0]})
    assert out["all"]["a"]["confirmed"] is True
    assert out["all"]["a"]["load_avg_1m"] == [7.5, 8.0]
    # unconfirmed rows never carry the stamp
    out2 = bench._regressions(
        {"a": 3.0}, tmp_path, remeasure=lambda name: 1.0,
        loads={"a": [7.5]})
    assert out2["all"]["a"]["confirmed"] is False
    assert "load_avg_1m" not in out2["all"]["a"]


def test_regressions_compact_surfaces_confirm_load_context(tmp_path):
    """The compact line is the driver's recorded artifact; a confirmed
    flag's load samples must appear there (round-11 review #2 — the
    sidecar stamp alone duplicated load_avg_per_query)."""
    _write_sidecar(tmp_path, "10", {"a": 1.0, "b": 1.0})
    out = bench._regressions(
        {"a": 3.0, "b": 1.0}, tmp_path,
        remeasure=lambda name: 3.0, loads={"a": [7.5, 8.0]})
    compact = bench._regressions_compact(out)
    assert compact["worst_load_avg_1m"] == {"a": [7.5, 8.0]}
    # no confirmed flags -> no key
    out2 = bench._regressions({"a": 1.0, "b": 1.0}, tmp_path,
                              remeasure=lambda name: 1.0, loads={})
    assert "worst_load_avg_1m" not in bench._regressions_compact(out2)


def test_fingerprint_cpus_defaults_like_session(monkeypatch):
    # unset: the same "32" session.py gives local[...]
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench._fingerprint_cpus() == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert bench._fingerprint_cpus() == 6


def test_fingerprint_cpus_malformed_falls_back_to_cpu_count(monkeypatch):
    import multiprocessing

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    assert bench._fingerprint_cpus() == multiprocessing.cpu_count()


def test_main_raises_on_headline_name_missing_from_catalog(monkeypatch):
    # a renamed headline query must not shrink the 15-query total silently;
    # the check runs before any Spark session starts
    from data_integration_case_study_spark import session

    monkeypatch.setattr(bench, "HEADLINE", bench.HEADLINE + ["no_such_query"])
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: pytest.fail(
        "Spark started before the headline check"))
    with pytest.raises(bench.UnknownHeadlineQueryError, match="no_such_query"):
        bench.main()
