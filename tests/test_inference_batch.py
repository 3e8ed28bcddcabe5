"""Inference & evaluation batch: LOF, log-rank, AR(1) backtest — each
hand-replayed in Python at sf0.001 (the repo's second-witness
discipline: the DuckDB oracle catches cross-engine divergence, the
replay catches same-wrong-answer algebra bugs)."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import pytest

from data_integration_case_study_spark.plans import (
    inference_eval,
    inference_rec,
    inference_stats,
    inference_ts,
)

SF = "/root/testdata/sf0.001"


def _hash60(s: str) -> int:
    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


# --- LOF --------------------------------------------------------------------


def test_lof_outliers_replay(spark):
    """Python LOF replay over the same kNN edge list matches the query,
    and a uniform-density sanity holds: scores concentrate near 1."""
    from data_integration_case_study_spark.operators import similarity

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    edges = [
        (r["src_id"], r["nbr_id"], 1.0 - r["cosine"])
        for r in similarity.knn_graph(e, k=3).collect()
    ]
    out_edges = defaultdict(list)
    for s, d, dist in edges:
        out_edges[s].append((d, dist))
    kdist = {s: max(d for _, d in nbrs) for s, nbrs in out_edges.items()}
    lrd = {}
    for s, nbrs in out_edges.items():
        rsum = sum(sorted(max(dist, kdist[o]) for o, dist in nbrs))
        lrd[s] = len(nbrs) / max(rsum, 1e-12)
    lof = {
        s: sum(sorted(lrd[o] for o, _ in nbrs)) / (len(nbrs) * lrd[s])
        for s, nbrs in out_edges.items()
    }

    rows = {r["vec_id"]: r for r in inference_eval.lof_outliers(spark, SF).collect()}
    n_ids = e.count()
    assert len(rows) == n_ids
    for s in out_edges:
        assert rows[s]["n_nbrs"] == len(out_edges[s])
        assert rows[s]["lrd"] == pytest.approx(lrd[s], abs=2e-6)
        assert rows[s]["lof"] == pytest.approx(lof[s], abs=2e-6)
        assert rows[s]["is_outlier"] == int(
            len(out_edges[s]) < 3 or lof[s] > 1.3
        )
    # isolated vectors: flagged with NULL scores
    for vid, r in rows.items():
        if vid not in out_edges:
            assert r["n_nbrs"] == 0 and r["is_outlier"] == 1
            assert r["lof"] is None and r["lrd"] is None
    # density-ratio sanity: the bulk of connected vectors are inliers
    connected = [r for r in rows.values() if r["n_nbrs"] > 0 and r["lof"]]
    med = sorted(r["lof"] for r in connected)[len(connected) // 2]
    assert 0.8 < med < 1.3


# --- log-rank ---------------------------------------------------------------


def test_log_rank_conversion_replay(spark):
    """Python log-rank replay from the raw event log matches O/E/V/chi2."""
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    signup, purchase = {}, defaultdict(list)
    for r in ev:
        if r["event_type"] == "signup":
            u = r["user_id"]
            if u not in signup or r["ts"] < signup[u]:
                signup[u] = r["ts"]
        elif r["event_type"] == "purchase":
            purchase[r["user_id"]].append(r["ts"])
    mx = max(r["ts"] for r in ev)
    durations = []  # (duration_h, observed, arm)
    for u, s_ts in signup.items():
        after = [t for t in purchase.get(u, []) if t >= s_ts]
        end, obs = (min(after), 1) if after else (mx, 0)
        dur = math.floor((end - s_ts).total_seconds() / 3600)
        arm = _hash60(f"logrank-v1:{u}") % 2
        durations.append((dur, obs, arm))

    grid = defaultdict(lambda: [0, 0, 0, 0])  # d, d1, l, l1
    for dur, obs, arm in durations:
        g = grid[dur]
        g[0] += obs
        g[1] += obs * arm
        g[2] += 1
        g[3] += arm
    n_tot = len(durations)
    n1_tot = sum(a for _, _, a in durations)
    o1 = e1 = v = 0.0
    o0 = 0
    n_at, n1_at = n_tot, n1_tot
    n_event_hours = 0
    for dur in sorted(grid):
        d, d1, l, l1 = grid[dur]
        if d > 0:
            n_event_hours += 1
            o1 += d1
            o0 += d - d1
            e1 += n1_at * d / n_at
            if n_at > 1:
                n0_at = n_at - n1_at
                v += (n1_at * n0_at * d * (n_at - d)) / (
                    n_at * n_at * (n_at - 1)
                )
        n_at -= l
        n1_at -= l1

    row = inference_stats.log_rank_conversion(spark, SF).collect()[0]
    assert row["n_users_0"] == n_tot - n1_tot
    assert row["n_users_1"] == n1_tot
    assert row["n_event_hours"] == n_event_hours
    assert row["o0"] == o0
    assert row["o1"] == o1
    assert row["e1"] == pytest.approx(e1, abs=1e-4)
    assert row["v"] == pytest.approx(v, abs=1e-4)
    assert row["chi2"] == pytest.approx((o1 - e1) ** 2 / v, abs=1e-3)


# --- AR(1) backtest ---------------------------------------------------------


def test_ar1_forecast_backtest_replay(spark):
    """Python Yule-Walker + backtest replay from raw orders matches."""
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    daily = defaultdict(int)
    for r in o:
        daily[r["o_orderdate"].date()] += int(round(r["o_totalprice"] * 100))
    days = sorted(daily)
    n = len(days)
    s = sum(daily.values())
    r_ = {d: n * daily[d] - s for d in days}
    g0 = sum(v * v for v in r_.values())
    pairs = [
        (r_[d], r_[prev])
        for d, prev in (
            (d, d.fromordinal(d.toordinal() - 1)) for d in days
        )
        if prev in r_
    ]
    g1 = sum(a * b for a, b in pairs)
    phi = g1 / g0
    errs = [(a - phi * b) / n for a, b in pairs]
    mae = sum(abs(e) for e in errs) / len(errs)
    rmse = math.sqrt(sum(e * e for e in errs) / len(errs))
    mae_naive = sum(abs(a - b) for a, b in pairs) / (len(pairs) * n)

    row = inference_ts.ar1_forecast_backtest(spark, SF).collect()[0]
    assert row["n_days"] == n
    assert row["n_pairs"] == len(pairs)
    assert row["phi"] == pytest.approx(phi, abs=2e-6)
    assert row["mae_ar1"] == pytest.approx(mae, abs=2e-4)
    assert row["rmse_ar1"] == pytest.approx(rmse, abs=2e-4)
    assert row["mae_naive"] == pytest.approx(mae_naive, abs=2e-4)
    assert row["skill_vs_naive"] == pytest.approx(1 - mae / mae_naive, abs=1e-4)
    # AR(1) with the true lag-1 coefficient should not lose to naive
    # persistence on this series by construction of the fit
    assert row["rmse_ar1"] >= row["mae_ar1"]  # Cauchy-Schwarz


# --- overdispersion ---------------------------------------------------------


def test_overdispersion_events_replay(spark):
    """Python dispersion replay over the zero-filled day x type grid."""
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    days = sorted({r["ts"].date() for r in ev})
    types = sorted({r["event_type"] for r in ev})
    counts = defaultdict(int)
    for r in ev:
        counts[(r["ts"].date(), r["event_type"])] += 1
    rows = {r["event_type"]: r for r in
            inference_stats.overdispersion_events(spark, SF).collect()}
    assert set(rows) == set(types)
    for t in types:
        cs = [counts.get((d, t), 0) for d in days]
        n, s, s2 = len(cs), sum(cs), sum(c * c for c in cs)
        mean = s / n
        var = (n * s2 - s * s) / (n * (n - 1))
        r = rows[t]
        assert r["n_days"] == n and r["n_events"] == s
        assert r["mean_daily"] == pytest.approx(mean, abs=1e-5)
        assert r["var_daily"] == pytest.approx(var, abs=1e-5)
        assert r["dispersion_index"] == pytest.approx(var / mean, abs=1e-5)
        assert r["chi2"] == pytest.approx((n - 1) * var / mean, abs=1e-3)


# --- G-test -----------------------------------------------------------------


def test_g_test_independence_replay(spark):
    """Python G replay; G also equals 2N x mutual information (nats)."""
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    cells = defaultdict(int)
    for r in o:
        cells[(r["o_orderpriority"], r["o_orderstatus"])] += 1
    n = sum(cells.values())
    row_t, col_t = defaultdict(int), defaultdict(int)
    for (p, s), c in cells.items():
        row_t[p] += c
        col_t[s] += c
    g = sum(
        2.0 * c * math.log(c * n / (row_t[p] * col_t[s]))
        for (p, s), c in sorted(cells.items())
    )
    out = inference_stats.g_test_independence(spark, SF).collect()
    assert len(out) == len(cells)
    for r in out:
        key = (r["o_orderpriority"], r["o_orderstatus"])
        c = cells[key]
        assert r["observed"] == c
        assert r["expected"] == pytest.approx(
            row_t[key[0]] * col_t[key[1]] / n, abs=1e-5
        )
        assert r["g_contrib"] == pytest.approx(
            2.0 * c * math.log(c * n / (row_t[key[0]] * col_t[key[1]])),
            abs=1e-5,
        )
        assert r["g_total"] == pytest.approx(g, abs=1e-3)
        assert r["dof"] == (len(row_t) - 1) * (len(col_t) - 1)


# --- schema matching --------------------------------------------------------


def test_schema_matching_replay_and_fk_containment(spark):
    """Exact python set replay; FK candidates show containment 1.0 and
    the deliberate non-matches score ~0."""
    doms = {}
    for tbl, col in inference_eval._SM_COLUMNS:
        vals = {
            str(r[col])
            for r in spark.read.parquet(f"{SF}/{tbl}.parquet")
            .select(col)
            .collect()
            if r[col] is not None
        }
        doms[f"{tbl}.{col}"] = vals
    out = {(r["col_a"], r["col_b"]): r
           for r in inference_eval.schema_matching_scores(spark, SF).collect()}
    assert set(out) == set(inference_eval._SM_CANDIDATES)
    for (a, b), r in out.items():
        A, B = doms[a], doms[b]
        inter = len(A & B)
        assert r["n_a"] == len(A) and r["n_b"] == len(B)
        assert r["n_inter"] == inter
        assert r["jaccard"] == pytest.approx(
            inter / (len(A) + len(B) - inter), abs=1e-6
        )
        assert r["containment_a_in_b"] == pytest.approx(
            inter / len(A), abs=1e-6
        )
    # FK pairs: every fact-side key resolves in the dimension
    for fk in [
        ("orders.o_custkey", "customer.c_custkey"),
        ("lineitem.l_orderkey", "orders.o_orderkey"),
        ("customer.c_nationkey", "nation.n_nationkey"),
    ]:
        assert out[fk]["containment_a_in_b"] == 1.0
    # the deliberate type-mismatch candidate scores zero
    assert out[("documents.lang", "events.event_type")]["n_inter"] == 0


# --- approximate FDs --------------------------------------------------------


def test_approx_fd_strength_replay(spark):
    """Python g3 replay; exact keys hold with zero violations."""
    out = {(r["tbl"], r["lhs"], r["rhs"]): r
           for r in inference_eval.approx_fd_strength(spark, SF).collect()}
    assert set(out) == {(t, l, r) for t, l, r in inference_eval._AFD_CANDIDATES}
    for tbl, lhs, rhs in inference_eval._AFD_CANDIDATES:
        rows = spark.read.parquet(f"{SF}/{tbl}.parquet").select(lhs, rhs).collect()
        groups = defaultdict(lambda: defaultdict(int))
        for r in rows:
            groups[r[lhs]][r[rhs]] += 1
        viol = sum(sum(ys.values()) - max(ys.values()) for ys in groups.values())
        r = out[(tbl, lhs, rhs)]
        assert r["n_rows"] == len(rows)
        assert r["n_groups"] == len(groups)
        assert r["violations"] == viol
        assert r["g3"] == pytest.approx(viol / len(rows), abs=1e-6)
        assert r["holds"] == (viol == 0)
    assert out[("orders", "o_orderkey", "o_orderstatus")]["holds"]
    assert out[("nation", "n_nationkey", "n_regionkey")]["holds"]


# --- recommender hit-rate ---------------------------------------------------


def test_rec_hitrate_eval_replay(spark):
    """Full python leave-last-basket-out simulation matches the report."""
    orders = {
        r["o_orderkey"]: (r["o_custkey"], r["o_orderdate"].date())
        for r in spark.read.parquet(f"{SF}/orders.parquet").collect()
    }
    li = {
        (r["l_orderkey"], r["l_partkey"])
        for r in spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .collect()
        if r["l_orderkey"] in orders
    }
    last = defaultdict(lambda: None)
    for ok, pk in li:
        cust, d = orders[ok]
        if last[cust] is None or d > last[cust]:
            last[cust] = d
    train_items, test_items = defaultdict(set), defaultdict(set)
    train_baskets = defaultdict(set)
    for ok, pk in li:
        cust, d = orders[ok]
        if d == last[cust]:
            test_items[cust].add(pk)
        else:
            train_items[cust].add(pk)
            train_baskets[ok].add(pk)
    co = defaultdict(int)
    for ok, items in train_baskets.items():
        its = sorted(items)
        for i in range(len(its)):
            for j in range(i + 1, len(its)):
                co[(its[i], its[j])] += 1
    n_item = defaultdict(int)
    for items in train_baskets.values():
        for p in items:
            n_item[p] += 1
    sym = defaultdict(list)
    for (a, b), c in co.items():
        if c >= 2:
            sym[a].append((b, c))
            sym[b].append((a, c))
    top3 = {}
    for item, nbrs in sym.items():
        scored = [
            (c / math.sqrt(n_item[item] * n_item[b]), c, b) for b, c in nbrs
        ]
        scored.sort(key=lambda t: (-t[0], -t[1], t[2]))
        top3[item] = [b for _, _, b in scored[:3]]
    eval_users = {u for u in train_items}
    reco_users, hit_users = set(), set()
    for u in eval_users:
        recos = {
            nb
            for it in train_items[u]
            for nb in top3.get(it, [])
            if nb not in train_items[u]
        }
        if recos:
            reco_users.add(u)
            if recos & test_items[u]:
                hit_users.add(u)

    row = inference_rec.rec_hitrate_eval(spark, SF).collect()[0]
    assert row["n_users_eval"] == len(eval_users)
    assert row["n_users_with_reco"] == len(reco_users)
    assert row["n_hits"] == len(hit_users)
    assert row["hit_rate"] == pytest.approx(
        len(hit_users) / len(reco_users), abs=1e-6
    )


# --- modularity -------------------------------------------------------------


def test_modularity_knn_labels_replay(spark):
    """Python modularity replay over the symmetrized kNN edges; the
    contributions sum to q_total and Q stays in its theoretical range."""
    from data_integration_case_study_spark.operators import similarity

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    lab = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    und = {
        (min(r["src_id"], r["nbr_id"]), max(r["src_id"], r["nbr_id"]))
        for r in similarity.knn_graph(e, k=3).select("src_id", "nbr_id").collect()
    }
    m = len(und)
    intra, deg, nodes = defaultdict(int), defaultdict(int), defaultdict(set)
    for a, b in und:
        la, lb = lab[a], lab[b]
        if la == lb:
            intra[la] += 1
        deg[la] += 1
        deg[lb] += 1
        nodes[la].add(a)
        nodes[lb].add(b)
    rows = {
        r["label"]: r
        for r in inference_eval.modularity_knn_labels(spark, SF).collect()
    }
    assert set(rows) == set(deg)
    q = 0.0
    for label in deg:
        contrib = (4 * m * intra[label] - deg[label] ** 2) / (4 * m * m)
        q += contrib
        r = rows[label]
        assert r["n_nodes"] == len(nodes[label])
        assert r["intra_edges"] == intra[label]
        assert r["degree_sum"] == deg[label]
        assert r["contribution"] == pytest.approx(contrib, abs=2e-6)
    for r in rows.values():
        assert r["q_total"] == pytest.approx(q, abs=1e-4)
    assert -0.5 <= q <= 1.0


# --- Gumbel EVT -------------------------------------------------------------


def test_evt_gumbel_daily_replay(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    mx = defaultdict(int)
    for r in o:
        c = int(round(r["o_totalprice"] * 100))
        d = r["o_orderdate"].date()
        mx[d] = max(mx[d], c)
    vals = list(mx.values())
    n = len(vals)
    mean = sum(vals) / n
    var = (n * sum(v * v for v in vals) - sum(vals) ** 2) / (n * (n - 1))
    sd = math.sqrt(var)
    beta = sd * math.sqrt(6) / math.pi
    mu = mean - 0.5772156649015329 * beta
    y30 = -math.log(-math.log(29 / 30))
    row = inference_stats.evt_gumbel_daily(spark, SF).collect()[0]
    assert row["n_days"] == n
    assert row["mean_daily_max"] == pytest.approx(mean / 100, abs=1e-2)
    assert row["sd_daily_max"] == pytest.approx(sd / 100, abs=1e-2)
    assert row["gumbel_mu"] == pytest.approx(mu / 100, abs=1e-2)
    assert row["gumbel_beta"] == pytest.approx(beta / 100, abs=1e-2)
    assert row["return_level_30d"] == pytest.approx(
        (mu + beta * y30) / 100, abs=1e-2
    )
    # the monthly return level sits above the typical daily max
    assert row["return_level_30d"] > row["mean_daily_max"]


# --- Dickey-Fuller ----------------------------------------------------------


def test_dickey_fuller_daily_replay(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    daily = defaultdict(int)
    for r in o:
        daily[r["o_orderdate"].date()] += int(round(r["o_totalprice"] * 100))
    days = sorted(daily)
    n = len(days)
    s = sum(daily.values())
    r_ = {d: n * daily[d] - s for d in days}
    pairs = [
        (r_[d], r_[d.fromordinal(d.toordinal() - 1)])
        for d in days
        if d.fromordinal(d.toordinal() - 1) in r_
    ]
    sxy = sum(b * (a - b) for a, b in pairs)
    sxx = sum(b * b for a, b in pairs)
    rho = sxy / sxx
    errs = [((a - b) - rho * b) / n for a, b in pairs]
    s2 = sum(e * e for e in errs) / (len(pairs) - 1)
    se = math.sqrt(s2 * n * n / sxx)
    t = rho / se
    row = inference_ts.dickey_fuller_daily(spark, SF).collect()[0]
    assert row["n_pairs"] == len(pairs)
    assert row["rho"] == pytest.approx(rho, abs=2e-6)
    assert row["t_stat"] == pytest.approx(t, abs=2e-3)
    assert row["is_stationary"] == (t < -2.86)


# --- burstiness -------------------------------------------------------------


def test_burstiness_interevent_replay(spark):
    ev = sorted(
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_type", "ts", "event_id")
        .collect(),
        key=lambda r: (r["ts"], r["event_id"]),
    )
    streams = defaultdict(list)
    for r in ev:
        streams[r["event_type"]].append(r["ts"])
    rows = {r["event_type"]: r
            for r in inference_stats.burstiness_interevent(spark, SF).collect()}
    for t, tss in streams.items():
        # engines floor each timestamp to the second, then diff
        tss0 = [ts.replace(microsecond=0) for ts in tss]
        gaps = [
            int((b - a).total_seconds()) for a, b in zip(tss0, tss0[1:])
        ]
        n = len(gaps)
        mean = sum(gaps) / n
        var = (n * sum(g * g for g in gaps) - sum(gaps) ** 2) / (n * (n - 1))
        sd = math.sqrt(var)
        r = rows[t]
        assert r["n_gaps"] == n
        assert r["mean_gap_s"] == pytest.approx(mean, abs=1e-3)
        assert r["sd_gap_s"] == pytest.approx(sd, abs=1e-3)
        assert r["cv"] == pytest.approx(sd / mean, abs=1e-5)
        assert r["burstiness"] == pytest.approx(
            (sd - mean) / (sd + mean), abs=1e-5
        )
        assert -1.0 <= r["burstiness"] <= 1.0


# --- duplicate payments -----------------------------------------------------


def test_duplicate_payment_flags_replay(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    blocks = defaultdict(list)
    for r in o:
        blocks[(r["o_custkey"], int(round(r["o_totalprice"] * 100)))].append(
            (r["o_orderkey"], r["o_orderdate"].date())
        )
    expected = set()
    for (cust, cents), rows_ in blocks.items():
        for i in range(len(rows_)):
            for j in range(len(rows_)):
                (ka, da), (kb, db) = rows_[i], rows_[j]
                if ka < kb and abs((db - da).days) <= 7:
                    expected.add((cust, ka, kb, cents, abs((db - da).days)))
    got = {
        (r["o_custkey"], r["orderkey_a"], r["orderkey_b"], r["cents"],
         r["day_gap"])
        for r in inference_rec.duplicate_payment_flags(spark, SF).collect()
    }
    assert got == expected


# --- ABC analysis -----------------------------------------------------------


def test_abc_analysis_parts_replay(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    rev = defaultdict(int)
    for r in li:
        # engine round() is half-up; python round() is half-even
        rev[r["l_partkey"]] += int(
            math.floor(r["l_extendedprice"] * (1.0 - r["l_discount"]) * 100 + 0.5)
        )
    ranked = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    tot = sum(rev.values())
    rows = {
        r["l_partkey"]: r
        for r in inference_rec.abc_analysis_parts(spark, SF).collect()
    }
    assert len(rows) == len(rev)
    cum = 0
    classes = defaultdict(int)
    for rank, (pk, rc) in enumerate(ranked, start=1):
        cum += rc
        cls = "A" if 5 * cum <= 4 * tot else ("B" if 20 * cum <= 19 * tot else "C")
        r = rows[pk]
        assert r["rank"] == rank
        assert r["revenue"] == pytest.approx(rc / 100, abs=0.02)
        assert r["cum_share"] == pytest.approx(cum / tot, abs=1e-5)
        assert r["abc_class"] == cls
        classes[cls] += 1
    # Pareto shape: the A head is a minority of parts carrying 80% of revenue
    assert classes["A"] < classes["A"] + classes["B"] + classes["C"]
    assert classes["A"] > 0 and classes["C"] > 0


# --- WoE / IV ---------------------------------------------------------------


def test_woe_iv_quality_replay(spark):
    """Replay from the query's own bin table (the binning itself is
    oracle-proven); checks the smoothed-WoE and IV algebra."""
    rows = sorted(
        inference_eval.woe_iv_quality(spark, SF).collect(), key=lambda r: r["bin"]
    )
    B = len(rows)
    P = sum(r["n_pos"] for r in rows)
    N = sum(r["n_neg"] for r in rows)
    iv = 0.0
    for r in rows:
        woe = math.log(
            ((2 * r["n_pos"] + 1) * (2 * N + B))
            / ((2 * r["n_neg"] + 1) * (2 * P + B))
        )
        assert r["woe"] == pytest.approx(woe, abs=2e-6)
        contrib = (r["n_pos"] / P - r["n_neg"] / N) * woe
        assert r["iv_contrib"] == pytest.approx(contrib, abs=2e-6)
        iv += contrib
        # IV contributions are nonnegative by construction (sign(gap)
        # matches sign(woe) up to smoothing)
    for r in rows:
        assert r["iv_total"] == pytest.approx(iv, abs=1e-4)


def test_decision_stump_quality_replay(spark):
    """Entropy-gain replay from the stump's own split counts; exactly
    one best row, and its gain is the maximum."""
    rows = sorted(
        inference_eval.decision_stump_quality(spark, SF).collect(),
        key=lambda r: r["split_after_bin"],
    )
    n = rows[0]["n_left"] + rows[0]["n_right"]
    P = rows[0]["pos_left"] + rows[0]["pos_right"]

    def ent(p_num, tot):
        if tot == 0:
            return 0.0
        h = 0.0
        for x in (p_num / tot, (tot - p_num) / tot):
            if x > 0:
                h -= x * math.log(x)
        return h

    gains = []
    for r in rows:
        g = (
            ent(P, n)
            - (r["n_left"] / n) * ent(r["pos_left"], r["n_left"])
            - (r["n_right"] / n) * ent(r["pos_right"], r["n_right"])
        )
        assert r["gain"] == pytest.approx(g, abs=2e-6)
        assert r["gain"] >= -1e-9  # information gain is nonnegative
        gains.append(g)
    best = [r for r in rows if r["is_best"]]
    assert len(best) == 1
    assert best[0]["gain"] == pytest.approx(max(gains), abs=2e-6)


# --- silhouette -------------------------------------------------------------


def test_silhouette_labels_replay(spark):
    """Python centroid-silhouette replay from raw embeddings."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    by_label = defaultdict(list)
    for r in e:
        by_label[r["label"]].append([float(x) for x in r["embedding"]])
    cents = {
        lab: [sum(col) / len(vs) for col in zip(*vs)]
        for lab, vs in by_label.items()
    }
    sums, counts = defaultdict(float), defaultdict(int)
    for r in e:
        v = [float(x) for x in r["embedding"]]
        d = {
            lab: math.sqrt(sum((a - b) ** 2 for a, b in zip(v, c)))
            for lab, c in cents.items()
        }
        a = d[r["label"]]
        b = min(dv for lab, dv in d.items() if lab != r["label"])
        s = (b - a) / max(a, b) if max(a, b) > 0 else 0.0
        sums[r["label"]] += s
        counts[r["label"]] += 1
    rows = {r["label"]: r for r in inference_eval.silhouette_labels(spark, SF).collect()}
    assert set(rows) == set(by_label)
    for lab in by_label:
        assert rows[lab]["n_vecs"] == counts[lab]
        # replay means are plain-float; engine snaps to the 2^40 grid —
        # tolerance covers both
        assert rows[lab]["mean_silhouette"] == pytest.approx(
            sums[lab] / counts[lab], abs=1e-4
        )
        assert -1.0 <= rows[lab]["mean_silhouette"] <= 1.0


# --- adjusted Rand ----------------------------------------------------------


def test_adjusted_rand_kmeans_labels_replay(spark):
    """ARI pair-counting algebra replay from the query's own contingency
    counts (the assignment itself is oracle-proven), plus bounds."""
    row = inference_eval.adjusted_rand_kmeans_labels(spark, SF).collect()[0]
    n = row["n"]
    T = n * (n - 1) // 2
    A, B, I = row["sum_comb_cells"], row["sum_comb_labels"], row["sum_comb_cont"]
    ari = (2 * T * I - 2 * A * B) / (T * (A + B) - 2 * A * B)
    assert row["ari"] == pytest.approx(ari, abs=2e-6)
    assert -1.0 <= row["ari"] <= 1.0
    assert I <= min(A, B)  # intersection pairs bounded by either marginal
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    assert n == e.count()


def test_adjusted_rand_perfect_agreement(spark):
    """Degenerate check of the same pair-counting algebra: a clustering
    compared with itself gives ARI == 1 (python replay of the formula
    on a synthetic contingency)."""
    sizes = [5, 17, 3, 25]
    n = sum(sizes)
    T = n * (n - 1) // 2
    A = B = I = sum(s * (s - 1) // 2 for s in sizes)
    ari = (2 * T * I - 2 * A * B) / (T * (A + B) - 2 * A * B)
    assert ari == pytest.approx(1.0, abs=1e-12)


# --- average precision ------------------------------------------------------


def test_average_precision_quality_replay(spark):
    from data_integration_case_study_spark.plans import pipeline_queries

    scores = {
        r["doc_id"]: r["avg_logprob"]
        for r in pipeline_queries.bigram_doc_scores(spark, SF).collect()
    }
    lang = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    ranked = sorted(scores, key=lambda d: (-scores[d], d))
    cum = 0
    ap_sum = 0.0
    for k, doc in enumerate(ranked, start=1):
        if lang[doc] == "en":
            cum += 1
            ap_sum += cum / k
    P = cum
    row = inference_eval.average_precision_quality(spark, SF).collect()[0]
    assert row["n_docs"] == len(ranked)
    assert row["n_pos"] == P
    assert row["average_precision"] == pytest.approx(ap_sum / P, abs=1e-5)
    assert row["prevalence_baseline"] == pytest.approx(P / len(ranked), abs=1e-6)
    # a real ranking should beat the random baseline
    assert row["average_precision"] > row["prevalence_baseline"]


# --- Lorenz curve -----------------------------------------------------------


def test_lorenz_curve_deciles_replay(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    rev = defaultdict(int)
    for r in o:
        rev[r["o_custkey"]] += int(math.floor(r["o_totalprice"] * 100 + 0.5))
    ranked = sorted(rev.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(ranked)
    tot = sum(rev.values())
    gini = 2 * sum(i * rc for i, (_, rc) in enumerate(ranked, 1)) / (n * tot) - (
        n + 1
    ) / n
    rows = sorted(inference_stats.lorenz_curve_deciles(spark, SF).collect(),
                  key=lambda r: r["decile"])
    assert len(rows) == 10
    assert sum(r["n_customers"] for r in rows) == n
    # ntile split sizes: python replication
    base, rem = divmod(n, 10)
    cum = 0.0
    idx = 0
    for r in rows:
        expect_sz = base + (1 if r["decile"] <= rem else 0)
        assert r["n_customers"] == expect_sz
        dsum_ = sum(rc for _, rc in ranked[idx: idx + expect_sz])
        idx += expect_sz
        assert r["revenue_share"] == pytest.approx(dsum_ / tot, abs=1e-6)
        cum += dsum_ / tot
        assert r["cum_share"] == pytest.approx(cum, abs=1e-5)
        assert r["gini_total"] == pytest.approx(gini, abs=1e-5)
    # Lorenz curve ends at 1 and shares are non-decreasing by decile
    assert rows[-1]["cum_share"] == pytest.approx(1.0, abs=1e-6)
    shares = [r["revenue_share"] for r in rows]
    assert shares == sorted(shares)
    assert 0.0 <= rows[0]["gini_total"] <= 1.0


# --- Cochran-Armitage -------------------------------------------------------


def test_cochran_armitage_trend_replay(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    g = defaultdict(lambda: [0, 0])  # n, r per score
    for r in o:
        s = int(r["o_orderpriority"][0])
        g[s][0] += 1
        g[s][1] += int(r["o_orderstatus"] == "F")
    N = sum(v[0] for v in g.values())
    R = sum(v[1] for v in g.values())
    sr = sum(s * v[1] for s, v in g.items())
    sn = sum(s * v[0] for s, v in g.items())
    sn2 = sum(s * s * v[0] for s, v in g.items())
    A = N * sr - R * sn
    B = R * (N - R) * (N * sn2 - sn * sn)
    z = A / math.sqrt(B * N)
    rows = {r["score"]: r for r in
            inference_stats.cochran_armitage_trend(spark, SF).collect()}
    assert set(rows) == set(g)
    for s, (n, r_) in g.items():
        assert rows[s]["n"] == n and rows[s]["r"] == r_
        assert rows[s]["rate"] == pytest.approx(r_ / n, abs=1e-6)
        assert rows[s]["z_trend"] == pytest.approx(z, abs=2e-4)
        assert rows[s]["chi2_trend"] == pytest.approx(z * z, abs=2e-3)


# --- McNemar ----------------------------------------------------------------


def test_mcnemar_halves_replay(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    x1, x2 = defaultdict(int), defaultdict(int)
    users = set()
    for r in ev:
        users.add(r["user_id"])
        if r["event_type"] == "purchase" and r["value"] >= 100:
            if r["ts"].day <= 15:
                x1[r["user_id"]] = 1
            else:
                x2[r["user_id"]] = 1
    b = sum(1 for u in users if x1[u] and not x2[u])
    c = sum(1 for u in users if not x1[u] and x2[u])
    both = sum(1 for u in users if x1[u] and x2[u])
    row = inference_stats.mcnemar_halves(spark, SF).collect()[0]
    assert row["n_users"] == len(users)
    assert row["n_both"] == both
    assert row["b"] == b and row["c"] == c
    assert row["chi2"] == pytest.approx((b - c) ** 2 / (b + c), abs=1e-3)
    assert row["chi2_cc"] == pytest.approx(
        (abs(b - c) - 1) ** 2 / (b + c), abs=1e-3
    )


# --- Ljung-Box --------------------------------------------------------------


def test_ljung_box_daily_replay(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    daily = defaultdict(int)
    for r in o:
        daily[r["o_orderdate"].date()] += int(round(r["o_totalprice"] * 100))
    days = sorted(daily)
    n = len(days)
    s = sum(daily.values())
    r_ = {d: n * daily[d] - s for d in days}
    den = sum(v * v for v in r_.values())
    q = 0.0
    for lag in range(1, 11):
        num = sum(
            r_[d] * r_[d.fromordinal(d.toordinal() - lag)]
            for d in days
            if d.fromordinal(d.toordinal() - lag) in r_
        )
        q += (num / den) ** 2 / (n - lag)
    q *= n * (n + 2)
    row = inference_ts.ljung_box_daily(spark, SF).collect()[0]
    assert row["n_days"] == n
    assert row["dof"] == 10
    assert row["q_stat"] == pytest.approx(q, abs=2e-3)
    assert row["reject_whiteness"] == (q > 18.307)


# --- uplift -----------------------------------------------------------------


def test_uplift_by_segment_replay(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    conv = defaultdict(int)
    users = set()
    for r in ev:
        users.add(r["user_id"])
        if r["event_type"] == "purchase" and r["value"] >= 200:
            conv[r["user_id"]] = 1
    seg = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in spark.read.parquet(f"{SF}/customer.parquet").collect()
    }
    cells = defaultdict(lambda: [0, 0, 0, 0])  # nT, convT, nC, convC
    for u in users:
        if u not in seg:
            continue
        arm = _hash60(f"uplift-v1:{u}") % 2
        cell = cells[seg[u]]
        if arm:
            cell[0] += 1
            cell[1] += conv[u]
        else:
            cell[2] += 1
            cell[3] += conv[u]
    rows = {r["c_mktsegment"]: r for r in
            inference_stats.uplift_by_segment(spark, SF).collect()}
    assert set(rows) == {s for s, c in cells.items() if c[0] or c[2]}
    for sgm, (nt, ct, nc, cc) in cells.items():
        r = rows[sgm]
        assert (r["n_treat"], r["conv_treat"], r["n_ctrl"], r["conv_ctrl"]) == (
            nt, ct, nc, cc,
        )
        if nt == 0 or nc == 0:
            # empty arm: rates/uplift/z are NULL by contract
            assert r["uplift"] is None and r["z"] is None
            continue
        pt, pc = ct / nt, cc / nc
        assert r["uplift"] == pytest.approx(pt - pc, abs=1e-6)
        se = math.sqrt(pt * (1 - pt) / nt + pc * (1 - pc) / nc)
        if se > 0:
            assert r["z"] == pytest.approx((pt - pc) / se, abs=2e-4)
        else:
            assert r["z"] is None


# --- periodogram ------------------------------------------------------------


def test_periodogram_daily_replay(spark):
    """Python DFT replay on the demeaned daily series; the weekly cycle
    planted by the generator should dominate (peak at 7 or a harmonic)."""
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    daily = defaultdict(int)
    for r in o:
        daily[r["o_orderdate"].date()] += int(round(r["o_totalprice"] * 100))
    days = sorted(daily)
    n = len(days)
    s = sum(daily.values())
    u = [(n * daily[d] - s) / n for d in days]
    rows = {r["period"]: r for r in inference_ts.periodogram_daily(spark, SF).collect()}
    assert set(rows) == set(range(2, 15))
    powers = {}
    for p in range(2, 15):
        sc = sum(u[t] * math.cos(2 * math.pi * (t % p) / p) for t in range(n))
        ss = sum(u[t] * math.sin(2 * math.pi * (t % p) / p) for t in range(n))
        powers[p] = (sc * sc + ss * ss) / n
        # loose relative tolerance: replay is plain-float, engine snaps
        # each term on the 2^14 grid
        assert rows[p]["power"] == pytest.approx(powers[p], rel=1e-4, abs=1.0)
    tot = sum(powers.values())
    for p in range(2, 15):
        assert rows[p]["power_frac"] == pytest.approx(powers[p] / tot, abs=1e-4)
    peaks = [p for p, r in rows.items() if r["is_peak"]]
    assert peaks == [max(powers, key=lambda p: (powers[p], -p))]


# --- Hurst ------------------------------------------------------------------


def test_hurst_rs_daily_replay(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    daily = defaultdict(int)
    for r in o:
        daily[r["o_orderdate"].date()] += int(round(r["o_totalprice"] * 100))
    xs = [daily[d] for d in sorted(daily)]
    rows = {r["m"]: r for r in inference_ts.hurst_rs_daily(spark, SF).collect()}
    assert set(rows) == {8, 16, 32}
    pts = []
    for m in (8, 16, 32):
        logs = []
        for b in range(len(xs) // m):
            blk = xs[b * m: (b + 1) * m]
            sb, s2b = sum(blk), sum(x * x for x in blk)
            cum = 0
            mws = []
            for j, x in enumerate(blk, start=1):
                cum += x
                mws.append(m * cum - j * sb)
            sm2 = m * (m * s2b - sb * sb)
            if sm2 <= 0:
                continue
            rs = (max(mws) - min(mws)) / math.sqrt(sm2)
            logs.append(math.log(rs))
        mean_log = sum(logs) / len(logs)
        pts.append((math.log(m), mean_log))
        r = rows[m]
        assert r["n_blocks"] == len(logs)
        assert r["mean_log_rs"] == pytest.approx(mean_log, abs=1e-5)
    mean_lm = sum(x for x, _ in pts) / 3
    sxx = sum((x - mean_lm) ** 2 for x, _ in pts)
    h = sum((x - mean_lm) * y for x, y in pts) / sxx
    for r in rows.values():
        assert r["hurst_h"] == pytest.approx(h, abs=1e-3)
    assert 0.0 < h < 1.2  # R/S estimates live near (0, 1]


# --- JSD --------------------------------------------------------------------


def test_jsd_sources_replay(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    counts = defaultdict(lambda: defaultdict(int))
    for r in docs:
        for tok in r["text"].split(" "):
            counts[r["source"]][tok] += 1
    probs = {
        s: {t: c / sum(cs.values()) for t, c in cs.items()}
        for s, cs in counts.items()
    }

    def H(dist):
        return -sum(p * math.log(p) for p in sorted(dist.values()))

    rows = {
        (r["sa"], r["sb"]): r
        for r in inference_eval.jsd_sources(spark, SF).collect()
    }
    srcs = sorted(counts)
    expected_pairs = {
        (a, b) for i, a in enumerate(srcs) for b in srcs[i + 1:]
    }
    assert set(rows) == expected_pairs
    for (a, b), r in rows.items():
        pa, pb = probs[a], probs[b]
        m = {
            t: (pa.get(t, 0) + pb.get(t, 0)) / 2
            for t in set(pa) | set(pb)
        }
        jsd = H(m) - (H(pa) + H(pb)) / 2
        assert r["h_a"] == pytest.approx(H(pa), abs=1e-4)
        assert r["h_b"] == pytest.approx(H(pb), abs=1e-4)
        assert r["jsd"] == pytest.approx(jsd, abs=1e-4)
        # JSD bounds: 0 <= JSD <= ln 2
        assert -1e-6 <= r["jsd"] <= math.log(2) + 1e-6
        assert r["jsd_normalized"] == pytest.approx(jsd / math.log(2), abs=1e-4)


# --- price elasticity -------------------------------------------------------


def test_price_elasticity_parts_replay(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    cents, qty = defaultdict(int), defaultdict(int)
    for r in li:
        cents[r["l_partkey"]] += int(math.floor(r["l_extendedprice"] * 100 + 0.5))
        qty[r["l_partkey"]] += int(round(r["l_quantity"]))
    xs, ys = [], []
    for pk in cents:
        xs.append(math.log((cents[pk] / 100) / qty[pk]))
        ys.append(math.log(qty[pk]))
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    syy = sum(b * b for b in ys)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    row = inference_ts.price_elasticity_parts(spark, SF).collect()[0]
    assert row["n_parts"] == n
    assert row["elasticity"] == pytest.approx(slope, abs=1e-4)
    assert row["intercept"] == pytest.approx((sy - slope * sx) / n, abs=1e-3)
    assert row["r2"] == pytest.approx(r2, abs=1e-4)
    assert 0.0 <= row["r2"] <= 1.0


# --- quantile normalization -------------------------------------------------


def test_quantile_normalize_sources_replay(spark):
    """Replay from the query's own bin means (binning is oracle-proven);
    the reference is the cross-source mean per bin and shifts cancel."""
    rows = inference_eval.quantile_normalize_sources(spark, SF).collect()
    by_bin = defaultdict(list)
    for r in rows:
        by_bin[r["bin"]].append(r)
    for b, rs in by_bin.items():
        ref = sum(x["mean_before"] for x in rs) / len(rs)
        for x in rs:
            assert x["ref_value"] == pytest.approx(ref, abs=2e-5)
            assert x["shift"] == pytest.approx(
                x["ref_value"] - x["mean_before"], abs=2e-6
            )
    # per source: 20 bins covering all docs, and normalization is
    # monotone in the bin index (ref values non-decreasing)
    by_src = defaultdict(list)
    for r in rows:
        by_src[r["source"]].append(r)
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    refs = [
        sorted(rs, key=lambda x: x["bin"])
        for rs in by_src.values()
    ]
    for rs in refs:
        vals = [x["ref_value"] for x in rs]
        assert vals == sorted(vals)


# --- log-odds tokens --------------------------------------------------------


def test_log_odds_tokens_replay(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    prior, ya, yb = defaultdict(int), defaultdict(int), defaultdict(int)
    for r in docs:
        for tok in r["text"].split(" "):
            prior[tok] += 1
            if r["source"] == "src0":
                ya[tok] += 1
            elif r["source"] == "src1":
                yb[tok] += 1
    a0 = sum(prior.values())
    na, nb = sum(ya.values()), sum(yb.values())
    scored = {}
    for t, a in prior.items():
        d = math.log((ya[t] + a) / (na + a0 - ya[t] - a)) - math.log(
            (yb[t] + a) / (nb + a0 - yb[t] - a)
        )
        z = d / math.sqrt(1 / (ya[t] + a) + 1 / (yb[t] + a))
        scored[t] = (d, z)
    top = sorted(scored, key=lambda t: (-abs(scored[t][1]), t))[:20]
    rows = inference_eval.log_odds_tokens(spark, SF).collect()
    assert [r["token"] for r in sorted(rows, key=lambda r: r["rank"])] == top
    for r in rows:
        d, z = scored[r["token"]]
        assert r["ya"] == ya[r["token"]] and r["yb"] == yb[r["token"]]
        assert r["delta"] == pytest.approx(d, abs=1e-5)
        assert r["z"] == pytest.approx(z, abs=1e-4)


# --- Granger ----------------------------------------------------------------


def test_granger_signups_revenue_replay(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    rev, sig = defaultdict(int), defaultdict(int)
    for r in ev:
        d = r["ts"].date()
        if r["event_type"] == "purchase":
            rev[d] += int(math.floor(r["value"] * 100 + 0.5))
            sig.setdefault(d, sig[d])
        elif r["event_type"] == "signup":
            sig[d] += 1
        rev.setdefault(d, rev[d])
    days = sorted(set(rev) | set(sig))
    pairs = [
        (rev.get(d, 0), rev.get(prev, 0), sig.get(prev, 0))
        for d in days
        for prev in [d.fromordinal(d.toordinal() - 1)]
        if prev in set(days)
    ]
    np_ = len(pairs)
    sy = sum(p[0] for p in pairs)
    syl = sum(p[1] for p in pairs)
    sxl = sum(p[2] for p in pairs)
    cy = [np_ * p[0] - sy for p in pairs]
    cyl = [np_ * p[1] - syl for p in pairs]
    cxl = [np_ * p[2] - sxl for p in pairs]
    a11 = sum(v * v for v in cyl)
    a12 = sum(a * b for a, b in zip(cyl, cxl))
    a22 = sum(v * v for v in cxl)
    b1 = sum(a * b for a, b in zip(cyl, cy))
    b2 = sum(a * b for a, b in zip(cxl, cy))
    syy = sum(v * v for v in cy)
    det = a11 * a22 - a12 * a12
    b = (b1 * a22 - b2 * a12) / det
    c = (b2 * a11 - b1 * a12) / det
    sse_u = syy - b * b1 - c * b2
    sse_r = syy - b1 * b1 / a11
    f = (sse_r - sse_u) * (np_ - 3) / sse_u
    row = inference_ts.granger_signups_revenue(spark, SF).collect()[0]
    assert row["n_pairs"] == np_
    assert row["beta_rev_lag"] == pytest.approx(b, abs=1e-4)
    assert row["beta_sig_lag"] == pytest.approx(c, abs=1e-2)
    assert row["f_stat"] == pytest.approx(f, abs=1e-2)
    assert row["dof_denom"] == np_ - 3
    assert row["f_stat"] >= 0.0


# --- order velocity ---------------------------------------------------------


def test_order_velocity_flags_replay(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    by_cust = defaultdict(list)
    for r in o:
        by_cust[r["o_custkey"]].append(
            (r["o_orderdate"].date(), r["o_orderkey"])
        )
    expected = {}
    for cust, rows_ in by_cust.items():
        for d, ok in rows_:
            cnt = sum(1 for d2, _ in rows_ if 0 <= (d - d2).days <= 6)
            if cnt >= 3:
                expected[(cust, ok)] = cnt
    got = {
        (r["o_custkey"], r["o_orderkey"]): r["orders_7d"]
        for r in inference_rec.order_velocity_flags(spark, SF).collect()
    }
    assert got == expected


# --- Good-Turing ------------------------------------------------------------


def test_good_turing_mass_replay(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    counts = defaultdict(int)
    for r in docs:
        for tok in r["text"].split(" "):
            counts[tok] += 1
    N = sum(counts.values())
    V = len(counts)
    n1 = sum(1 for c in counts.values() if c == 1)
    n2 = sum(1 for c in counts.values() if c == 2)
    row = inference_eval.good_turing_mass(spark, SF).collect()[0]
    assert row["n_tokens"] == N and row["vocab"] == V
    assert row["n1"] == n1 and row["n2"] == n2
    assert row["missing_mass"] == pytest.approx(n1 / N, abs=1e-6)
    assert row["chao1_richness"] == pytest.approx(
        V + n1 * (n1 - 1) / (2 * (n2 + 1)), abs=0.02
    )
    assert row["chao1_richness"] >= V  # estimated richness >= observed
    assert 0.0 <= row["missing_mass"] <= 1.0


# --- cohort LTV -------------------------------------------------------------


def test_cohort_ltv_matrix_replay(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    epoch = __import__("datetime").date(1970, 1, 1)
    signup = {}
    for r in ev:
        if r["event_type"] == "signup":
            d = (r["ts"].date() - epoch).days
            u = r["user_id"]
            if u not in signup or d < signup[u]:
                signup[u] = d
    sizes = defaultdict(int)
    for u, sd in signup.items():
        sizes[sd // 7] += 1
    rev = defaultdict(int)
    for r in ev:
        if r["event_type"] == "purchase" and r["user_id"] in signup:
            pd_ = (r["ts"].date() - epoch).days
            sd = signup[r["user_id"]]
            if pd_ >= sd:
                rev[(sd // 7, (pd_ - sd) // 7)] += int(
                    math.floor(r["value"] * 100 + 0.5)
                )
    rows = {(r["cohort_week"], r["age_week"]): r
            for r in inference_ts.cohort_ltv_matrix(spark, SF).collect()}
    assert set(rows) == set(rev)
    cums = defaultdict(int)
    for (cw, aw) in sorted(rev):
        cums[cw] += rev[(cw, aw)]
        r = rows[(cw, aw)]
        assert r["n_users"] == sizes[cw]
        assert r["revenue"] == pytest.approx(rev[(cw, aw)] / 100, abs=0.02)
        assert r["cum_revenue"] == pytest.approx(cums[cw] / 100, abs=0.02)
        assert r["cum_ltv_per_user"] == pytest.approx(
            cums[cw] / 100 / sizes[cw], abs=0.01
        )
    # LTV curves are non-decreasing in age within each cohort
    by_c = defaultdict(list)
    for (cw, aw), r in rows.items():
        by_c[cw].append((aw, r["cum_ltv_per_user"]))
    for pts in by_c.values():
        vals = [v for _, v in sorted(pts)]
        assert vals == sorted(vals)


# --- Markov entropy rate ----------------------------------------------------


def test_markov_entropy_rate_replay(spark):
    ev = sorted(
        spark.read.parquet(f"{SF}/events.parquet").collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    trans = defaultdict(int)
    prev_user, prev_type = None, None
    for r in ev:
        if r["user_id"] == prev_user:
            trans[(prev_type, r["event_type"])] += 1
        prev_user, prev_type = r["user_id"], r["event_type"]
    row_n = defaultdict(int)
    for (a, b), n in trans.items():
        row_n[a] += n
    tot = sum(trans.values())
    hs = {}
    for a in row_n:
        hs[a] = -sum(
            (trans[(a, b)] / row_n[a]) * math.log(trans[(a, b)] / row_n[a])
            for b in sorted({b for (x, b) in trans if x == a})
        )
    rate = sum((row_n[a] / tot) * hs[a] for a in sorted(row_n))
    rows = {r["state"]: r for r in inference_ts.markov_entropy_rate(spark, SF).collect()}
    assert set(rows) == set(row_n)
    for a in row_n:
        r = rows[a]
        assert r["n_transitions"] == row_n[a]
        assert r["pi"] == pytest.approx(row_n[a] / tot, abs=1e-5)
        assert r["state_entropy"] == pytest.approx(hs[a], abs=1e-5)
        assert r["entropy_rate"] == pytest.approx(rate, abs=1e-4)
        # bounded by ln(#states)
        assert 0.0 <= r["state_entropy"] <= math.log(len(row_n) ) + 1e-9


# --- Weibull fit ------------------------------------------------------------


def test_weibull_fit_conversion_replay(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    signup, purchase = {}, defaultdict(list)
    for r in ev:
        if r["event_type"] == "signup":
            u = r["user_id"]
            if u not in signup or r["ts"] < signup[u]:
                signup[u] = r["ts"]
        elif r["event_type"] == "purchase":
            purchase[r["user_id"]].append(r["ts"])
    durs = []
    for u, s_ts in signup.items():
        after = [t for t in purchase.get(u, []) if t >= s_ts]
        if after:
            durs.append(
                (math.floor((min(after) - s_ts).total_seconds() / 3600) + 1, u)
            )
    durs.sort()
    n = len(durs)
    xs, ys = [], []
    for i, (t, _) in enumerate(durs, start=1):
        xs.append(math.log(t))
        f = (i - 0.3) / (n + 0.4)
        ys.append(math.log(-math.log(1 - f)))
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    syy = sum(b * b for b in ys)
    shape = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - shape * sx) / n
    row = inference_stats.weibull_fit_conversion(spark, SF).collect()[0]
    assert row["n_converters"] == n
    assert row["weibull_shape"] == pytest.approx(shape, abs=1e-4)
    assert row["weibull_scale_h"] == pytest.approx(
        math.exp(-intercept / shape), rel=1e-3
    )
    assert row["r2"] == pytest.approx(
        (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
        abs=1e-4,
    )
    assert row["weibull_shape"] > 0 and row["weibull_scale_h"] > 0


# --- detector agreement -----------------------------------------------------


def test_neardup_method_agreement_replay(spark):
    """Set-overlap replay from the three detectors' own pair frames."""
    from data_integration_case_study_spark.plans.text_queries import (
        minhash_lsh_neardups,
        ngram_jaccard_neardups,
        simhash_neardups,
    )

    sets = {
        "minhash": {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_neardups(spark, SF).collect()
        },
        "ngram": {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_neardups(spark, SF).collect()
        },
        "simhash": {
            (r["id_a"], r["id_b"])
            for r in simhash_neardups(spark, SF).collect()
        },
    }
    rows = {(r["method_a"], r["method_b"]): r
            for r in inference_eval.neardup_method_agreement(spark, SF).collect()}
    methods = ["minhash", "ngram", "simhash"]
    assert set(rows) == {
        (a, b) for i, a in enumerate(methods) for b in methods[i + 1:]
    }
    for (a, b), r in rows.items():
        A, B = sets[a], sets[b]
        inter = len(A & B)
        assert r["n_a"] == len(A) and r["n_b"] == len(B)
        assert r["n_both"] == inter
        assert r["n_both"] <= min(r["n_a"], r["n_b"])
        union = len(A) + len(B) - inter
        if union:
            assert r["pair_jaccard"] == pytest.approx(inter / union, abs=1e-6)
        assert r["pair_jaccard"] is None or 0.0 <= r["pair_jaccard"] <= 1.0


# --- Bass diffusion ---------------------------------------------------------


def test_bass_diffusion_fit_replay(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    first = {}
    for r in ev:
        if r["event_type"] == "signup":
            d = r["ts"].date()
            u = r["user_id"]
            if u not in first or d < first[u]:
                first[u] = d
    daily = defaultdict(int)
    for d in first.values():
        daily[d] += 1
    days = sorted(daily)
    pts = []
    cum = 0
    for d in days:
        pts.append((daily[d], cum))
        cum += daily[d]
    np_ = len(pts)
    sa = sum(p[0] for p in pts)
    s1 = sum(p[1] for p in pts)
    s2 = sum(p[1] ** 2 for p in pts)
    cy = [np_ * p[0] - sa for p in pts]
    c1 = [np_ * p[1] - s1 for p in pts]
    c2 = [np_ * p[1] ** 2 - s2 for p in pts]
    a11 = sum(v * v for v in c1)
    a12 = sum(x * y for x, y in zip(c1, c2))
    a22 = sum(v * v for v in c2)
    b1 = sum(x * y for x, y in zip(c1, cy))
    b2 = sum(x * y for x, y in zip(c2, cy))
    det = a11 * a22 - a12 * a12
    b = (b1 * a22 - b2 * a12) / det
    c = (b2 * a11 - b1 * a12) / det
    a = (sa - b * s1 - c * s2) / np_
    row = inference_ts.bass_diffusion_fit(spark, SF).collect()[0]
    assert row["n_days"] == np_
    assert row["coef_a"] == pytest.approx(a, abs=1e-3)
    assert row["coef_b"] == pytest.approx(b, abs=1e-4)
    assert row["coef_c"] == pytest.approx(c, abs=1e-6)
    disc = b * b - 4 * a * c
    if c < 0 and disc > 0:
        M = (-b - math.sqrt(disc)) / (2 * c)
        assert row["market_size_m"] == pytest.approx(M, rel=1e-3)
        assert row["innovation_p"] == pytest.approx(a / M, abs=1e-4)
        assert row["imitation_q"] == pytest.approx(b + a / M, abs=1e-4)
    else:
        assert row["market_size_m"] is None


# --- control chart ----------------------------------------------------------


def test_control_chart_daily_replay(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    daily = defaultdict(int)
    for r in o:
        daily[r["o_orderdate"].date()] += int(round(r["o_totalprice"] * 100))
    days = sorted(daily)
    n = len(days)
    s = sum(daily.values())
    s2 = sum(v * v for v in daily.values())
    sigma = math.sqrt((n * s2 - s * s) / (n * (n - 1)))
    mu = s / n
    expected = {}
    sides = [1 if daily[d] * n - s > 0 else (-1 if daily[d] * n - s < 0 else 0)
             for d in days]
    for i, d in enumerate(days):
        z = (daily[d] - mu) / sigma
        r1 = abs(z) > 3.0
        r4 = i >= 7 and abs(sum(sides[i - 7: i + 1])) == 8
        if r1 or r4:
            expected[d] = (z, r1, r4)
    rows = {r["d"]: r for r in inference_ts.control_chart_daily(spark, SF).collect()}
    assert set(rows) == set(expected)
    for d, (z, r1, r4) in expected.items():
        assert rows[d]["zscore"] == pytest.approx(z, abs=1e-3)
        assert rows[d]["rule1_3sigma"] == r1
        assert rows[d]["rule4_run8"] == r4


# --- Burrows' Delta ---------------------------------------------------------


def test_burrows_delta_sources_replay(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    counts = defaultdict(lambda: defaultdict(int))
    corpus = defaultdict(int)
    for r in docs:
        for t in r["text"].split(" "):
            counts[r["source"]][t] += 1
            corpus[t] += 1
    panel = sorted(corpus, key=lambda t: (-corpus[t], t))[:30]
    srcs = sorted(counts)
    nt = {s: sum(counts[s].values()) for s in srcs}
    z = {}
    for t in panel:
        fs = [counts[s].get(t, 0) / nt[s] for s in srcs]
        mean = sum(fs) / len(fs)
        var = sum((f - mean) ** 2 for f in fs) / (len(fs) - 1)
        sd = math.sqrt(var)
        if sd > 0:
            for s, f in zip(srcs, fs):
                z[(s, t)] = (f - mean) / sd
    deltas = {}
    toks = sorted({t for (_, t) in z})
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            vals = [abs(z[(a, t)] - z[(b, t)]) for t in toks if (a, t) in z]
            deltas[(a, b)] = sum(vals) / len(vals)
    rows = {(r["sa"], r["sb"]): r
            for r in inference_eval.burrows_delta_sources(spark, SF).collect()}
    assert set(rows) == set(deltas)
    for k, r in rows.items():
        assert r["delta"] == pytest.approx(deltas[k], abs=1e-4)
        assert r["delta"] >= 0


# --- DAU/WAU/MAU ------------------------------------------------------------


def test_dau_wau_mau_replay(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    ud = {(r["user_id"], r["ts"].date()) for r in ev}
    days = sorted({d for _, d in ud})
    mau = len({u for u, _ in ud})
    rows = {r["d"]: r for r in inference_ts.dau_wau_mau(spark, SF).collect()}
    assert set(rows) == set(days)
    for d in days:
        dau = len({u for u, dd in ud if dd == d})
        wau = len({u for u, dd in ud if 0 <= (d - dd).days <= 6})
        r = rows[d]
        assert r["dau"] == dau and r["wau"] == wau and r["mau"] == mau
        assert r["dau_over_wau"] == pytest.approx(dau / wau, abs=1e-6)
        assert r["dau_over_mau"] == pytest.approx(dau / mau, abs=1e-6)
        assert dau <= wau <= mau


# --- frequent triples -------------------------------------------------------


def test_frequent_triples_replay(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    baskets = defaultdict(set)
    for r in li:
        baskets[r["l_orderkey"]].add(r["l_partkey"])
    from itertools import combinations
    tri = defaultdict(int)
    sup = defaultdict(int)
    for items in baskets.values():
        for t in combinations(sorted(items), 3):
            tri[t] += 1
        for p in items:
            sup[p] += 1
    N = len(baskets)
    expected = {t: c for t, c in tri.items() if c >= 2}
    rows = {(r["pa"], r["pb"], r["pc"]): r
            for r in inference_rec.frequent_triples(spark, SF).collect()}
    assert set(rows) == set(expected)
    for t, c in expected.items():
        r = rows[t]
        assert r["n_abc"] == c
        lift = c * N * N / (sup[t[0]] * sup[t[1]] * sup[t[2]])
        assert r["lift3"] == pytest.approx(lift, rel=1e-3)


# --- price-volume-mix -------------------------------------------------------


def test_price_volume_mix_replay(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    lo = min(r["l_shipdate"].date() for r in li)
    hi = max(r["l_shipdate"].date() for r in li)
    span = (hi - lo).days
    agg = defaultdict(lambda: [0, 0, 0, 0])  # rev1, q1, rev2, q2
    for r in li:
        h2 = int(2 * (r["l_shipdate"].date() - lo).days >= span)
        a = agg[r["l_partkey"]]
        cents = int(math.floor(r["l_extendedprice"] * 100 + 0.5))
        qty = int(round(r["l_quantity"]))
        if h2:
            a[2] += cents
            a[3] += qty
        else:
            a[0] += cents
            a[1] += qty
    pe = ve = 0.0
    new_c = exit_c = delta = 0
    both = 0
    for rev1, q1, rev2, q2 in agg.values():
        delta += rev2 - rev1
        if q1 > 0 and q2 > 0:
            both += 1
            p1, p2 = rev1 / q1, rev2 / q2
            pe += (p2 - p1) * q2
            ve += (q2 - q1) * p1
        elif q1 == 0:
            new_c += rev2
        else:
            exit_c += rev1
    row = inference_ts.price_volume_mix(spark, SF).collect()[0]
    assert row["n_parts"] == len(agg)
    assert row["n_parts_both"] == both
    assert row["total_delta"] == pytest.approx(delta / 100, abs=0.02)
    assert row["price_effect"] == pytest.approx(pe / 100, abs=0.05)
    assert row["volume_effect"] == pytest.approx(ve / 100, abs=0.05)
    assert row["new_parts_effect"] == pytest.approx(new_c / 100, abs=0.02)
    assert row["exited_parts_effect"] == pytest.approx(exit_c / 100, abs=0.02)
    # the bridge reconciles: delta == price + volume + new - exited
    assert row["total_delta"] == pytest.approx(
        row["price_effect"] + row["volume_effect"]
        + row["new_parts_effect"] - row["exited_parts_effect"],
        abs=0.1,
    )


# --- Rocchio expansion ------------------------------------------------------


def test_rocchio_expansion_replay(spark):
    """Replay from the BM25 top-5 and raw corpus; expansion terms are
    non-query, correctly ranked, and present in the relevant docs."""
    from data_integration_case_study_spark.plans.text_queries import (
        _corpus,
        bm25_search,
    )

    rel = {
        r["doc_id"]
        for r in bm25_search(spark, SF).collect()
        if r["rank"] <= 5
    }
    docs = {r["doc_id"]: r["text"] for r in _corpus(spark, SF).collect()}
    n = len(docs)
    dfreq = defaultdict(int)
    for text in docs.values():
        for t in set(x for x in text.split(" ") if x):
            dfreq[t] += 1
    rel_tf = defaultdict(int)
    for d in rel:
        for t in docs[d].split(" "):
            if t and t not in ("spark", "join", "window"):
                rel_tf[t] += 1
    scored = {
        t: c * round(math.log(n / dfreq[t]), 6) for t, c in rel_tf.items()
    }
    top = sorted(scored, key=lambda t: (-round(scored[t], 6), t))[:10]
    rows = sorted(inference_rec.rocchio_expansion(spark, SF).collect(),
                  key=lambda r: r["rank"])
    assert [r["token"] for r in rows] == top
    for r in rows:
        assert r["rel_tf"] == rel_tf[r["token"]]
        assert r["df"] == dfreq[r["token"]]
        assert r["weight"] == pytest.approx(scored[r["token"]], abs=1e-4)
        assert r["token"] not in ("spark", "join", "window")


# --- Hill tail index --------------------------------------------------------


def test_hill_tail_index_replay(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    vals = sorted(
        (int(round(r["o_totalprice"] * 100)), r["o_orderkey"]) for r in o
    )
    vals.sort(key=lambda t: (-t[0], t[1]))
    k = 100
    xk1 = vals[k][0]
    lsum = sum(math.log(c / xk1) for c, _ in vals[:k])
    alpha = k / lsum
    row = inference_stats.hill_tail_index(spark, SF).collect()[0]
    assert row["k"] == k
    assert row["threshold_value"] == pytest.approx(xk1 / 100, abs=0.02)
    assert row["hill_alpha"] == pytest.approx(alpha, abs=1e-3)
    assert row["tail_xi"] == pytest.approx(1 / alpha, abs=1e-5)
    assert row["infinite_variance_regime"] == (alpha < 2.0)
    assert row["hill_alpha"] > 0


# --- bounce rate ------------------------------------------------------------


def test_bounce_rate_daily_replay(spark):
    """Replay sessionization (4h gap, lag+cumsum) and the daily fold."""
    ev = sorted(
        spark.read.parquet(f"{SF}/events.parquet").collect(),
        key=lambda r: (r["user_id"], r["ts"]),
    )
    sessions = []
    prev_user, prev_ts, count, start = None, None, 0, None
    for r in ev:
        new = (
            r["user_id"] != prev_user
            or (r["ts"] - prev_ts).total_seconds() >= 4 * 3600
        )
        if new:
            if count:
                sessions.append((start, count))
            start, count = r["ts"], 0
        count += 1
        prev_user, prev_ts = r["user_id"], r["ts"]
    sessions.append((start, count))
    agg = defaultdict(lambda: [0, 0])
    for start, c in sessions:
        a = agg[start.date()]
        a[0] += 1
        a[1] += int(c == 1)
    rows = {r["d"]: r for r in inference_ts.bounce_rate_daily(spark, SF).collect()}
    assert set(rows) == set(agg)
    for d, (ns, nb) in agg.items():
        assert rows[d]["n_sessions"] == ns
        assert rows[d]["n_bounces"] == nb
        assert rows[d]["bounce_rate"] == pytest.approx(nb / ns, abs=1e-6)


# --- empirical Bayes --------------------------------------------------------


def test_empirical_bayes_returns_replay(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    per = defaultdict(lambda: [0, 0])
    for r in li:
        a = per[r["l_partkey"]]
        a[0] += 1
        a[1] += int(r["l_returnflag"] == "R")
    ps = [x / n for n, x in per.values()]
    k = len(ps)
    m = sum(ps) / k
    v = (sum(p * p for p in ps) - sum(ps) ** 2 / k) / (k - 1)
    ab = m * (1 - m) / v - 1
    alpha, beta = m * ab, (1 - m) * ab
    rows = {r["l_partkey"]: r
            for r in inference_stats.empirical_bayes_returns(spark, SF).collect()}
    assert set(rows) == set(per)
    raws, shrunks = [], []
    for pk, (n, x) in per.items():
        r = rows[pk]
        assert r["n"] == n and r["x"] == x
        assert r["raw_rate"] == pytest.approx(x / n, abs=1e-6)
        assert r["shrunk_rate"] == pytest.approx(
            (x + alpha) / (n + alpha + beta), abs=1e-4
        )
        assert r["prior_alpha"] == pytest.approx(alpha, abs=1e-2)
        raws.append(x / n)
        shrunks.append(r["shrunk_rate"])
    # shrinkage contracts the spread toward the prior mean
    assert max(shrunks) - min(shrunks) < max(raws) - min(raws)


# --- geometric median -------------------------------------------------------


def test_geometric_median_embeddings_replay(spark):
    """Python 3-round Weiszfeld replay per label from the mean seed."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    by_label = defaultdict(list)
    for r in e:
        by_label[r["label"]].append([float(x) for x in r["embedding"]])
    rows = {(r["label"], r["pos"]): r
            for r in inference_eval.geometric_median_embeddings(spark, SF).collect()}
    for lab, vs in by_label.items():
        dim = len(vs[0])
        m = [sum(col) / len(vs) for col in zip(*vs)]
        for _ in range(3):
            wsum = 0.0
            acc = [0.0] * dim
            for v in vs:
                d = math.sqrt(sum((a - b) ** 2 for a, b in zip(v, m)))
                w = 1.0 / max(d, 1e-9)
                wsum += w
                for i in range(dim):
                    acc[i] += w * v[i]
            m = [a / wsum for a in acc]
        for pos in range(dim):
            r = rows[(lab, pos)]
            assert r["geo_median"] == pytest.approx(m[pos], abs=2e-4)
            assert r["shift"] == pytest.approx(
                abs(m[pos] - r["mean_centroid"]), abs=2e-4
            )


# --- stratified ATE ---------------------------------------------------------


def test_stratified_ate_replay(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    per = defaultdict(lambda: [0, 0])  # pre, post cents
    for r in ev:
        if r["event_type"] == "purchase":
            c = int(math.floor(r["value"] * 100 + 0.5))
            if r["ts"].day <= 15:
                per[r["user_id"]][0] += c
            else:
                per[r["user_id"]][1] += c
    users = sorted(per, key=lambda u: (per[u][0], u))
    n = len(users)
    base, rem = divmod(n, 5)
    strata = {}
    idx = 0
    for s in range(1, 6):
        sz = base + (1 if s <= rem else 0)
        for u in users[idx: idx + sz]:
            strata[u] = s
        idx += sz
    cells = defaultdict(lambda: [0, 0, 0, 0])  # n, nT, postT, postC
    for u, (pre, post) in per.items():
        arm = _hash60(f"sate-v1:{u}") % 2
        c = cells[strata[u]]
        c[0] += 1
        if arm:
            c[1] += 1
            c[2] += post
        else:
            c[3] += post
    rows = {r["stratum"]: r for r in inference_stats.stratified_ate(spark, SF).collect()}
    assert set(rows) == set(cells)
    n_valid = sum(nu for nu, nt, _, _ in cells.values() if 0 < nt < nu)
    ate = 0.0
    for s, (nu, nt, pt, pc) in cells.items():
        r = rows[s]
        assert r["n_users"] == nu and r["n_treat"] == nt
        if not (0 < nt < nu):
            # single-arm stratum: NULL means, drops out of the ATE
            assert r["stratum_effect"] is None
            continue
        mt = pt / (nt * 100)
        mc = pc / ((nu - nt) * 100)
        ate += (mt - mc) * nu / n_valid
        assert r["mean_post_treat"] == pytest.approx(mt, abs=1e-3)
        assert r["mean_post_ctrl"] == pytest.approx(mc, abs=1e-3)
        assert r["stratum_effect"] == pytest.approx(mt - mc, abs=2e-3)
    for r in rows.values():
        assert r["weighted_ate"] == pytest.approx(ate, abs=2e-3)


# --- rec catalog coverage ---------------------------------------------------


def test_rec_catalog_coverage_replay(spark):
    from data_integration_case_study_spark.plans.stats_queries import (
        item_item_cosine,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    catalog = {r["l_partkey"] for r in li}
    exposure = defaultdict(int)
    for r in item_item_cosine(spark, SF).collect():
        exposure[r["neighbor"]] += 1
    k = len(exposure)
    tot = sum(exposure.values())
    ranked = sorted(exposure.items(), key=lambda kv: (kv[1], kv[0]))
    gini = 2 * sum(i * c for i, (_, c) in enumerate(ranked, 1)) / (k * tot) - (
        k + 1
    ) / k
    row = inference_rec.rec_catalog_coverage(spark, SF).collect()[0]
    assert row["n_catalog"] == len(catalog)
    assert row["n_recommended"] == k
    assert row["n_slots"] == tot
    assert row["catalog_coverage"] == pytest.approx(k / len(catalog), abs=1e-6)
    assert row["exposure_gini"] == pytest.approx(gini, abs=1e-5)
    assert 0.0 <= row["catalog_coverage"] <= 1.0


# --- quota apportionment ----------------------------------------------------


def test_quota_apportionment_replay(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    counts = defaultdict(int)
    for r in docs:
        counts[r["source"]] += 1
    N = sum(counts.values())
    S = 100
    base = {s: S * n // N for s, n in counts.items()}
    rem = {s: (S * counts[s]) % N for s in counts}
    leftover = S - sum(base.values())
    order = sorted(counts, key=lambda s: (-rem[s], s))
    extra = {s: int(i < leftover) for i, s in enumerate(order)}
    rows = {r["source"]: r
            for r in inference_stats.quota_apportionment_sources(spark, SF).collect()}
    assert set(rows) == set(counts)
    for s in counts:
        r = rows[s]
        assert r["n_docs"] == counts[s]
        assert r["base_slots"] == base[s]
        assert r["extra"] == extra[s]
        assert r["allocated"] == base[s] + extra[s]
    # the defining property: allocations sum exactly to the budget
    assert sum(r["allocated"] for r in rows.values()) == S


# --- Wilson intervals -------------------------------------------------------


def test_wilson_ci_segments_replay(spark):
    z = 1.959963984540054
    rows = inference_stats.wilson_ci_segments(spark, SF).collect()
    assert rows
    for r in rows:
        n, conv = r["n"], r["conv"]
        p = conv / n
        z2n = z * z / n
        center = (p + z2n / 2) / (1 + z2n)
        half = z * math.sqrt(p * (1 - p) / n + z2n / (4 * n)) / (1 + z2n)
        assert r["rate"] == pytest.approx(p, abs=1e-6)
        assert r["wilson_lo"] == pytest.approx(center - half, abs=1e-5)
        assert r["wilson_hi"] == pytest.approx(center + half, abs=1e-5)
        # Wilson bounds stay inside [0, 1] and bracket the rate
        assert 0.0 <= r["wilson_lo"] <= p <= r["wilson_hi"] <= 1.0


# --- ICC / design effect ----------------------------------------------------


def test_icc_design_effect_replay(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet").collect()
    clusters = defaultdict(list)
    for r in o:
        clusters[r["o_custkey"]].append(int(round(r["o_totalprice"] * 100)))
    k = len(clusters)
    N = sum(len(v) for v in clusters.values())
    s = sum(sum(v) for v in clusters.values())
    s2 = sum(x * x for v in clusters.values() for x in v)
    sbr = sum(round(sum(v) ** 2 / len(v)) for v in clusters.values())
    sn2 = sum(len(v) ** 2 for v in clusters.values())
    ssb = sbr - s * s / N
    ssw = s2 - sbr
    msb = ssb / (k - 1)
    msw = ssw / (N - k)
    n0 = (N - sn2 / N) / (k - 1)
    icc = (msb - msw) / (msb + (n0 - 1) * msw)
    mbar = N / k
    row = inference_stats.icc_design_effect(spark, SF).collect()[0]
    assert row["k"] == k and row["n_total"] == N
    assert row["mean_cluster_size"] == pytest.approx(mbar, abs=1e-3)
    assert row["icc"] == pytest.approx(icc, abs=1e-4)
    assert row["deff"] == pytest.approx(1 + (mbar - 1) * icc, abs=1e-3)
    assert -1.0 <= row["icc"] <= 1.0
