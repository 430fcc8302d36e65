"""Stats-domain registry queries (plans/queries/stats.py) and the temporal
operators they call vs exact Python replays: Kendall's tau, outlier and
calibration scores, experiment analysis (CUPED, SPRT, power),
forecasting, streaks, the as-of join and the rollup/window shapes.

Oracle agreement (tools/verify_oracle.py) proves cross-engine consistency;
these replays prove the math on the sf0.001 corpus (LANDING.md step 5)."""

import datetime
import json
import math
from collections import Counter, defaultdict

import pyarrow.parquet as pq
import pytest

from osm_to_netex_spark.operators import temporal
from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import stats as STATS
from tests.support import SF, phash60

pytestmark = pytest.mark.usefixtures("fresh_views")


def test_attribution_matches_python_replay(spark):
    """First/last-touch attribution replayed in plain Python: per purchase,
    scan the user's click/view events in [ts-7d, ts] (inclusive — RANGE
    CURRENT ROW includes equal-ts peers) with the packed-bigint tiebreak."""
    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .selectExpr(
            "user_id", "event_id", "event_type",
            "cast(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts) as bigint) as ts_us",
        )
        .where("event_type in ('purchase','click','view')")
        .collect()
    )
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    win = STATS._ATTR_WIN_US
    want = {}
    for u, evs in by_user.items():
        touches = [
            (e["ts_us"] * 2 + (1 if e["event_type"] == "view" else 0))
            for e in evs
            if e["event_type"] in ("click", "view")
        ]
        for e in evs:
            if e["event_type"] != "purchase":
                continue
            inw = [p for p in touches if e["ts_us"] - win <= p // 2 <= e["ts_us"]]
            if inw:
                fp, lp = min(inw), max(inw)
                want[e["event_id"]] = (
                    "view" if fp % 2 else "click", fp // 2,
                    "view" if lp % 2 else "click", lp // 2, len(inw),
                )
            else:
                want[e["event_id"]] = ("none", 0, "none", 0, 0)
    got = {
        r["event_id"]: (
            r["first_touch"], r["first_ts_us"],
            r["last_touch"], r["last_ts_us"], r["n_touches"],
        )
        for r in STATS.QUERIES["attribution"][0](spark, SF).collect()
    }
    assert got == want
    assert any(v[0] != "none" for v in got.values())


def test_kendall_matches_python_replay(spark):
    """τ-b replayed in Python (scipy-free): exact pair scan per source with
    full tie correction."""
    import re as _re
    from collections import defaultdict

    def toks(t):
        return [w for w in _re.split(r"[^a-z0-9]+", t.lower()) if w]

    rows = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("source", "n_chars", "text")
        .collect()
    )
    by_src = defaultdict(list)
    for r in rows:
        by_src[r["source"]].append((int(r["n_chars"]), len(set(toks(r["text"])))))
    want = {}
    for s, xy in by_src.items():
        n = len(xy)
        c = d = 0
        for i in range(n):
            for j in range(i + 1, n):
                p = (xy[i][0] - xy[j][0]) * (xy[i][1] - xy[j][1])
                c += p > 0
                d += p < 0
        from collections import Counter

        n0 = n * (n - 1) / 2
        n1 = sum(v * (v - 1) // 2 for v in Counter(x for x, _ in xy).values())
        n2 = sum(v * (v - 1) // 2 for v in Counter(y for _, y in xy).values())
        den = math.sqrt((n0 - n1) * (n0 - n2))
        want[s] = (n, c - d, round((c - d) / den, 9) if den else None)
    got = {
        r["source"]: (r["n"], r["c_minus_d"], r["tau_b"])
        for r in STATS.QUERIES["kendall_tau"][0](spark, SF).collect()
    }
    assert set(got) == set(want)
    for s in want:
        assert got[s][:2] == want[s][:2]
        assert got[s][2] == pytest.approx(want[s][2], abs=1e-9)
        assert -1.0 <= got[s][2] <= 1.0


def test_exp_smooth_matches_sequential_recurrence(spark):
    """The closed-form binary-weight fold must equal the textbook
    sequential recurrence l_t = (x_t + l_{t-1}) / 2 run over the window,
    computed in exact integer halves."""
    got = {
        r["user_id"]: (r["n_events"], r["level_scaled"], r["level_q6"])
        for r in Q.QUERIES["exp_smooth"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    by_user = defaultdict(list)
    for e in ev:
        by_user[e["user_id"]].append(e)
    want = {}
    for uid, rows in by_user.items():
        rows.sort(key=lambda e: (e["ts"], e["event_id"]))
        window = rows[-STATS._ES_M:]
        xq = [math.floor(e["value"] * 1.0e6 + 0.5) for e in window]
        m = len(xq)
        # closed form
        scaled = xq[0] + sum(x * 2 ** (j - 2) for j, x in enumerate(xq[1:], 2))
        # sequential recurrence, scaled by 2^(t-1) to stay integral
        l_scaled = xq[0]
        for t, x in enumerate(xq[1:], 2):
            l_scaled = x * 2 ** (t - 2) + l_scaled  # 2^(t-1)·l_t
        assert l_scaled == scaled
        half = 2 ** (m - 2) if m > 1 else 0
        want[uid] = (m, scaled, (scaled + half) // 2 ** (m - 1))
    assert got == want


def test_sprt_matches_python_walk(spark):
    got = {
        r["event_type"]: (
            r["n_total"], r["first_h1_cross"], r["first_h0_cross"],
            r["decision"],
        )
        for r in Q.QUERIES["sprt"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    by_type = defaultdict(list)
    for e in ev:
        by_type[e["event_type"]].append(e)
    want = {}
    for et, rows in by_type.items():
        rows.sort(key=lambda e: (e["ts"], e["event_id"]))
        llr, h1, h0 = 0, None, None
        for i, e in enumerate(rows, 1):
            llr += STATS._L1_Q9 if e["value"] > STATS._SPRT_THRESH else STATS._L0_Q9
            if llr >= STATS._A_Q9 and h1 is None:
                h1 = i
            if llr <= STATS._B_Q9 and h0 is None:
                h0 = i
        big = 1 << 62
        dec = (
            1 if (h1 or big) < (h0 or big)
            else (-1 if (h0 or big) < (h1 or big) else 0)
        )
        want[et] = (len(rows), h1, h0, dec)
    assert got == want


def test_json_stats_matches_python_replay(spark):
    got = {
        r["event_type"]: (
            r["n_events"], r["n_distinct_k"], r["sum_k"], r["min_k"],
            r["max_k"],
        )
        for r in Q.QUERIES["json_extract_stats"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    agg = defaultdict(list)
    for e in ev:
        agg[e["event_type"]].append(json.loads(e["props"])["k"])
    want = {
        et: (len(v), len(set(v)), sum(v), min(v), max(v))
        for et, v in agg.items()
    }
    assert got == want


def test_hbos_matches_python_replay(spark):
    got = [
        (r["event_id"], r["score_q6"])
        for r in Q.QUERIES["hbos_outliers"][0](spark, SF).collect()
    ]
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    epoch0 = __import__("datetime").datetime(1970, 1, 1)
    feats = []
    for e in ev:
        # exact integer micros (total_seconds() would round through float)
        us = (e["ts"] - epoch0) // __import__("datetime").timedelta(
            microseconds=1
        )
        vb = min(math.floor(e["value"] / 50.0), 9)
        hb = (us // 3600000000) % 24
        db = ((us // 86400000000) + 4) % 7
        feats.append((e["event_id"], vb, hb, db))
    n = len(feats)
    hv, hh, hd = defaultdict(int), defaultdict(int), defaultdict(int)
    for _, vb, hb, db in feats:
        hv[vb] += 1
        hh[hb] += 1
        hd[db] += 1
    scored = [
        (
            eid,
            n * 1000000 // (hv[vb] * 10)
            + n * 1000000 // (hh[hb] * 24)
            + n * 1000000 // (hd[db] * 7),
        )
        for eid, vb, hb, db in feats
    ]
    scored.sort(key=lambda x: (-x[1], x[0]))
    assert got == scored[: STATS._HBOS_TOPK]


def test_path_trigrams_matches_python_replay(spark):
    got = [
        (r["t1"], r["t2"], r["t3"], r["n"])
        for r in Q.QUERIES["path_trigrams"][0](spark, SF).collect()
    ]
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    by_user = defaultdict(list)
    for e in ev:
        by_user[e["user_id"]].append(e)
    counts = defaultdict(int)
    for rows in by_user.values():
        rows.sort(key=lambda e: (e["ts"], e["event_id"]))
        types = [e["event_type"] for e in rows]
        for i in range(2, len(types)):
            counts[(types[i - 2], types[i - 1], types[i])] += 1
    want = sorted(
        ((t1, t2, t3, n) for (t1, t2, t3), n in counts.items()),
        key=lambda x: (-x[3], x[0], x[1], x[2]),
    )[: STATS._PT_TOPK]
    assert got == want


def _arm(user_id: int) -> int:
    return phash60(f"ab:{user_id}") % 2


def _tdiv(a: int, b: int) -> int:
    """SQL integer division (truncates toward zero in both engines)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_cuped_matches_python_replay(spark):
    got = {
        r["arm"]: (
            r["n_users"], r["sum_y_q3"], r["adj_mean_q3"], r["theta"],
            r["rho_sq"],
        )
        for r in Q.QUERIES["cuped"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    by_user = defaultdict(list)
    for e in ev:
        by_user[e["user_id"]].append(e)
    users = []
    for uid, rows in by_user.items():
        rows.sort(key=lambda e: (e["ts"], e["event_id"]))
        m = len(rows)
        pre = [e for i, e in enumerate(rows, 1) if i * 2 <= m]
        post = [e for i, e in enumerate(rows, 1) if i * 2 > m]
        if not pre or not post:
            continue
        sq = lambda es: sum(math.floor(e["value"] * 1e6 + 0.5) for e in es)
        x = _tdiv(_tdiv(sq(pre), len(pre)), 1000)
        y = _tdiv(_tdiv(sq(post), len(post)), 1000)
        users.append((uid, _arm(uid), x, y))
    n = len(users)
    sx = sum(u[2] for u in users)
    sy = sum(u[3] for u in users)
    sxx = sum(u[2] * u[2] for u in users)
    syy = sum(u[3] * u[3] for u in users)
    sxy = sum(u[2] * u[3] for u in users)
    th = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    vx_n2, vy_n2 = float(n * sxx - sx * sx), float(n * syy - sy * sy)
    want = {}
    for arm in (0, 1):
        au = [u for u in users if u[1] == arm]
        na = len(au)
        say, sax = sum(u[3] for u in au), sum(u[2] for u in au)
        adj = say / na - th * (sax / na - sx / n)
        want[arm] = (
            na, say, round(adj, 9), round(th, 9),
            round(th * th * vx_n2 / vy_n2, 9),
        )
    assert got == want


def test_eb_shrinkage_matches_python_replay(spark):
    got = {
        r["user_id"]: (
            r["n"], r["x"], r["r_q6"], r["shrunk_rate"], r["alpha"],
            r["beta"],
        )
        for r in Q.QUERIES["eb_shrinkage"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    agg = defaultdict(lambda: [0, 0])
    for e in ev:
        agg[e["user_id"]][0] += 1
        agg[e["user_id"]][1] += 1 if e["value"] > STATS._CONV_THRESH else 0
    rated = {u: (n, x, _tdiv(x * 1000000, n)) for u, (n, x) in agg.items()}
    g = len(rated)
    sr = sum(r[2] for r in rated.values())
    srr = sum(r[2] * r[2] for r in rated.values())
    m = (sr / g) / 1e6
    v = ((srr - sr * sr / g) / (g - 1)) / 1e12
    alpha = m * (m * (1.0 - m) / v - 1.0)
    beta = (1.0 - m) * (m * (1.0 - m) / v - 1.0)
    want = {
        u: (
            n, x, rq,
            round((x + alpha) / (n + alpha + beta), 9),
            round(alpha, 9), round(beta, 9),
        )
        for u, (n, x, rq) in rated.items()
    }
    assert got == want
    # shrinkage pulls extreme small-sample rates toward the prior mean
    for u, (n, x, rq) in rated.items():
        raw = x / n
        assert abs(want[u][3] - m) <= abs(raw - m) + 1e-9


def test_t_closeness_matches_python_replay(spark):
    got = {
        (r["qi_nat"], r["qi_band"]): (r["n_c"], r["tvd_num"], r["is_t_close"])
        for r in Q.QUERIES["t_closeness"][0](spark, SF).collect()
    }
    custs = pq.read_table(f"{SF}/customer.parquet").to_pylist()
    glob = defaultdict(int)
    for c in custs:
        glob[c["c_mktsegment"]] += 1
    big_n = len(custs)
    cls = defaultdict(lambda: defaultdict(int))
    for c in custs:
        qi = (c["c_nationkey"], math.floor(c["c_acctbal"] / 1000.0))
        cls[qi][c["c_mktsegment"]] += 1
    want = {}
    for qi, seg_counts in cls.items():
        n_c = sum(seg_counts.values())
        # grid over ALL global segments: absent ones contribute |0 - q|
        num = sum(
            abs(seg_counts.get(s, 0) * big_n - g * n_c)
            for s, g in glob.items()
        )
        t_close = 1 if num * STATS._TC_T_DEN <= STATS._TC_T_NUM * 2 * n_c * big_n else 0
        want[qi] = (n_c, num, t_close)
    assert got == want
    # the audit must see both compliant and violating classes at sf0.001
    flags = {v[2] for v in want.values()}
    assert flags == {0, 1}


def test_brier_decomp_matches_python_replay(spark):
    row = Q.QUERIES["brier_decomp"][0](spark, SF).collect()[0]
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    agg = defaultdict(lambda: [0, 0])
    for e in ev:
        agg[e["user_id"]][0] += 1
        agg[e["user_id"]][1] += 1 if e["value"] > STATS._CONV_THRESH else 0
    p_q3 = {u: _tdiv(x * 1000, n) for u, (n, x) in agg.items()}
    bins = defaultdict(lambda: [0, 0, 0])  # n_k, sp, sy
    for e in ev:
        p = p_q3[e["user_id"]]
        b = min(_tdiv(p, 100), STATS._BR_BINS - 1)
        bins[b][0] += 1
        bins[b][1] += p
        bins[b][2] += 1 if e["value"] > STATS._CONV_THRESH else 0
    n = sum(v[0] for v in bins.values())
    y_all = sum(v[2] for v in bins.values())
    y_q6 = _tdiv(y_all * 1000000, n)
    rel_num = res_num = 0
    for n_k, sp, sy in bins.values():
        pb = _tdiv(sp * 1000, n_k)
        yb = _tdiv(sy * 1000000, n_k)
        rel_num += n_k * (pb - yb) ** 2
        res_num += n_k * (yb - y_q6) ** 2
    rel = rel_num / (1.0e12 * n)
    res = res_num / (1.0e12 * n)
    unc = y_all * (n - y_all) / (n * n)
    assert (
        row["n"], row["reliability"], row["resolution"],
        row["uncertainty"], row["brier_recomposed"],
    ) == (n, round(rel, 9), round(res, 9), round(unc, 9),
          round(rel - res + unc, 9))
    # Murphy identities: all components non-negative, uncertainty is the
    # base-rate variance bound on the recomposed score when rel = res
    assert rel >= 0 and res >= 0 and 0 <= unc <= 0.25


def test_power_analysis_matches_python_replay(spark):
    got = {
        r["event_type"]: (r["n"], r["n_per_arm"])
        for r in Q.QUERIES["power_analysis"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    agg = defaultdict(list)
    for e in ev:
        agg[e["event_type"]].append(math.floor(e["value"] * 1.0e3 + 0.5))
    z2 = (STATS._PW_Z_ALPHA + STATS._PW_Z_BETA) ** 2
    want = {}
    for et, xs in agg.items():
        n, sx = len(xs), sum(xs)
        sxx = sum(x * x for x in xs)
        var = (sxx - sx * sx / n) / (n - 1)
        mean = sx / n
        delta = mean * (STATS._PW_MDE_PCT / 100.0)
        want[et] = (n, math.ceil(2.0 * z2 * var / (delta * delta)))
    assert got == want
    # sanity: detecting a smaller relative effect on noisier data needs
    # thousands of samples per arm here, not tens
    assert all(v[1] > 100 for v in want.values())


def test_quantile_norm_matches_python_replay(spark):
    got = {
        r["event_id"]: (r["v_q6"], r["norm_q6"])
        for r in Q.QUERIES["quantile_norm"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    rows = [
        (e["event_id"], e["event_type"], math.floor(e["value"] * 1e6 + 0.5))
        for e in ev
    ]
    glob = sorted(rows, key=lambda x: (x[2], x[0]))
    big_n = len(glob)
    by_type = defaultdict(list)
    for r in rows:
        by_type[r[1]].append(r)
    want = {}
    for et, rs in by_type.items():
        rs.sort(key=lambda x: (x[2], x[0]))
        n_b = len(rs)
        for i, (eid, _, vq) in enumerate(rs, 1):
            gi = (i * big_n + n_b - 1) // n_b  # 1-based ceil index
            want[eid] = (vq, glob[gi - 1][2])
    assert got == want
    # normalization properties: targets come from the global value
    # support, and every batch's top rank maps to the global maximum
    # (r = n_b ⇒ index N)
    gvals = {v for _, _, v in rows}
    per_type_targets = defaultdict(set)
    for e in ev:
        per_type_targets[e["event_type"]].add(got[e["event_id"]][1])
    gmax = max(gvals)
    for targets in per_type_targets.values():
        assert targets <= gvals
        assert max(targets) == gmax


def _lower_median(vals):
    s = sorted(vals)
    return s[(len(s) + 1) // 2 - 1]


_EPOCH = datetime.datetime(1970, 1, 1)


def _us(ts):
    return (ts - _EPOCH) // datetime.timedelta(microseconds=1)


def test_median_polish_matches_python_replay(spark):
    got = {
        (r["dow"], r["hr"]): (
            r["v_q3"], r["row_eff_q3"], r["col_eff_q3"], r["residual_q3"]
        )
        for r in Q.QUERIES["median_polish"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    agg = defaultdict(lambda: [0, 0])
    for e in ev:
        us = _us(e["ts"])
        key = (((us // 86400000000) + 4) % 7, (us // 3600000000) % 24)
        agg[key][0] += math.floor(e["value"] * 1.0e6 + 0.5)
        agg[key][1] += 1
    cells = {k: (s // n) // 1000 for k, (s, n) in agg.items()}
    r1 = {
        dw: _lower_median([v for (d2, _), v in cells.items() if d2 == dw])
        for dw in {k[0] for k in cells}
    }
    v1 = {k: v - r1[k[0]] for k, v in cells.items()}
    c1 = {
        h: _lower_median([v for (_, h2), v in v1.items() if h2 == h])
        for h in {k[1] for k in v1}
    }
    v2 = {k: v - c1[k[1]] for k, v in v1.items()}
    r2 = {
        dw: _lower_median([v for (d2, _), v in v2.items() if d2 == dw])
        for dw in {k[0] for k in v2}
    }
    v3 = {k: v - r2[k[0]] for k, v in v2.items()}
    c2 = {
        h: _lower_median([v for (_, h2), v in v3.items() if h2 == h])
        for h in {k[1] for k in v3}
    }
    want = {
        k: (
            cells[k], r1[k[0]] + r2[k[0]], c1[k[1]] + c2[k[1]],
            v3[k] - c2[k[1]],
        )
        for k in cells
    }
    assert got == want
    # the polish identity: value = grand(0 here) + row + col + residual
    for k, (v, re, ce, res) in want.items():
        assert v == re + ce + res


def test_forecast_backtest_matches_python_replay(spark):
    got = {
        r["event_type"]: (
            r["n_eval_days"], r["ae_naive"], r["ae_seasonal"],
            r["seasonal_wins"],
        )
        for r in Q.QUERIES["forecast_backtest"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    daily = defaultdict(int)
    for e in ev:
        daily[(e["event_type"], _us(e["ts"]) // 86400000000)] += 1
    want = {}
    by_type = defaultdict(dict)
    for (et, day), y in daily.items():
        by_type[et][day] = y
    for et, days in by_type.items():
        an = as_ = n = 0
        for day, y in days.items():
            if day - 1 in days and day - 7 in days:
                n += 1
                an += abs(y - days[day - 1])
                as_ += abs(y - days[day - 7])
        win = 1 if as_ < an else (-1 if as_ > an else 0)
        want[et] = (n, an, as_, win)
    assert got == want
    assert all(v[0] > 0 for v in want.values())  # eval window non-empty


def test_user_streaks_match_python_replay(spark):
    got = {
        r["user_id"]: (
            r["n_streaks"], r["longest_streak"], r["current_streak"]
        )
        for r in Q.QUERIES["user_streaks"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    days = defaultdict(set)
    for e in ev:
        us = (e["ts"] - _EPOCH) // datetime.timedelta(microseconds=1)
        days[e["user_id"]].add(us // 86400000000)
    want = {}
    for uid, ds in days.items():
        sorted_days = sorted(ds)
        runs = []
        start = prev = sorted_days[0]
        for day in sorted_days[1:]:
            if day == prev + 1:
                prev = day
                continue
            runs.append((start, prev))
            start = prev = day
        runs.append((start, prev))
        lens = [b - a + 1 for a, b in runs]
        current = lens[-1]  # the island holding the last active day
        want[uid] = (len(runs), max(lens), current)
    assert got == want
    # the identity every gaps-and-islands derivation must satisfy:
    # islands partition the active days
    for uid, ds in days.items():
        n_runs = want[uid][0]
        gaps = sum(
            1
            for a, b in zip(sorted(ds), sorted(ds)[1:])
            if b - a > 1
        )
        assert n_runs == gaps + 1


def test_asof_join_semantics(spark):
    """Merge-form as-of join: <= visibility, left-outer nulls, strict mode."""
    from osm_to_netex_spark.operators import temporal

    left = spark.createDataFrame(
        [(1, "u", 10), (2, "u", 20), (3, "u", 5), (4, "w", 50)],
        ["id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(100, "u", 10, 1.0), (101, "u", 15, 2.0), (102, "v", 1, 9.0)],
        ["rid", "k", "ts", "val"],
    )
    out = {
        r["id"]: (r["asof_rid"], r["asof_val"])
        for r in temporal.asof_join(
            left, right, keys=["k"], ts_col="ts",
            payload_cols=["rid", "val"], right_order_cols=["rid"],
        ).collect()
    }
    assert out[1] == (100, 1.0)      # equal ts visible (<=)
    assert out[2] == (101, 2.0)      # most recent prior
    assert out[3] == (None, None)    # nothing at or before ts=5
    assert out[4] == (None, None)    # no right rows for key w
    strict = {
        r["id"]: r["asof_rid"]
        for r in temporal.asof_join(
            left, right, keys=["k"], ts_col="ts",
            payload_cols=["rid", "val"], strict=True,
            right_order_cols=["rid"],
        ).collect()
    }
    assert strict[1] is None         # equal ts invisible (<)
    assert strict[2] == 101


def test_asof_join_payload_row_atomic(spark):
    """A right row with a NULL payload field must not be patched from an
    older right row column-wise."""
    from osm_to_netex_spark.operators import temporal

    left = spark.createDataFrame([(1, "u", 30)], ["id", "k", "ts"])
    right = spark.createDataFrame(
        [(100, "u", 10, 7.0), (101, "u", 20, None)],
        ["rid", "k", "ts", "val"],
    )
    row = temporal.asof_join(
        left, right, keys=["k"], ts_col="ts",
        payload_cols=["rid", "val"], right_order_cols=["rid"],
    ).collect()[0]
    assert row["asof_rid"] == 101 and row["asof_val"] is None


def test_cms_overestimates_and_bounds(spark):
    """CMS property: estimate >= exact for every key, and error bounded in
    practice on the fixture (4x256 registers, 10k events, ~150 users)."""
    rows = STATS.QUERIES["cms_frequencies"][0](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["cms_est"] >= r["exact_n"]
    # with width 256 >> 150 users, most estimates are exact
    exact_frac = sum(1 for r in rows if r["cms_est"] == r["exact_n"]) / len(rows)
    assert exact_frac > 0.5


def test_hist_quantiles_bracket_exact(spark):
    rows = STATS.QUERIES["hist_quantiles"][0](spark, SF).collect()
    assert len(rows) == 5  # one per event_type
    for r in rows:
        # estimates must be finite, ordered, and within one bucket width of
        # the exact percentile (bucket width 5.0)
        assert r.est_p5 <= r.est_p9 <= r.est_p99
        assert abs(r.est_p5 - r.exact_p5) <= 5.0
        assert abs(r.est_p9 - r.exact_p9) <= 5.0
        # p99 rank falls in the sparse tail at n≈200: percentile_cont
        # interpolates between order stats that may span buckets, so the
        # histogram estimate is only bucket-accurate to a few widths there
        assert abs(r.est_p99 - r.exact_p99) <= 15.0


def test_anomaly_flags_are_3_sigma(spark):
    out = STATS.QUERIES["anomaly"][0](spark, SF).collect()
    assert all(abs(r.z) > 3.0 for r in out)
    # the synthetic value distribution is heavy-tailed → outliers exist
    assert len(out) > 0
    # and they are rare (< 2% of events)
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert len(out) < 0.02 * n_events


def test_winsorize_bounds_and_clipping(spark):
    rows = STATS.QUERIES["winsorize"][0](spark, SF).collect()
    assert all(0.0 <= r.scaled <= 1.0 for r in rows)
    # the tails must actually clip: some rows at exactly 0 and exactly 1
    assert any(r.scaled == 0.0 for r in rows)
    assert any(r.scaled == 1.0 for r in rows)


def test_incremental_rollup_merge_equals_full(spark):
    rows = STATS.QUERIES["incremental_rollup"][0](spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_merged == r.n_full
        assert r.sum_merged == r.sum_full
        assert r.hll_merged == r.hll_full


def test_eqfreq_bins_are_balanced(spark):
    rows = STATS.QUERIES["eqfreq_bins"][0](spark, SF).collect()
    import collections
    per = collections.Counter((r.event_type, r.bucket) for r in rows)
    by_type = collections.defaultdict(list)
    for (t, b), c in per.items():
        by_type[t].append((b, c))
    for t, bs in by_type.items():
        assert sorted(b for b, _ in bs) == list(range(8))
        counts = [c for _, c in bs]
        assert max(counts) - min(counts) <= 1  # equal frequency ± rounding


def test_cohort_and_transitions_shape(spark):
    coh = STATS.QUERIES["cohort"][0](spark, SF).collect()
    # offset 0 row exists for every cohort and counts all its users
    by_cohort = {}
    for r in coh:
        by_cohort.setdefault(r.cohort, {})[r.offset_w] = r.n_users
    for c, offs in by_cohort.items():
        assert 0 in offs
        assert all(offs[0] >= n for o, n in offs.items())  # retention <= cohort size

    tr = STATS.QUERIES["transitions"][0](spark, SF).collect()
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    n_users = spark.read.parquet(f"{SF}/events.parquet").select("user_id").distinct().count()
    # each user's chain has len-1 transitions
    assert sum(r.n for r in tr) == n_events - n_users


def test_rolling_stats_frame_boundary(spark):
    """RANGE frame includes an event exactly 3600 s earlier, excludes one a
    microsecond older, and the quantized sum is the exact integer total."""
    spark.sql("drop view if exists events")
    spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00.000000", 10, "a", 1.5, ""),
            (2, "2024-01-01 01:00:00.000000", 10, "a", 2.25, ""),   # t1 - 3600s ago included
            (3, "2024-01-01 01:00:00.000001", 10, "a", 4.0, ""),    # evicts event 1
            (4, "2024-01-02 00:00:00.000000", 11, "a", 7.0, ""),    # other user
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).selectExpr(
        "event_id", "cast(ts as timestamp_ntz) as ts", "user_id",
        "event_type", "value", "props"
    ).createOrReplaceTempView("events")
    rows = {r.event_id: r for r in spark.sql(STATS._rolling_stats_sql("spark")).collect()}
    assert rows[2].n_1h == 2 and rows[2].sum_1h_q == 3_750_000
    assert rows[3].n_1h == 2 and rows[3].sum_1h_q == 6_250_000
    assert rows[4].n_1h == 1 and rows[4].sum_1h_q == 7_000_000
    spark.catalog.dropTempView("events")
    spark._graft_geo_views = None  # force view re-registration downstream
