"""Round-4 operators vs exact Python replays: Spearman ρ with ties,
Mann–Whitney U (tie-corrected z), Jensen–Shannon drift, Geary's C,
common-neighbor/Adamic–Adar link prediction, interleaved media-span
context.  Oracle agreement (tools/verify_oracle.py) proves cross-engine
consistency; these replays prove the math (LANDING.md step 5)."""

import math
import re
from collections import Counter, defaultdict

import pytest

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import corpus as CORPUS, spatial as SPATIAL
from tests.support import SF, SF0_01

# some tests replace the memoized `documents`/`events` temp views with tiny
# synthetic tables
pytestmark = pytest.mark.usefixtures("fresh_views")


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _avg_ranks_x2(values) -> dict:
    """value -> integer 2*average-rank (competition rank + tie midpoint)."""
    cnt = Counter(values)
    out, cum = {}, 0
    for v in sorted(cnt):
        out[v] = 2 * cum + cnt[v] + 1
        cum += cnt[v]
    return out


def test_spearman_matches_python_replay(spark):
    rows = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("source", "n_chars", "text")
        .collect()
    )
    by_src = defaultdict(list)
    for r in rows:
        by_src[r["source"]].append((int(r["n_chars"]), len(set(_tokens(r["text"])))))
    want = {}
    for s, xy in by_src.items():
        rx = _avg_ranks_x2([x for x, _ in xy])
        ry = _avg_ranks_x2([y for _, y in xy])
        pts = [(rx[x], ry[y]) for x, y in xy]
        n = len(pts)
        sx = sum(a for a, _ in pts); sy = sum(b for _, b in pts)
        sxx = sum(a * a for a, _ in pts); syy = sum(b * b for _, b in pts)
        sxy = sum(a * b for a, b in pts)
        den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        want[s] = (n, round((n * sxy - sx * sy) / den, 9) if den else None)
    got = {
        r["source"]: (int(r["n"]), r["rho"])
        for r in Q.QUERIES["spearman"][0](spark, SF).collect()
    }
    assert set(got) == set(want)
    for s in want:
        assert got[s][0] == want[s][0]
        assert got[s][1] == pytest.approx(want[s][1], abs=1e-9)
        assert -1.0 <= got[s][1] <= 1.0


def test_mannwhitney_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF}/events.parquet").select("event_type", "value").collect()
    vals = [r["value"] for r in rows]
    r2 = _avg_ranks_x2(vals)
    nn = len(vals)
    cnt = Counter(vals)
    t3 = sum(c ** 3 - c for c in cnt.values())
    want = {}
    for t in {r["event_type"] for r in rows}:
        grp = [r["value"] for r in rows if r["event_type"] == t]
        n1 = len(grp)
        r1_2 = sum(r2[v] for v in grp)
        u1_x2 = r1_2 - n1 * (n1 + 1)
        sigma = math.sqrt(
            n1 * (nn - n1) / 12.0 * ((nn + 1) - t3 / (nn * (nn - 1.0)))
        )
        want[t] = (n1, u1_x2, round((u1_x2 - n1 * (nn - n1)) / (2.0 * sigma), 9))
    got = {
        r["event_type"]: (int(r["n1"]), int(r["u1_x2"]), r["z"])
        for r in Q.QUERIES["mannwhitney"][0](spark, SF).collect()
    }
    assert set(got) == set(want)
    for t in want:
        assert got[t][:2] == want[t][:2]
        assert got[t][2] == pytest.approx(want[t][2], abs=1e-9)


def test_jsd_matches_python_replay_and_bounds(spark):
    rows = spark.read.parquet(f"{SF}/documents.parquet").select("source", "text").collect()
    st: Counter = Counter()
    gt: Counter = Counter()
    ns: Counter = Counter()
    for r in rows:
        for tok in _tokens(r["text"]):
            st[(r["source"], tok)] += 1
            gt[tok] += 1
            ns[r["source"]] += 1
    n_g = sum(gt.values())
    # full sources × vocabulary grid: terms a source is MISSING (p=0, q>0)
    # contribute q·ln2/2 — the missing-vocabulary mass the measure exists for
    want: Counter = Counter()
    for s in ns:
        for tok, c_g in gt.items():
            c_s = st.get((s, tok), 0)
            p = c_s / ns[s]
            qq = (c_g - c_s) / (n_g - ns[s])
            m = (p + qq) / 2.0
            contrib = 0.0
            if c_s > 0:
                contrib += p * math.log(p / m)
            if c_g - c_s > 0:
                contrib += qq * math.log(qq / m)
            want[s] += int(math.floor(contrib / 2.0 * 1e9 + 0.5))
    got = {
        r["source"]: int(r["jsd_q9"])
        for r in Q.QUERIES["jsd_drift"][0](spark, SF).collect()
    }
    assert got == dict(want)
    # JSD with natural log is bounded by ln 2
    for v in got.values():
        assert 0 <= v <= math.log(2) * 1e9 + 1


def _quad_ixy(lat: float, lon: float, res: int) -> tuple[int, int]:
    n = 2 ** res
    ix = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    iy = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
    return ix, iy


def test_gearys_c_matches_python_replay(spark):
    CORPUS.register_geometry_views(spark, SF)
    pts = [(r["lat"], r["lon"]) for r in spark.table("geo_points").collect()]
    cells = Counter(_quad_ixy(la, lo, 11) for la, lo in pts)
    num = w = 0
    for (cx, cy), xi in cells.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if dx == dy == 0:
                    continue
                xj = cells.get((cx + dx, cy + dy))
                if xj is not None:
                    num += (xi - xj) ** 2
                    w += 1
    nn = len(cells)
    sx = sum(cells.values())
    sxx = sum(v * v for v in cells.values())
    c_want = round(nn * (nn - 1) * num / (2.0 * w * (nn * sxx - sx * sx)), 9)
    row = Q.QUERIES["gearys_c"][0](spark, SF).collect()[0]
    assert (int(row["nn"]), int(row["w"]), int(row["num"])) == (nn, w, num)
    assert row["geary_c"] == pytest.approx(c_want, abs=1e-9)


def test_link_predict_matches_python_replay(spark):
    from osm_to_netex_spark.functions.portable import SPARK
    from osm_to_netex_spark.operators.graph import edges_sql

    CORPUS.register_geometry_views(spark, SF)
    raw = spark.sql(f"select * from ({edges_sql(SPARK)})").collect()
    und = {tuple(sorted((int(r["src"]), int(r["dst"])))) for r in raw
           if r["src"] != r["dst"]}
    adj = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    nodes = sorted(adj)
    for z in nodes:
        nb = sorted(adj[z])
        for i, a in enumerate(nb):
            for b in nb[i + 1:]:
                if (a, b) in und:
                    continue
                cn, aa = want.get((a, b), (0, 0))
                want[(a, b)] = (
                    cn + 1,
                    aa + int(math.floor(1e9 / math.log(len(adj[z])) + 0.5)),
                )
    want = {k: v for k, v in want.items() if v[0] >= 2}
    got = {
        (int(r["doc_a"]), int(r["doc_b"])): (int(r["cn"]), int(r["aa_q9"]))
        for r in Q.QUERIES["link_predict"][0](spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_media_context_matches_python_replay(spark):
    from osm_to_netex_spark.plans.convert_queries import FIXTURE_CORPUS

    pdf = spark.read.parquet(FIXTURE_CORPUS).collect()
    want = set()
    for doc in pdf:
        spans = doc["spans"]
        for pos, s in enumerate(spans):
            if s["kind"] != "media":
                continue
            prevs = [(p, sp) for p, sp in enumerate(spans[:pos]) if sp["kind"] == "text"]
            nexts = [
                (p, sp)
                for p, sp in enumerate(spans[pos + 1:], start=pos + 1)
                if sp["kind"] == "text"
            ]
            pp, po = (prevs[-1][0], prevs[-1][1]["offset"]) if prevs else (-1, -1)
            np_, no = (nexts[0][0], nexts[0][1]["offset"]) if nexts else (-1, -1)
            want.add((doc["doc_id"], pos, s["offset"], pp, po, np_, no))
    got = {
        (
            r["doc_id"], int(r["media_pos"]), int(r["media_off"]),
            int(r["prev_text_pos"]), int(r["prev_text_off"]),
            int(r["next_text_pos"]), int(r["next_text_off"]),
        )
        for r in Q.QUERIES["media_context"][0](spark, SF).collect()
    }
    assert got == want and len(got) > 0


def _haversine_m(lat1, lon1, lat2, lon2):
    import math as _m
    r = 6371008.8
    p1, p2 = _m.radians(lat1), _m.radians(lat2)
    dp = p2 - p1
    dl = _m.radians(lon2 - lon1)
    a = _m.sin(dp / 2) ** 2 + _m.cos(p1) * _m.cos(p2) * _m.sin(dl / 2) ** 2
    return 2 * r * _m.asin(_m.sqrt(a))


def test_quadrat_matches_python_replay(spark):
    CORPUS.register_geometry_views(spark, SF)
    pts = [(r["lat"], r["lon"]) for r in spark.table("geo_points").collect()]
    cells = Counter(_quad_ixy(la, lo, 13) for la, lo in pts)
    n = len(pts)
    occ = len(cells)
    nx = max(c[0] for c in cells) - min(c[0] for c in cells) + 1
    ny = max(c[1] for c in cells) - min(c[1] for c in cells) + 1
    q_total = nx * ny
    m = n / q_total
    s2 = sum(v * v for v in cells.values())
    chi2 = (s2 - n * n / q_total) / m
    vmr = chi2 / q_total
    row = Q.QUERIES["quadrat"][0](spark, SF).collect()[0]
    assert (int(row["n"]), int(row["occ"]), int(row["q_total"])) == (n, occ, q_total)
    assert row["vmr"] == pytest.approx(vmr, abs=1e-8)
    assert row["chi2"] == pytest.approx(chi2, abs=1e-6)


def test_clark_evans_matches_python_replay(spark):
    CORPUS.register_geometry_views(spark, SF)
    pts = [(r["point_id"], r["lat"], r["lon"]) for r in spark.table("geo_points").collect()]
    nn_um = {}
    for pid, la, lo in pts:
        best = None
        for qid, la2, lo2 in pts:
            if qid == pid or abs(la2 - la) > 0.02 or abs(lo2 - lo) > 0.04:
                continue
            d = int(math.floor(round(_haversine_m(la, lo, la2, lo2), 6) * 1e6 + 0.5))
            best = d if best is None else min(best, d)
        if best is not None:
            nn_um[pid] = best
    keep = [v for v in nn_um.values() if v <= 2000 * 1e6]
    n_all = len(pts)
    mean_nn = sum(keep) / len(keep) / 1e6
    m_per_deg = 111194.92664455873
    lats = [p[1] for p in pts]; lons = [p[2] for p in pts]
    dy = (max(lats) - min(lats)) * m_per_deg
    dx = (max(lons) - min(lons)) * m_per_deg * CORPUS.COSLAT0
    dens = n_all / (dy * dx)
    r_index = mean_nn / (0.5 / math.sqrt(dens))
    row = Q.QUERIES["clark_evans"][0](spark, SF).collect()[0]
    assert int(row["n_all"]) == n_all
    assert int(row["n_censored"]) == n_all - len(keep)
    assert row["mean_nn_m"] == pytest.approx(mean_nn, abs=1e-6)
    assert row["r_index"] == pytest.approx(r_index, abs=1e-8)


def test_f_function_matches_python_replay(spark):
    from osm_to_netex_spark.plans.queries.spatial import _F_GRID, _F_RADII

    CORPUS.register_geometry_views(spark, SF)
    pts = [(r["lat"], r["lon"]) for r in spark.table("geo_points").collect()]
    lat_lo, lat_hi = min(p[0] for p in pts), max(p[0] for p in pts)
    lon_lo, lon_hi = min(p[1] for p in pts), max(p[1] for p in pts)
    g = _F_GRID
    nn = {}
    for i in range(g):
        for j in range(g):
            plat = lat_lo + (i + 0.5) * (lat_hi - lat_lo) / g
            plon = lon_lo + (j + 0.5) * (lon_hi - lon_lo) / g
            best = None
            for la, lo in pts:
                if abs(la - plat) > 0.08 or abs(lo - plon) > 0.16:
                    continue
                d = int(math.floor(round(_haversine_m(plat, plon, la, lo), 6) * 1e6 + 0.5))
                best = d if best is None else min(best, d)
            if best is not None:
                nn[(i, j)] = best
    want = {
        float(r): sum(1 for v in nn.values() if v <= int(round(r * 1e6)))
        for r in _F_RADII
    }
    got = {
        r["r_m"]: (int(r["n_probes"]), int(r["n_within"]), r["f_hat"])
        for r in Q.QUERIES["f_function"][0](spark, SF).collect()
    }
    assert set(got) == set(want)
    for r, nw in want.items():
        assert got[r][0] == g * g
        assert got[r][1] == nw
        assert got[r][2] == pytest.approx(nw / (g * g), abs=1e-9)


def test_radius_gyration_matches_python_replay(spark):
    CORPUS.register_geometry_views(spark, SF)
    fixes = defaultdict(list)
    for r in spark.table("geo_traj").collect():
        fixes[int(r["traj_id"])].append((r["lat"], r["lon"]))
    want = {}
    for t, fl in fixes.items():
        n = len(fl)
        clat = sum(int(math.floor(la * 1e9 + 0.5)) for la, _ in fl) / n / 1e9
        clon = sum(int(math.floor(lo * 1e9 + 0.5)) for _, lo in fl) / n / 1e9
        sd2 = sum(
            int(math.floor(round(_haversine_m(la, lo, clat, clon), 6) ** 2 * 1e3 + 0.5))
            for la, lo in fl
        )
        want[t] = (n, round(math.sqrt(sd2 / n / 1e3), 6))
    got = {
        int(r["traj_id"]): (int(r["n_fix"]), r["rg_m"])
        for r in Q.QUERIES["radius_gyration"][0](spark, SF).collect()
    }
    assert set(got) == set(want)
    for t in want:
        assert got[t][0] == want[t][0]
        assert got[t][1] == pytest.approx(want[t][1], abs=2e-6)


def test_bearing_stats_matches_python_replay(spark):
    CORPUS.register_geometry_views(spark, SF)
    fixes = defaultdict(list)
    for r in spark.table("geo_traj").collect():
        fixes[int(r["traj_id"])].append((int(r["step"]), r["lat"], r["lon"]))
    want = {}
    for t, fl in fixes.items():
        fl.sort()
        sx = sy = n = 0
        for (_, la1, lo1), (_, la2, lo2) in zip(fl, fl[1:]):
            dy = la2 - la1
            dx = (lo2 - lo1) * CORPUS.COSLAT0
            l2 = dx * dx + dy * dy
            if l2 <= 0:
                continue
            ln = math.sqrt(l2)
            sx += int(math.floor(dx / ln * 1e9 + 0.5))
            sy += int(math.floor(dy / ln * 1e9 + 0.5))
            n += 1
        rbar = round(math.sqrt(sx * sx + sy * sy) / n / 1e9, 9)
        want[t] = (n, rbar)
    got = {
        int(r["traj_id"]): (int(r["n_steps"]), r["rbar"], r["circ_var"])
        for r in Q.QUERIES["bearing_stats"][0](spark, SF).collect()
    }
    assert set(got) == set(want)
    for t in want:
        assert got[t][0] == want[t][0]
        assert got[t][1] == pytest.approx(want[t][1], abs=1e-9)
        assert got[t][2] == pytest.approx(1.0 - want[t][1], abs=1e-9)
        assert 0.0 <= got[t][1] <= 1.0


def test_mmr_rerank_matches_python_replay(spark):
    emb = {int(r["vec_id"]): list(r["embedding"])
           for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()}

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    def q6(x):
        return int(round(round(x, 6) * 1e6))

    want = set()
    POOL, K, LAM = 12, 4, 7
    for qid in (v for v in emb if v % 97 == 0):
        scored = sorted(
            ((q6(cos(emb[qid], emb[c])), c) for c in emb if c != qid),
            key=lambda t: (-t[0], t[1]),
        )
        pool = scored[:POOL]
        sel = [pool[0]]
        want.add((qid, pool[0][1], 1, pool[0][0]))
        for pick in range(2, K + 1):
            best = None
            for rel, c in pool:
                if any(c == s[1] for s in sel):
                    continue
                ms = max(q6(cos(emb[c], emb[s[1]])) for s in sel)
                score = LAM * rel - (10 - LAM) * ms
                cand = (-score, c, rel)
                if best is None or cand < best:
                    best = cand
            sel.append((best[2], best[1]))
            want.add((qid, best[1], pick, best[2]))
    got = {
        (int(r["query_id"]), int(r["vec_id"]), int(r["pick"]), int(r["rel_q6"]))
        for r in Q.QUERIES["mmr_rerank"][0](spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_pca_top_matches_python_replay(spark):
    from osm_to_netex_spark.plans.queries.retrieval import _PCA_ROUNDS

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    xq = {}
    dims = None
    for r in rows:
        v = [int(round(float(x) * 1e6)) for x in r["embedding"]]
        xq[int(r["vec_id"])] = v
        dims = len(v)
    n = len(xq)
    mq = [
        int(math.floor(sum(v[i] for v in xq.values()) / n + 0.5))
        for i in range(dims)
    ]
    c = {r: [v[i] - mq[i] for i in range(dims)] for r, v in xq.items()}
    v = [10**6] + [0] * (dims - 1)
    for _ in range(_PCA_ROUNDS):
        s = {r: sum(ci * vi for ci, vi in zip(cv, v)) for r, cv in c.items()}
        sd = {r: _idiv(x, 10**6) for r, x in s.items()}
        u = [sum(c[r][i] * sd[r] for r in c) for i in range(dims)]
        ud = [_idiv(x, 10**9) for x in u]
        n2 = sum(x * x for x in ud)
        v = [int(round(x / math.sqrt(n2) * 1e6)) for x in ud]
    got = {
        int(r["dim"]): int(r["v_q6"])
        for r in Q.QUERIES["pca_top"][0](spark, SF).collect()
    }
    assert got == {i: v[i] for i in range(dims)}
    norm = math.sqrt(sum(x * x for x in got.values())) / 1e6
    assert norm == pytest.approx(1.0, abs=1e-3)


def _idiv(a: int, b: int) -> int:
    """SQL integer division truncates toward zero (Spark div / DuckDB //);
    Python // floors — they differ on negatives."""
    q = abs(a) // b
    return q if a >= 0 else -q


def test_feature_hash_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").collect()
    # replay the portable hash through Spark one term at a time is slow;
    # instead verify structural invariants + cross-check totals via SQL
    out = Q.QUERIES["feature_hash"][0](spark, SF).collect()
    got = {(int(r["doc_id"]), int(r["dim"])): int(r["w"]) for r in out}
    assert all(0 <= d < 64 for (_, d) in got)
    # sum of |w| <= token count per doc; sum of w parity == token parity
    ntok = {int(r["doc_id"]): len(_tokens(r["text"])) for r in rows}
    per_doc = defaultdict(int)
    per_doc_abs = defaultdict(int)
    for (doc, _), w in got.items():
        per_doc[doc] += w
        per_doc_abs[doc] += abs(w)
    for doc, n in ntok.items():
        if n == 0:
            continue
        assert per_doc_abs[doc] <= n
        assert (per_doc[doc] - n) % 2 == 0  # each token contributes ±1


def test_l_diversity_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_nationkey", "c_acctbal", "c_mktsegment"
    ).collect()
    K, L = 5, 3
    want = {}
    for lev, width in ((0, 1.0), (1, 100.0), (2, 1000.0), (3, None)):
        classes = defaultdict(list)
        for r in rows:
            g = None if width is None else int(math.floor(r["c_acctbal"] / width))
            classes[(int(r["c_nationkey"]), g)].append(r["c_mktsegment"])
        n_classes = len(classes)
        k_anon = sum(1 for v in classes.values() if len(v) >= K)
        l_div = sum(1 for v in classes.values() if len(set(v)) >= L)
        leak = sum(1 for v in classes.values() if len(v) >= K and len(set(v)) < L)
        want[lev] = (n_classes, k_anon, l_div, leak)
    got = {
        int(r["level"]): (
            int(r["n_classes"]), int(r["k_anon_classes"]),
            int(r["l_diverse_classes"]), int(r["k_anon_not_l_diverse"]),
        )
        for r in Q.QUERIES["l_diversity"][0](spark, SF).collect()
    }
    assert got == want


def _edr_python(A, B, eps_mm):
    n, m = len(A), len(B)
    dp = [[0] * (m + 1) for _ in range(n + 1)]
    for i in range(n + 1):
        dp[i][0] = i
    for j in range(m + 1):
        dp[0][j] = j
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            d_mm = int(round(round(_haversine_m(A[i - 1][0], A[i - 1][1],
                                                B[j - 1][0], B[j - 1][1]), 6) * 1000))
            c = 0 if d_mm <= eps_mm else 1
            dp[i][j] = min(dp[i - 1][j - 1] + c, dp[i - 1][j] + 1, dp[i][j - 1] + 1)
    return dp[n][m]


def test_edr_join_matches_python_replay(spark):
    CORPUS.register_geometry_views(spark, SF0_01)
    fixes = defaultdict(list)
    for r in spark.table("geo_traj").collect():
        fixes[int(r["traj_id"])].append((int(r["step"]), r["lat"], r["lon"]))
    tracks = {
        t: [(la, lo) for _, la, lo in sorted(fl)] for t, fl in fixes.items()
    }
    ids = sorted(tracks)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            e = _edr_python(tracks[a], tracks[b], 3_000_000)
            if e <= 3:
                want[(a, b)] = e
    got = {
        (int(r["traj_a"]), int(r["traj_b"])): int(r["edr"])
        for r in Q.QUERIES["edr_join"][0](spark, SF0_01).collect()
    }
    assert got == want and len(got) > 0


def test_edr_robust_where_dtw_is_not():
    """One wild outlier fix: +1 edit for EDR, +full distance for DTW —
    the reason the similarity family carries both."""
    base = [(59.0 + 0.001 * i, 10.0) for i in range(6)]
    noisy = list(base)
    noisy[3] = (61.0, 12.0)  # ~250 km outlier
    assert _edr_python(base, noisy, 500_000) == 1


def test_centrography_matches_python_replay(spark):
    CORPUS.register_geometry_views(spark, SF)
    pts = [(r["lat"], r["lon"]) for r in spark.table("geo_points").collect()]
    n = len(pts)
    clat = sum(int(math.floor(la * 1e9 + 0.5)) for la, _ in pts) / n / 1e9
    clon = sum(int(math.floor(lo * 1e9 + 0.5)) for _, lo in pts) / n / 1e9
    M = 111194.92664455873
    sxx = syy = sxy = 0
    for la, lo in pts:
        dx = (lo - clon) * CORPUS.COSLAT0 * M
        dy = (la - clat) * M
        sxx += int(math.floor(dx * dx * 1e3 + 0.5))
        syy += int(math.floor(dy * dy * 1e3 + 0.5))
        sxy += int(math.floor(dx * dy * 1e3 + 0.5))
    std = math.sqrt((sxx + syy) / 1e3 / n)
    tr2 = (sxx + syy) / 2.0
    disc = math.sqrt(((sxx - syy) / 2.0) ** 2 + sxy * sxy)
    smaj = math.sqrt(max((tr2 + disc) / 1e3 / n, 0.0))
    smin = math.sqrt(max((tr2 - disc) / 1e3 / n, 0.0))
    row = Q.QUERIES["centrography"][0](spark, SF).collect()[0]
    assert int(row["n"]) == n
    assert row["clat"] == pytest.approx(clat, abs=1e-9)
    assert row["clon"] == pytest.approx(clon, abs=1e-9)
    assert row["std_dist_m"] == pytest.approx(std, abs=1e-5)
    assert row["sigma_major_m"] == pytest.approx(smaj, abs=1e-5)
    assert row["sigma_minor_m"] == pytest.approx(smin, abs=1e-5)
    assert row["sigma_major_m"] >= row["sigma_minor_m"]
    assert row["tan2theta"] == pytest.approx(2 * sxy / (sxx - syy), abs=1e-8)


def test_kruskal_wallis_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF}/events.parquet").select("event_type", "value").collect()
    vals = [r["value"] for r in rows]
    r2 = _avg_ranks_x2(vals)
    nn = len(vals)
    cnt = Counter(vals)
    t3 = sum(c ** 3 - c for c in cnt.values())
    groups = defaultdict(list)
    for r in rows:
        groups[r["event_type"]].append(r["value"])
    srr = sum(
        (sum(r2[v] for v in g) / 2.0) ** 2 / len(g) for g in groups.values()
    )
    h = 12.0 / (nn * (nn + 1)) * srr - 3 * (nn + 1)
    hc = h / (1 - t3 / (nn ** 3 - nn))
    row = Q.QUERIES["kruskal_wallis"][0](spark, SF).collect()[0]
    assert int(row["k_groups"]) == len(groups)
    assert int(row["nn"]) == nn
    assert row["h"] == pytest.approx(h, abs=1e-7)
    assert row["h_tie_corrected"] == pytest.approx(hc, abs=1e-7)


def test_auc_roc_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF}/documents.parquet").select("n_chars", "lang").collect()
    pairs = [(int(r["n_chars"]), 1 if r["lang"] == "en" else 0) for r in rows]
    r2 = _avg_ranks_x2([s for s, _ in pairs])
    n_pos = sum(y for _, y in pairs)
    n_neg = len(pairs) - n_pos
    rpos2 = sum(r2[s] for s, y in pairs if y)
    auc = (rpos2 / 2.0 - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
    # independent O(n^2) cross-check: P(score+ > score-) + 0.5 P(=)
    wins = ties = 0
    for sp, yp in pairs:
        if not yp:
            continue
        for sn, yn in pairs:
            if yn:
                continue
            if sp > sn:
                wins += 1
            elif sp == sn:
                ties += 1
    assert auc == pytest.approx((wins + 0.5 * ties) / (n_pos * n_neg), abs=1e-12)
    row = Q.QUERIES["auc_roc"][0](spark, SF).collect()[0]
    assert (int(row["n_pos"]), int(row["n_neg"])) == (n_pos, n_neg)
    assert row["auc"] == pytest.approx(auc, abs=1e-9)
    assert row["gini_coeff"] == pytest.approx(2 * auc - 1, abs=1e-9)


def test_isotonic_calibration_matches_python_pava(spark):
    rows = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "n_chars", "lang"
    ).collect()
    data = sorted(
        (int(r["n_chars"]), int(r["doc_id"]), 1 if r["lang"] == "en" else 0)
        for r in rows
    )
    B = 10
    n = len(data)
    # ntile semantics: first (n % B) bins get ceil(n/B)
    sizes = [(n // B) + (1 if i < n % B else 0) for i in range(B)]
    bins, idx = [], 0
    for sz in sizes:
        chunk = data[idx:idx + sz]
        idx += sz
        bins.append((len(chunk), sum(y for _, _, y in chunk)))
    # classic PAVA
    blocks = [[cnt, pos] for cnt, pos in bins]
    merged = []
    for b in blocks:
        merged.append(list(b))
        while len(merged) > 1 and (
            merged[-2][1] * merged[-1][0] > merged[-1][1] * merged[-2][0]
        ):
            b2 = merged.pop()
            merged[-1][0] += b2[0]
            merged[-1][1] += b2[1]
    fits = []
    for cnt, pos in merged:
        fits.extend([pos / cnt] * 0)  # placeholder
    fit_per_bin = []
    for cnt, pos in merged:
        rate = pos / cnt
        covered = 0
        # expand back to bins
        for bcnt, _ in bins[len(fit_per_bin):]:
            if covered >= cnt:
                break
            fit_per_bin.append(rate)
            covered += bcnt
    assert len(fit_per_bin) == B
    got = {
        int(r["bin"]): (int(r["n"]), int(r["rate_q9"]), int(r["fit_q9"]))
        for r in Q.QUERIES["isotonic_calibration"][0](spark, SF).collect()
    }
    for i in range(B):
        cnt, pos = bins[i]
        assert got[i + 1][0] == cnt
        assert got[i + 1][1] == int(math.floor(pos / cnt * 1e9 + 0.5))
        assert got[i + 1][2] / 1e9 == pytest.approx(fit_per_bin[i], abs=2e-9)
    # monotone non-decreasing
    fit_seq = [got[i + 1][2] for i in range(B)]
    assert fit_seq == sorted(fit_seq)


def test_emerging_hotspots_matches_python_replay(spark):
    CORPUS.register_geometry_views(spark, SF)
    pts = spark.sql(SPATIAL._mk_points_sql("spark")).collect()
    T, HOT = 8, 1282000
    counts = Counter()
    for r in pts:
        cx, cy = _quad_ixy(r["lat"], r["lon"], 11)
        counts[(cx, cy, int(r["bucket"]))] += 1
    cells = {(cx, cy) for cx, cy, _ in counts}
    grid = {(cx, cy, t): counts.get((cx, cy, t), 0) for cx, cy in cells for t in range(T)}
    zq = {}
    for t in range(T):
        slice_ = {(cx, cy): c for (cx, cy, tt), c in grid.items() if tt == t}
        nn = len(slice_)
        sx = sum(slice_.values())
        sxx = sum(v * v for v in slice_.values())
        for (cx, cy), _ in slice_.items():
            wi = ni = 0
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    v = slice_.get((cx + dx, cy + dy))
                    if v is not None:
                        wi += v
                        ni += 1
            den = (
                math.sqrt(max(sxx / nn - (sx / nn) ** 2, 0.0))
                * math.sqrt((nn * ni - ni * ni) / (nn - 1.0))
            )
            z = (wi - (sx / nn) * ni) / den if den else 0.0
            zq[(cx, cy, t)] = int(math.floor(z * 1e6 + 0.5))
    want = {}
    for cx, cy in cells:
        series = [zq[(cx, cy, t)] for t in range(T)]
        s = sum(
            (1 if series[b] > series[a] else -1 if series[b] < series[a] else 0)
            for a in range(T) for b in range(a + 1, T)
        )
        n_hot = sum(1 for v in series if v >= HOT)
        hot_last = 1 if series[-1] >= HOT else 0
        if n_hot == T:
            p = "persistent"
        elif hot_last and n_hot == 1:
            p = "new"
        elif hot_last and s > 0:
            p = "intensifying"
        elif not hot_last and n_hot > 0 and s < 0:
            p = "diminishing"
        elif n_hot > 0:
            p = "sporadic"
        else:
            p = "none"
        want[(cx, cy)] = (s, n_hot, hot_last, p)
    got = {
        (int(r["cell_x"]), int(r["cell_y"])): (
            int(r["s_stat"]), int(r["n_hot"]), int(r["hot_last"]), r["pattern"]
        )
        for r in Q.QUERIES["emerging_hotspots"][0](spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_item_cf_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    ).collect()
    baskets = defaultdict(set)
    for r in rows:
        baskets[int(r["l_orderkey"])].add(int(r["l_partkey"]))
    supp = Counter()
    co = Counter()
    for items in baskets.values():
        for i in items:
            supp[i] += 1
        for i in items:
            for j in items:
                if i != j:
                    co[(i, j)] += 1
    want = {}
    per_item = defaultdict(list)
    for (i, j), c in co.items():
        if c >= 2:
            sim = int(math.floor(c / (math.sqrt(supp[i]) * math.sqrt(supp[j])) * 1e9 + 0.5))
            per_item[i].append((-sim, j, c))
    for i, lst in per_item.items():
        for rank, (negsim, j, c) in enumerate(sorted(lst)[:3], start=1):
            want[(i, j)] = (c, -negsim, rank)
    got = {
        (int(r["item"]), int(r["rec"])): (int(r["co"]), int(r["sim_q9"]), int(r["rank"]))
        for r in Q.QUERIES["item_cf"][0](spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_tfidf_topk_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").collect()
    tf = Counter()
    docs_terms = defaultdict(set)
    for r in rows:
        for t in _tokens(r["text"]):
            tf[(int(r["doc_id"]), t)] += 1
            docs_terms[t].add(int(r["doc_id"]))
    n_docs = len({d for d, _ in tf})
    want = {}
    per_doc = defaultdict(list)
    for (doc, t), c in tf.items():
        score = int(math.floor(c * math.log((n_docs + 1) / (len(docs_terms[t]) + 1)) * 1e6 + 0.5))
        per_doc[doc].append((-score, t))
    for doc, lst in per_doc.items():
        for rank, (negs, t) in enumerate(sorted(lst)[:5], start=1):
            want[(doc, t)] = (rank, -negs)
    got = {
        (int(r["doc_id"]), r["term"]): (int(r["rank"]), int(r["score_q6"]))
        for r in Q.QUERIES["tfidf_topk"][0](spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_simhash_pairs_blocked_equals_brute(spark):
    """The 4-block pigeonhole candidate generator is complete for d<=3:
    blocked-join output == brute all-pairs Hamming filter."""
    from osm_to_netex_spark.functions import text as tx

    CORPUS.register_geometry_views(spark, SF)
    fp = tx.simhash64("text", "spark")
    fps = {
        int(r["doc_id"]): int(r["fp"])
        for r in spark.sql(
            f"select doc_id, cast({fp} as bigint) as fp from documents"
        ).collect()
    }
    ids = sorted(fps)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(fps[a] ^ fps[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    got = {
        (int(r["doc_a"]), int(r["doc_b"])): int(r["hamming"])
        for r in Q.QUERIES["simhash_pairs"][0](spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_burstiness_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_id", "ts"
    ).collect()
    per_user = defaultdict(list)
    for r in rows:
        per_user[int(r["user_id"])].append((r["ts"], int(r["event_id"])))
    import datetime
    epoch = datetime.datetime(1970, 1, 1)
    want = {}
    for u, evs in per_user.items():
        evs.sort()
        deltas = []
        for (t1, _), (t2, _) in zip(evs, evs[1:]):
            us1 = int((t1 - epoch).total_seconds() * 1e6 + 0.5)
            us2 = int((t2 - epoch).total_seconds() * 1e6 + 0.5)
            deltas.append((us2 - us1) // 10**6)
        if len(deltas) < 10:
            continue
        n = len(deltas)
        mu = sum(deltas) / n
        var = sum(x * x for x in deltas) / n - mu * mu
        sd = math.sqrt(max(var, 0.0))
        want[u] = (n, round((sd - mu) / (sd + mu), 9))
    got = {
        int(r["user_id"]): (int(r["n"]), r["burstiness"])
        for r in Q.QUERIES["burstiness"][0](spark, SF).collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert got[u][1] == pytest.approx(want[u][1], abs=1e-8)
        assert -1.0 <= got[u][1] <= 1.0


def test_rocchio_expand_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").collect()
    Qt = ["spark", "join", "window", "vector"]
    R, E, K = 5, 5, 10
    tf = Counter()
    df_t = defaultdict(set)
    for r in rows:
        for t in _tokens(r["text"]):
            tf[(int(r["doc_id"]), t)] += 1
            df_t[t].add(int(r["doc_id"]))
    n_docs = len({d for d, _ in tf})
    w_q6 = {
        (doc, t): int(math.floor(c * math.log((n_docs + 1) / (len(df_t[t]) + 1)) * 1e6 + 0.5))
        for (doc, t), c in tf.items()
    }
    s1 = Counter()
    for (doc, t), w in w_q6.items():
        if t in Qt:
            s1[doc] += w
    fb = [d for d, _ in sorted(s1.items(), key=lambda kv: (-kv[1], kv[0]))[:R]]
    expw = Counter()
    for (doc, t), w in w_q6.items():
        if doc in fb and t not in Qt:
            expw[t] += w
    exp_terms = sorted(expw.items(), key=lambda kv: (-kv[1], kv[0]))[:E]
    qprime = {}
    for t in Qt:
        if t in df_t:
            idf = int(math.floor(math.log((n_docs + 1) / (len(df_t[t]) + 1)) * 1e6 + 0.5))
            qprime[t] = R * idf
    for t, w in exp_terms:
        qprime[t] = qprime.get(t, 0) + w
    s2 = Counter()
    for (doc, t), w in w_q6.items():
        if t in qprime:
            s2[doc] += qprime[t] * w
    want = {
        doc: (sc, rank)
        for rank, (doc, sc) in enumerate(
            sorted(s2.items(), key=lambda kv: (-kv[1], kv[0]))[:K], start=1
        )
    }
    got = {
        int(r["doc_id"]): (int(r["score2"]), int(r["rank"]))
        for r in Q.QUERIES["rocchio_expand"][0](spark, SF).collect()
    }
    assert got == want and len(got) == K


def test_raster_slope_matches_python_replay(spark):
    CORPUS.register_geometry_views(spark, SF)
    ras = {
        (int(r["ix"]), int(r["iy"])): r["value"]
        for r in spark.sql(
            "with r as ("
            + __import__("osm_to_netex_spark.plans.queries.terrain", fromlist=["x"])._raster_cte("spark")
            + ") select ix, iy, value from r"
        ).collect()
    }
    n = 2 ** 12
    M = 111194.92664455873
    cy = 180.0 / n * M
    cx = 360.0 / n * M * CORPUS.COSLAT0
    want = {}
    for (ix, iy), v in ras.items():
        try:
            e, w_, nn, s = ras[(ix + 1, iy)], ras[(ix - 1, iy)], ras[(ix, iy + 1)], ras[(ix, iy - 1)]
        except KeyError:
            continue
        gx = (e - w_) / (2 * cx)
        gy = (nn - s) / (2 * cy)
        want[(ix, iy)] = (round(gx, 9), round(gy, 9), round(math.sqrt(gx * gx + gy * gy), 9))
    got = {
        (int(r["ix"]), int(r["iy"])): (r["gx"], r["gy"], r["slope"])
        for r in Q.QUERIES["raster_slope"][0](spark, SF).collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for k in want:
        for a, b in zip(got[k], want[k]):
            assert a == pytest.approx(b, abs=1e-9)


def test_zonal_majority_is_modal_band(spark):
    """The reported band is the modal band: no other band in the zone's
    cover has a higher cell count (ties break to the lower band)."""
    CORPUS.register_geometry_views(spark, SF)
    from osm_to_netex_spark.plans.queries.terrain import _raster_cte, _zonal_majority_sql

    full = spark.sql(
        _zonal_majority_sql("spark").replace(
            "where rn = 1", "where rn >= 1"
        )
    ).collect()
    per_zone = defaultdict(list)
    for r in full:
        per_zone[r["zone_id"]].append((int(r["n_cells"]), int(r["band"])))
    got = {
        r["zone_id"]: (int(r["band"]), int(r["n_cells"]))
        for r in Q.QUERIES["zonal_majority"][0](spark, SF).collect()
    }
    assert set(got) == set(per_zone)
    for z, rows in per_zone.items():
        best = max((n, -b) for n, b in rows)
        assert got[z] == (-best[1], best[0])


def _l_moments_replay(rows) -> dict:
    per = defaultdict(list)
    for r in rows:
        per[r["event_type"]].append(
            (int(math.floor(r["value"] * 100 + 0.5)), int(r["event_id"]))
        )
    want = {}
    for t, xs in per.items():
        xs.sort()
        n = len(xs)
        s0 = sum(x for x, _ in xs)
        s1 = sum((i) * x for i, (x, _) in enumerate(xs))          # (rank-1)
        s2 = sum((i) * (i - 1) * x for i, (x, _) in enumerate(xs))
        s3 = sum((i) * (i - 1) * (i - 2) * x for i, (x, _) in enumerate(xs))
        b0 = s0 / n / 100
        b1 = s1 / n / (n - 1) / 100
        b2 = s2 / n / ((n - 1) * (n - 2)) / 100
        b3 = s3 / n / ((n - 1) * (n - 2) * (n - 3)) / 100
        l2 = 2 * b1 - b0
        want[t] = (
            n, round(b0, 9), round(l2, 9),
            round((6 * b2 - 6 * b1 + b0) / l2, 9),
            round((20 * b3 - 30 * b2 + 12 * b1 - b0) / l2, 9),
        )
    return want


def test_l_moments_sums_past_int64(spark):
    """10^5 events of one type: Σ (i-1)(i-2)(i-3)·x_cents is ~10²³, past
    int64, as at sf0.1; the query must stay exact, not raise an overflow."""
    from osm_to_netex_spark.functions.portable import SPARK
    from osm_to_netex_spark.plans.queries.stats import _l_moments_sql

    events = spark.range(100_000).selectExpr(
        "'a' as event_type", "cast(id % 997 as double) / 10.0 as value", "id as event_id"
    )
    events.createOrReplaceTempView("events")
    got = spark.sql(_l_moments_sql(SPARK)).collect()
    want = _l_moments_replay(events.collect())["a"]
    assert len(got) == 1 and int(got[0]["n"]) == want[0]
    for a, b in zip([got[0][c] for c in ("l1", "l2", "t3", "t4")], want[1:]):
        assert a == pytest.approx(b, abs=1e-8)


def test_l_moments_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_type", "value", "event_id"
    ).collect()
    want = _l_moments_replay(rows)
    got = {
        r["event_type"]: (int(r["n"]), r["l1"], r["l2"], r["t3"], r["t4"])
        for r in Q.QUERIES["l_moments"][0](spark, SF).collect()
    }
    assert set(got) == set(want)
    for t in want:
        assert got[t][0] == want[t][0]
        for a, b in zip(got[t][1:], want[t][1:]):
            assert a == pytest.approx(b, abs=1e-8)
        # L-moment ratio bounds: |t3| < 1, and t4 >= (5*t3^2 - 1)/4
        assert abs(got[t][3]) < 1
        assert got[t][4] >= (5 * got[t][3] ** 2 - 1) / 4 - 1e-9


def test_tpch_q5_matches_manual_join(spark):
    import datetime
    sfd = SF
    cust = {int(r["c_custkey"]): int(r["c_nationkey"])
            for r in spark.read.parquet(f"{sfd}/customer.parquet").collect()}
    supp = {int(r["s_suppkey"]): int(r["s_nationkey"])
            for r in spark.read.parquet(f"{sfd}/supplier.parquet").collect()}
    nat = {int(r["n_nationkey"]): (r["n_name"], int(r["n_regionkey"]))
           for r in spark.read.parquet(f"{sfd}/nation.parquet").collect()}
    reg = {int(r["r_regionkey"]): r["r_name"]
           for r in spark.read.parquet(f"{sfd}/region.parquet").collect()}
    orders = {int(r["o_orderkey"]): (int(r["o_custkey"]), r["o_orderdate"])
              for r in spark.read.parquet(f"{sfd}/orders.parquet").collect()}
    want = defaultdict(lambda: [0, 0])
    lo = datetime.datetime(1996, 1, 1)
    hi = datetime.datetime(1997, 1, 1)
    for r in spark.read.parquet(f"{sfd}/lineitem.parquet").collect():
        ok = int(r["l_orderkey"])
        if ok not in orders:
            continue
        ck, od = orders[ok]
        if not (lo <= od < hi):
            continue
        cn = cust[ck]
        if supp.get(int(r["l_suppkey"])) != cn:
            continue
        name, rk = nat[cn]
        if reg[rk] != "ASIA":
            continue
        w = want[name]
        w[0] += 1
        w[1] += int(math.floor(r["l_extendedprice"] * (1 - r["l_discount"]) * 1e4 + 0.5))
    got = {
        r["n_name"]: (int(r["n_lines"]), int(r["revenue_q4"]))
        for r in Q.QUERIES["tpch_q5"][0](spark, SF).collect()
    }
    assert got == {k: tuple(v) for k, v in want.items()} and len(got) > 0


def test_vocab_richness_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF}/documents.parquet").select("source", "text").collect()
    tf = Counter()
    for r in rows:
        for t in _tokens(r["text"]):
            tf[(r["source"], t)] += 1
    per = defaultdict(lambda: [0, 0, 0, 0])  # d, n, f1, f2
    for (s, _), c in tf.items():
        p = per[s]
        p[0] += 1
        p[1] += c
        if c == 1:
            p[2] += 1
        elif c == 2:
            p[3] += 1
    want = {}
    for s, (d_obs, n, f1, f2) in per.items():
        if f2 > 0:
            chao = d_obs + f1 * f1 / (2.0 * f2)
        else:
            chao = d_obs + f1 * (f1 - 1) / (2.0 * (f2 + 1))
        want[s] = (
            d_obs, n, f1, f2,
            int(math.floor(chao * 1e6 + 0.5)),
            int(math.floor(f1 / n * 1e9 + 0.5)),
        )
    got = {
        r["source"]: (
            int(r["d_obs"]), int(r["n_tokens"]), int(r["f1"]), int(r["f2"]),
            int(r["chao1_q6"]), int(r["gt_unseen_q9"]),
        )
        for r in Q.QUERIES["vocab_richness"][0](spark, SF).collect()
    }
    assert got == want and len(got) > 0
    for s, v in got.items():
        assert v[4] >= v[0] * 10**6  # Chao1 >= observed richness
