"""Round-3 operators vs exact Python replays: k-core peel, label
propagation, CUSUM closed form vs the textbook recursion, PMI counts,
clipped n-gram overlap, hard-negative mining, k-anonymity ladder."""

import math
from collections import Counter, defaultdict

import pytest
from pyspark.sql import Row, functions as F

from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import curation, graph, similarity, temporal, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _fresh_views(spark):
    """Some tests here replace the memoized `documents`/`events` temp views
    with tiny synthetic tables; reset register_geometry_views' memo so every
    test (in any order) re-registers the real sf tables."""
    spark._graft_geo_views = None
    yield
    spark._graft_geo_views = None


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _und_edges(spark, docs):
    docs.select("doc_id").createOrReplaceTempView("__t_docs")
    n_expr = "(select count(*) from __t_docs)"
    rows = spark.sql(graph.undirected_edges_sql(SPARK, "__t_docs", n_expr)).collect()
    adj = defaultdict(set)
    for r in rows:
        adj[int(r["u"])].add(int(r["w"]))
    return adj


def test_k_core_matches_python_peel_and_converges(spark, docs):
    k, rounds = 2, 4
    adj = _und_edges(spark, docs)
    alive = {v for v, ns in adj.items() if len(ns) >= k}

    def peel(alive):
        return {v for v in alive if len(adj[v] & alive) >= k}

    for _ in range(rounds):
        alive = peel(alive)
    # converged on the fixture graph → the R-round result IS the true k-core
    assert peel(alive) == alive
    want = {(v, len(adj[v] & alive)) for v in alive}
    got = {
        (int(r["doc_id"]), int(r["deg"]))
        for r in graph.k_core(spark, docs, k=k, n_rounds=rounds).collect()
    }
    assert got == want and len(got) > 0


def test_label_propagation_matches_python_replay(spark, docs):
    rounds = 3
    adj = _und_edges(spark, docs)
    nodes = [int(r["doc_id"]) for r in docs.select("doc_id").collect()]
    lbl = {v: v for v in nodes}
    for _ in range(rounds):
        new = {}
        for v in nodes:
            votes = Counter(lbl[w] for w in adj.get(v, ()))
            if votes:
                best = max(votes.items(), key=lambda t: (t[1], -t[0]))
                new[v] = best[0]
            else:
                new[v] = lbl[v]
        lbl = new
    got = {
        int(r["doc_id"]): int(r["community"])
        for r in graph.label_propagation(spark, docs, n_rounds=rounds).collect()
    }
    assert got == lbl
    # communities actually merged (not the identity labeling)
    assert len(set(lbl.values())) < len(nodes)


def test_cusum_closed_form_equals_recursion(spark):
    """S_t − min(0, min_j S_j) must equal the textbook recursive
    C_t = max(0, C_{t−1} + y_t) on the real event table."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev.createOrReplaceTempView("events")
    got = {
        (int(r["user_id"]), int(r["event_id"])): (int(r["cusum_q"]), bool(r["alarm"]))
        for r in temporal.cusum(spark).collect()
    }
    rows = ev.select("user_id", "event_id", "ts", "value").collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[int(r["user_id"])].append(r)
    off = 10**12
    slack, h = 50_000, 2_000_000
    n_alarm = 0
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: (r["ts"], r["event_id"]))
        xq = [math.floor(float(r["value"]) * 1e6 + 0.5) for r in rs]
        mean_q = (sum(x + off for x in xq)) // len(xq) - off
        c = 0
        for r, x in zip(rs, xq):
            c = max(0, c + (x - mean_q - slack))
            assert got[(uid, int(r["event_id"]))] == (c, c > h)
            n_alarm += c > h
    assert len(got) == len(rows)


def test_pmi_counts_match_python(spark):
    rows = [
        (0, "alpha beta gamma"),
        (1, "alpha beta"),
        (2, "alpha gamma delta"),
        (3, "beta gamma"),
        (4, "alpha beta gamma delta"),
    ]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])
    df.createOrReplaceTempView("documents")
    got = {
        (r["wa"], r["wb"]): (int(r["c_ab"]), int(r["pmi_q9"]))
        for r in spark.sql(
            textstats.pmi_cooc_sql(SPARK, top_v=4, min_pairs=2)
        ).collect()
    }
    docsets = [set(t.split()) for _, t in rows]
    n = len(rows)
    cnt = Counter(w for s in docsets for w in s)
    pairs = Counter()
    for s in docsets:
        ws = sorted(s)
        for i, a in enumerate(ws):
            for b in ws[i + 1 :]:
                pairs[(a, b)] += 1
    want = {}
    for (a, b), c_ab in pairs.items():
        if c_ab >= 2:
            pmi = math.floor(
                math.log(n * c_ab / (cnt[a] * cnt[b])) * 1e9 + 0.5
            )
            want[(a, b)] = (c_ab, pmi)
    assert got == want and len(got) >= 3


def test_ngram_overlap_clipped_precision(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on a rug"),
        (2, "completely different words here"),
        (3, "words here completely different"),
    ]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])
    df.createOrReplaceTempView("documents")
    out = {
        (int(r["doc_a"]), int(r["doc_b"])): (
            int(r["clipped_matches"]),
            int(r["total_ngrams_a"]),
        )
        for r in spark.sql(textstats.ngram_overlap_sql(SPARK, n=2)).collect()
    }

    def bigrams(t):
        toks = t.split()
        return Counter(tuple(toks[i : i + 2]) for i in range(len(toks) - 1))

    for a in range(3):
        ga, gb = bigrams(rows[a][1]), bigrams(rows[a + 1][1])
        m = sum(min(c, gb[g]) for g, c in ga.items())
        if m > 0:
            assert out[(a, a + 1)] == (m, sum(ga.values()))
        else:
            assert (a, a + 1) not in out
    # "the cat"/"cat sat"/"sat on" shared between 0 and 1
    assert out[(0, 1)][0] == 3


def test_hard_negatives_excludes_same_label(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where("vec_id % 50 = 0")
    out = similarity.hard_negatives(queries, emb, k=5)
    labels = {int(r["vec_id"]): int(r["label"]) for r in emb.collect()}
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert labels[int(r["query_id"])] != labels[int(r["vec_id"])]
    # per query exactly k rows ranked 1..k
    per_q = defaultdict(list)
    for r in rows:
        per_q[int(r["query_id"])].append(int(r["rn"]))
    for q, rns in per_q.items():
        assert sorted(rns) == list(range(1, 6))


def test_kanon_ladder_minimal_level(spark):
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    cust.createOrReplaceTempView("customer")
    k = 5
    got = {
        int(r["c_custkey"]): (int(r["anon_level"]), int(r["class_size"]))
        for r in curation.kanon_ladder(spark, k=k).collect()
    }
    rows = cust.select("c_custkey", "c_nationkey", "c_acctbal").collect()
    qs = [
        (
            int(r["c_custkey"]),
            int(r["c_nationkey"]),
            math.floor(float(r["c_acctbal"])),
            math.floor(float(r["c_acctbal"]) / 100.0),
            math.floor(float(r["c_acctbal"]) / 1000.0),
        )
        for r in rows
    ]
    for lvl_idx in range(4):
        cnt = Counter()
        for t in qs:
            key = (t[1],) if lvl_idx == 3 else (t[1], t[2 + lvl_idx])
            cnt[key] += 1
        for t in qs:
            key = (t[1],) if lvl_idx == 3 else (t[1], t[2 + lvl_idx])
            lvl, size = got[t[0]]
            if lvl == lvl_idx:
                assert cnt[key] >= k and size == cnt[key]
            elif lvl > lvl_idx:
                assert cnt[key] < k  # smaller levels genuinely failed
    assert len(got) == len(qs)


def test_keep_best_one_survivor_per_group(spark):
    from osm_to_netex_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = dedup.keep_best_dedup(docs)
    rows = out.collect()
    dedup.unpersist_intermediates(out)
    by_grp = defaultdict(list)
    for r in rows:
        by_grp[int(r["grp"])].append(r)
    assert len(rows) == docs.count()
    multi = 0
    for grp, rs in by_grp.items():
        kept = [r for r in rs if r["kept"]]
        assert len(kept) == 1
        best = max(rs, key=lambda r: (int(r["quality_q6"]), -int(r["doc_id"])))
        assert int(kept[0]["doc_id"]) == int(best["doc_id"])
        multi += len(rs) > 1
    assert multi > 0  # the fixture corpus really has near-dup families


def test_robust_anomaly_matches_python_replay(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    out = {
        (r["event_type"], int(r["event_id"])): (
            int(r["robust_z_q9"]),
            bool(r["outlier"]),
        )
        for r in STATS.q_robust_anomaly(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    by_type = defaultdict(list)
    for r in ev:
        by_type[r["event_type"]].append(
            (int(r["event_id"]), math.floor(float(r["value"]) * 1e6 + 0.5))
        )

    def interp_median(vals):
        s = sorted(vals)
        n = len(s)
        pos = (n - 1) * 0.5
        lo, hi = s[int(pos)], s[min(int(pos) + 1, n - 1)]
        return lo + (pos - int(pos)) * (hi - lo)

    n_checked = 0
    for et, rows in by_type.items():
        xs = [x for _, x in rows]
        medq = math.floor(interp_median(xs) + 0.5)
        madq = math.floor(interp_median([abs(x - medq) for x in xs]) + 0.5)
        if madq <= 0:
            continue
        for eid, x in rows:
            z = math.floor(0.6745 * (x - medq) / madq * 1e9 + 0.5)
            assert out[(et, eid)] == (z, abs(z) > 3_500_000_000)
            n_checked += 1
    assert n_checked > 0 and len(out) == n_checked


def test_label_point_center_inside_and_positive_clearance(spark):
    from osm_to_netex_spark.functions import geo
    from osm_to_netex_spark.plans.queries import spatial as SPATIAL

    out = SPATIAL.q_label_point(spark, SF)
    rows = out.collect()
    assert len(rows) == 10  # every sf0.001 zone gets a label point
    clat, clon = geo.quad_cell_center("label_cell", SPATIAL._LABEL_RES, "spark")
    joined = (
        out.join(spark.table("geo_polys"), "zone_id")
        .selectExpr(
            "zone_id",
            "clearance_mm",
            f"({geo.point_in_polygon(clat, clon, 'pos_list', 'spark')}) as inside",
        )
        .collect()
    )
    for r in joined:
        assert r["inside"], f"label center outside polygon for {r['zone_id']}"
        assert int(r["clearance_mm"]) > 0


def test_pip_best_single_smallest_zone(spark):
    from osm_to_netex_spark.plans.queries import spatial as SPATIAL
    from osm_to_netex_spark.functions import geo

    best = {r["point_id"]: r["zone_id"] for r in SPATIAL.q_pip_best(spark, SF).collect()}
    allm = SPATIAL.q_pip(spark, SF).collect()
    areas = {
        r["zone_id"]: abs(float(r["a2"]))
        for r in spark.table("geo_polys")
        .selectExpr("zone_id", f"{geo.poly_cross_sum('pos_list', 'spark')} as a2")
        .collect()
    }
    by_pt = defaultdict(list)
    for r in allm:
        by_pt[r["point_id"]].append(r["zone_id"])
    assert set(best) == set(by_pt)  # every bound point keeps exactly one zone
    for pid, zones in by_pt.items():
        want = min(zones, key=lambda z: (areas[z], z))
        assert best[pid] == want


def test_span_profile_counts_and_runs(spark):
    from osm_to_netex_spark.plans.queries import text as TEXT
    from osm_to_netex_spark.plans.convert_queries import FIXTURE_CORPUS

    out = {r["doc_id"]: r for r in TEXT.q_span_profile(spark, SF).collect()}
    docs = spark.read.parquet(FIXTURE_CORPUS).collect()
    assert len(out) == len(docs) > 0
    for d in docs:
        spans = d["spans"]
        r = out[d["doc_id"]]
        assert int(r["n_spans"]) == len(spans)
        assert int(r["n_text"]) == sum(1 for s in spans if s["kind"] == "text")
        assert int(r["n_media"]) == sum(1 for s in spans if s["kind"] == "media")
        runs = sum(
            1
            for i, s in enumerate(spans)
            if i == 0 or s["kind"] != spans[i - 1]["kind"]
        )
        assert int(r["n_runs"]) == runs
        inversions = sum(
            1
            for i in range(1, len(spans))
            if spans[i]["offset"] < spans[i - 1]["offset"]
        )
        assert int(r["n_offset_inversions"]) == inversions


def test_decayed_density_python_replay(spark):
    import hashlib

    from osm_to_netex_spark.plans.queries import corpus as CORPUS, spatial as SPATIAL

    got = {
        int(r["cell"]): (int(r["n_events"]), int(r["decayed_q9"]))
        for r in SPATIAL.q_decayed_density(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    # replay: hash location -> res-12 quad cell, ln2/86400 decay from max ts
    LAT_LO, LAT_HI, LON_LO, LON_HI = CORPUS.BBOX

    def pr(key):
        h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
        return h / float(1 << 60)

    us = {int(r["event_id"]): int(r["ts"].timestamp() * 1e6) for r in ev}
    # Spark NTZ epoch: re-derive identically via the query's own path is
    # overkill; use the relative ages (max - t), which cancel any epoch shift
    mx = max(us.values())
    want = defaultdict(lambda: [0, 0])
    n = 2**12
    for r in ev:
        uid = int(r["user_id"])
        lat = LAT_LO + pr(f"pt:lat:{uid}") * (LAT_HI - LAT_LO)
        lon = LON_LO + pr(f"pt:lon:{uid}") * (LON_HI - LON_LO)
        ix = int((lon + 180.0) / 360.0 * n)
        iy = int((lat + 90.0) / 180.0 * n)
        cell = 12 * 2**58 + iy * 2**29 + ix
        age_s = (mx - us[int(r["event_id"])]) / 1e6
        w = math.floor(math.exp(-(0.6931471805599453 / 86400.0) * age_s) * 1e9 + 0.5)
        want[cell][0] += 1
        want[cell][1] += w
    assert got == {c: (a, b) for c, (a, b) in want.items()}


def _ab_test_replay(got, ev):
    import hashlib

    arms = defaultdict(lambda: ([], []))
    for r in ev:
        h = int(hashlib.md5(f"ab:{int(r['user_id'])}".encode()).hexdigest()[:15], 16)
        arm = (h % (1 << 60)) % 2
        arms[r["event_type"]][arm].append(
            math.floor(float(r["value"]) * 1e6 + 0.5)
        )
    for et, (a, b) in arms.items():
        r = got[et]
        assert (int(r["n_a"]), int(r["n_b"])) == (len(a), len(b))
        ma, mb = sum(a) / len(a), sum(b) / len(b)
        va = (sum(x * x for x in a) - sum(a) ** 2 / len(a)) / (len(a) - 1)
        vb = (sum(x * x for x in b) - sum(b) ** 2 / len(b)) / (len(b) - 1)
        z = (ma - mb) / math.sqrt(va / len(a) + vb / len(b))
        assert int(r["welch_z_q9"]) == math.floor(z * 1e9 + 0.5)
        assert bool(r["significant"]) == (abs(math.floor(z * 1e9 + 0.5)) > 1959963985)


def test_ab_test_welch_replay(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    got = {r["event_type"]: r for r in STATS.q_ab_test(spark, SF).collect()}
    _ab_test_replay(got, spark.read.parquet(f"{SF}/events.parquet").collect())


def test_ab_test_sum_of_squares_past_int64(spark):
    """Outcomes quantize to 2^32 and 2^33, so x² alone is up to 2^66 and Σx²
    passes int64, as at sf0.1; the moments must stay exact.  Powers of two
    keep every float step of the replay equal to Spark's."""
    from osm_to_netex_spark.plans.queries import stats as STATS

    ev = spark.range(200).selectExpr(
        "'click' as event_type", "id as user_id",
        "4294.967296e0 * cast(1 + id % 2 as double) as value",
    )
    ev.createOrReplaceTempView("events")
    got = {r["event_type"]: r for r in spark.sql(STATS._ab_test_sql(SPARK)).collect()}
    assert set(got) == {"click"}
    _ab_test_replay(got, ev.collect())


def test_clustering_coeff_python_replay(spark, docs):
    from osm_to_netex_spark.plans.queries import graph as GRAPH

    got = {
        int(r["doc_id"]): (int(r["n_triangles"]), int(r["degree"]), int(r["cc_q9"]))
        for r in GRAPH.q_clustering_coeff(spark, SF).collect()
    }
    adj = _und_edges(spark, docs)
    for v, ns in adj.items():
        deg = len(ns)
        tri = sum(1 for a in ns for b in ns if a < b and b in adj[a]) if deg >= 2 else 0
        cc = math.floor(2.0 * tri / (deg * (deg - 1)) * 1e9 + 0.5) if deg >= 2 else 0
        assert got[v] == (tri, deg, cc)
    assert any(t > 0 for t, _, _ in got.values())


def test_hyperanf_monotone_and_depth0_is_one(spark, docs):
    from osm_to_netex_spark.operators import graph

    out = graph.hyperanf(spark, docs, n_rounds=2).collect()
    by_node = defaultdict(dict)
    for r in out:
        by_node[int(r["doc_id"])][int(r["depth"])] = float(r["reach_estimate"])
    adj = _und_edges(spark, docs)
    for v, depths in by_node.items():
        assert set(depths) == {0, 1, 2}
        # registers only max-merge -> estimates are monotone in depth
        assert depths[0] <= depths[1] + 1e-9 and depths[1] <= depths[2] + 1e-9
    # depth-0 estimates a single element: every node has exactly 1 register hit
    d0_hits = {int(r["doc_id"]): int(r["n_registers_hit"]) for r in out if r["depth"] == 0}
    assert all(h == 1 for h in d0_hits.values())
    # depth-1 register count = |HLL registers of the closed neighborhood|
    import hashlib

    for v in list(adj)[:20]:
        regs = set()
        for w in adj[v] | {v}:
            regs.add(hashlib.md5(f"anf:{w}".encode()).hexdigest()[:2])
        hits = [int(r["n_registers_hit"]) for r in out if int(r["doc_id"]) == v and r["depth"] == 1]
        assert hits == [len(regs)]


def test_logreg_gd_python_replay(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    r = STATS.q_logreg(spark, SF).collect()[0]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    data = [
        ([float(e["embedding"][j]) for j in range(4)], float(int(e["label"]) % 2))
        for e in emb
    ]
    n = len(data)
    wq = [0, 0, 0, 0, 0]  # w1..w4, bias (1e-9 units)
    for _ in range(3):
        sg = [0, 0, 0, 0, 0]
        for x, y in data:
            dot = sum(wq[j] / 1e9 * x[j] for j in range(4)) + wq[4] / 1e9
            sig = 1.0 / (1.0 + math.exp(-dot))
            for j in range(4):
                sg[j] += math.floor((y - sig) * x[j] * 1e9 + 0.5)
            sg[4] += math.floor((y - sig) * 1.0 * 1e9 + 0.5)
        for j in range(5):
            wq[j] += math.floor(0.5 * sg[j] / n + 0.5)
    for j in range(4):
        assert float(r[f"w{j + 1}"]) == round(wq[j] / 1e9, 9)
    assert float(r["bias"]) == round(wq[4] / 1e9, 9)
    n_correct = sum(
        1
        for x, y in data
        if (sum(wq[j] / 1e9 * x[j] for j in range(4)) + wq[4] / 1e9 > 0.0) == (y == 1.0)
    )
    assert int(r["n_correct"]) == n_correct and int(r["n"]) == n
    # the model actually learned something beyond the majority class
    base = max(sum(1 for _, y in data if y == 1.0), sum(1 for _, y in data if y == 0.0))
    assert n_correct >= base - n // 10


def test_target_encode_smoothing(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    rows = STATS.q_target_encode(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    g_sy = sum(int(d["n_chars"]) for d in docs)
    g_n = len(docs)
    by_cat = defaultdict(lambda: [0, 0])
    for d in docs:
        by_cat[d["source"]][0] += int(d["n_chars"])
        by_cat[d["source"]][1] += 1
    for r in rows:
        sy, n = by_cat[r["source"]]
        want = math.floor((sy + 10.0 * (g_sy / g_n)) / (n + 10.0) * 1e9 + 0.5)
        assert int(r["enc_q9"]) == want and int(r["n_cat"]) == n
    assert len(rows) == g_n


def test_turn_points_angle_threshold(spark):
    """Every reported corner must exceed 45 deg by the exact integer test,
    replayed in Python from the same hash coordinates."""
    import hashlib

    from osm_to_netex_spark.plans.queries import trajectory as TRAJECTORY

    got = {
        (int(r["user_id"]), int(r["event_id"])): (int(r["dot_q"]), int(r["a2"]), int(r["b2"]))
        for r in TRAJECTORY.q_turn_points(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()

    def pr(key):
        return int(hashlib.md5(key.encode()).hexdigest()[:15], 16) / float(1 << 60)

    tracks = defaultdict(list)
    for r in ev:
        eid = int(r["event_id"])
        lat = 59.4 + pr(f"tr:lat:{eid}") * 0.8
        lon = 9.6 + pr(f"tr:lon:{eid}") * 1.0
        x = math.floor(lon * 0.5225 * 1e4 + 0.5)
        y = math.floor(lat * 1e4 + 0.5)
        tracks[int(r["user_id"])].append((r["ts"], eid, x, y))
    want = {}
    for uid, pts in tracks.items():
        pts.sort(key=lambda t: (t[0], t[1]))
        for i in range(1, len(pts) - 1):
            ax, ay = pts[i][2] - pts[i - 1][2], pts[i][3] - pts[i - 1][3]
            bx, by = pts[i + 1][2] - pts[i][2], pts[i + 1][3] - pts[i][3]
            dot = ax * bx + ay * by
            a2, b2 = ax * ax + ay * ay, bx * bx + by * by
            if a2 > 0 and b2 > 0 and (dot < 0 or 2 * dot * dot < a2 * b2):
                want[(uid, pts[i][1])] = (dot, a2, b2)
    assert got == want and len(got) > 0


def test_return_gaps_vs_sessionize(spark):
    """n_sessions must agree with the gated sessionize query; gaps must be
    positive and bounded below by the 30-min break rule."""
    from osm_to_netex_spark.plans.queries import stats as STATS

    rg = {int(r["user_id"]): r for r in STATS.q_return_gaps(spark, SF).collect()}
    sess = STATS.q_events_sessionize(spark, SF).collect()
    n_sess = Counter(int(r["user_id"]) for r in sess)
    for uid, r in rg.items():
        assert int(r["n_sessions"]) == n_sess[uid]
        assert int(r["n_returns"]) == int(r["n_sessions"]) - 1
        if int(r["n_returns"]) > 0:
            assert int(r["min_gap_us"]) > 1800000000  # > 30 min by the rule
    assert set(rg) == set(n_sess)


def test_quantile_rank_uniform(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    rows = STATS.q_quantile_rank(spark, SF).collect()
    by_type = defaultdict(list)
    for r in rows:
        by_type[r["event_type"]].append(int(r["qrank_q9"]))
    for et, qs in by_type.items():
        qs.sort()
        assert qs[0] == 0 and qs[-1] == 1_000_000_000
        assert len(set(qs)) == len(qs)  # deterministic total order, no ties


def test_locate_along_endpoints_and_monotone(spark):
    """The located point must sit ON its segment (convex combination), the
    chainage targets must be ordered with f, and f=0.5 of a 2-point ring
    degenerates to the midpoint."""
    from osm_to_netex_spark.plans.queries import spatial as SPATIAL

    rows = SPATIAL.q_locate_along(spark, SF).collect()
    assert len(rows) == 30  # 10 zones x 3 fractions
    polys = {r["zone_id"]: list(r["pos_list"]) for r in spark.table("geo_polys").collect()}
    by_zone = defaultdict(dict)
    for r in rows:
        by_zone[r["zone_id"]][float(r["f"])] = r
    for zid, d in by_zone.items():
        assert set(d) == {0.25, 0.5, 0.75}
        t25, t50, t75 = (int(d[f]["target_mm"]) for f in (0.25, 0.5, 0.75))
        assert t25 <= t50 <= t75
        for f, r in d.items():
            i = int(r["seg_idx"])
            pl = polys[zid]
            ay, ax = pl[2 * i - 2], pl[2 * i - 1]
            by_, bx = pl[2 * i], pl[2 * i + 1]
            lat, lon = float(r["lat"]), float(r["lon"])
            assert min(ay, by_) - 1e-9 <= lat <= max(ay, by_) + 1e-9
            assert min(ax, bx) - 1e-9 <= lon <= max(ax, bx) + 1e-9


def test_g_function_vs_brute_python(spark):
    from osm_to_netex_spark.plans.queries import spatial as SPATIAL

    got = {float(r["r_m"]): (int(r["n_points"]), int(r["n_within"])) for r in SPATIAL.q_g_function(spark, SF).collect()}
    pts = [(int(r["point_id"]), float(r["lat"]), float(r["lon"])) for r in spark.table("geo_points").collect()]

    def hav(a, b):
        R = 6371008.8
        p1, p2 = math.radians(a[1]), math.radians(b[1])
        dp, dl = p2 - p1, math.radians(b[2] - a[2])
        h = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        return 2 * R * math.asin(math.sqrt(h))

    nn = {}
    for i, a in enumerate(pts):
        best = min(round(hav(a, b), 6) for j, b in enumerate(pts) if j != i)
        nn[a[0]] = math.floor(best * 1e6 + 0.5)
    for r, (n, w) in got.items():
        assert n == len(pts)
        assert w == sum(1 for v in nn.values() if v <= int(round(r * 1e6)))
    # G must be nondecreasing in r
    ws = [got[r][1] for r in sorted(got)]
    assert ws == sorted(ws)


def test_benford_digits_partition(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    rows = STATS.q_benford(spark, SF).collect()
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    want = Counter(
        str(math.floor(float(r["l_extendedprice"]) * 100 + 0.5))[0]
        for r in li
        if float(r["l_extendedprice"]) > 0.01
    )
    got = {r["first_digit"]: int(r["obs"]) for r in rows}
    assert got == dict(want)
    assert sum(got.values()) == sum(want.values())
    # Benford shape: digit 1 most common on real-ish price data
    assert got["1"] == max(got.values())


def test_sn_blocking_window_property(spark):
    from osm_to_netex_spark.plans.queries import text as TEXT

    rows = TEXT.q_sn_blocking(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    import re as _re

    keyed = sorted(
        ((_re.sub(r"[^a-z]", "", d["text"].lower())[:12], int(d["doc_id"])) for d in docs)
    )
    n = len(keyed)
    want = set()
    for i in range(n):
        for o in range(1, 4):
            if i + o < n:
                want.add((keyed[i][1], keyed[i + o][1], o))
    got = {(int(r["doc_a"]), int(r["doc_b"]), int(r["window_dist"])) for r in rows}
    assert got == want
    assert len(got) == 3 * n - 6


def test_haar_energy_python_replay(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    got = {
        int(r["user_id"]): (int(r["energy_l1"]), int(r["energy_l2"]), int(r["energy_l3"]), int(r["total_q3"]))
        for r in STATS.q_haar_energy(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[int(r["user_id"])].append(
            (int(r["ts"].timestamp() * 1e6), math.floor(float(r["value"]) * 1e3 + 0.5))
        )
    for uid, rows_ in by_user.items():
        mn = min(t for t, _ in rows_)
        mx = max(t for t, _ in rows_)
        s = [0] * 8
        for t, v in rows_:
            s[min(7, (t - mn) * 8 // (mx - mn + 1))] += v
        d1 = [s[0] - s[1], s[2] - s[3], s[4] - s[5], s[6] - s[7]]
        a1 = [s[0] + s[1], s[2] + s[3], s[4] + s[5], s[6] + s[7]]
        d2 = [a1[0] - a1[1], a1[2] - a1[3]]
        a2 = [a1[0] + a1[1], a1[2] + a1[3]]
        d3 = [a2[0] - a2[1]]
        want = (
            sum(x * x for x in d1),
            sum(x * x for x in d2),
            sum(x * x for x in d3),
            sum(s),
        )
        assert got[uid] == want


def test_modularity_python_replay(spark, docs):
    from osm_to_netex_spark.operators import graph
    from osm_to_netex_spark.plans.queries import graph as GRAPH

    got = {
        int(r["community"]): (
            int(r["n_nodes"]), int(r["intra_edges"]),
            int(r["degree_sum"]), int(r["m_edges"]), int(r["num_term"]),
        )
        for r in GRAPH.q_modularity(spark, SF).collect()
    }
    lbl = {
        int(r["doc_id"]): int(r["community"])
        for r in graph.label_propagation(spark, docs, n_rounds=3).collect()
    }
    adj = _und_edges(spark, docs)
    edges = {(min(a, b), max(a, b)) for a, ns in adj.items() for b in ns}
    m = len(edges)
    e_c, d_c, n_c = Counter(), Counter(), Counter()
    for v, c in lbl.items():
        n_c[c] += 1
        d_c[c] += len(adj.get(v, ()))
    for a, b in edges:
        if lbl[a] == lbl[b]:
            e_c[lbl[a]] += 1
    want = {
        c: (n_c[c], e_c[c], d_c[c], m, 4 * m * e_c[c] - d_c[c] ** 2)
        for c in n_c
    }
    assert got == want
    # global modularity from the integer numerators is a sane partition score
    q = sum(t[4] for t in want.values()) / (4.0 * m * m)
    assert -1.0 <= q <= 1.0


def test_containment_asymmetric_brute(spark):
    from osm_to_netex_spark.operators import simjoin
    from pyspark.sql import Row
    import re as _re

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa lam"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota"),  # 9/11 < 0.9
        (2, "alpha beta"),
        (3, "completely different vocabulary here entirely"),
    ]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])
    out = simjoin.containment_pairs(df, threshold_p=9, threshold_q=10)
    got = {(int(r["doc_a"]), int(r["doc_b"])): (int(r["inter"]), int(r["size_a"])) for r in out.collect()}
    from osm_to_netex_spark.operators.dedup import unpersist_intermediates
    unpersist_intermediates(out)
    sets = {i: set(_re.split(r"[^a-z0-9]+", t.lower())) - {""} for i, t in rows}
    want = {}
    for a in sets:
        for b in sets:
            if a != b:
                inter = len(sets[a] & sets[b])
                if 10 * inter >= 9 * len(sets[a]):
                    want[(a, b)] = (inter, len(sets[a]))
    assert got == want
    # asymmetry: doc1 ⊂ doc0 gives (1,0) but NOT (0,1) at 9/10
    assert (1, 0) in got and (0, 1) not in got
    assert (2, 0) in got  # tiny subset scores high containment


def test_zorder_ranges_cover_exactly(spark):
    """The merged ranges must partition each zone's morton key set exactly:
    total cells preserved, ranges disjoint, and keys inside a range are
    wall-to-wall consecutive."""
    from osm_to_netex_spark.plans.queries import spatial as SPATIAL
    from osm_to_netex_spark.functions import geo
    from osm_to_netex_spark.sources import layout

    ranges = defaultdict(list)
    for r in SPATIAL.q_zorder_ranges(spark, SF).collect():
        ranges[r["zone_id"]].append((int(r["z_lo"]), int(r["z_hi"]), int(r["n_cells"])))
    ix, iy = geo.quad_unpack("cell", 9, "spark")
    keys = defaultdict(set)
    for r in (
        spark.sql(
            "select zone_id, explode("
            + geo.quad_cover_bbox("pos_list", 9, "spark")
            + ") as cell from geo_polys"
        )
        .selectExpr("zone_id", layout.morton_key(f"({ix})", f"({iy})", "spark") + " as z")
        .collect()
    ):
        keys[r["zone_id"]].add(int(r["z"]))
    assert set(ranges) == set(keys)
    for zid, rs in ranges.items():
        rs.sort()
        covered = set()
        for lo, hi, n in rs:
            assert hi - lo + 1 == n  # wall-to-wall consecutive
            covered |= set(range(lo, hi + 1))
        assert covered == keys[zid]
        for (l1, h1, _), (l2, _, _) in zip(rs, rs[1:]):
            assert h1 + 1 < l2  # maximal merge: no adjacent ranges remain


def test_churn_labels_no_future_leakage(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    rows = STATS.q_churn_labels(spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[int(r["user_id"])].append(
            (int(r["ts"].timestamp() * 1e6), int(r["event_id"]))
        )
    got = {
        (int(r["user_id"]), int(r["event_id"])): (
            int(r["n_prior_7d"]), int(r["us_since_prev"]), bool(r["churned"])
        )
        for r in rows
    }
    H, FD = 14 * 86400000000, 7 * 86400000000
    for uid, pts in by_user.items():
        pts.sort()
        for i, (us, eid) in enumerate(pts):
            nxt = pts[i + 1][0] if i + 1 < len(pts) else None
            prev = pts[i - 1][0] if i > 0 else None
            n_prior = sum(1 for t, _ in pts if us - FD <= t <= us)
            want = (
                n_prior,
                us - prev if prev is not None else -1,
                nxt is None or nxt - us > H,
            )
            assert got[(uid, eid)] == want
    assert len(got) == len(ev)


def test_matryoshka_recall_degrades_with_truncation(spark):
    from osm_to_netex_spark.plans.queries import retrieval as RETRIEVAL

    rows = RETRIEVAL.q_matryoshka_recall(spark, SF).collect()
    by_dim = defaultdict(list)
    for r in rows:
        assert 0.0 <= float(r["recall"]) <= 1.0
        assert int(r["n_hit"]) <= int(r["n_full"]) == 5
        by_dim[int(r["trunc_dim"])].append(float(r["recall"]))
    assert set(by_dim) == {16, 32}
    # mean recall should not IMPROVE when truncating harder
    m16 = sum(by_dim[16]) / len(by_dim[16])
    m32 = sum(by_dim[32]) / len(by_dim[32])
    assert m16 <= m32 + 1e-9


def test_ndcg_python_replay(spark):
    from osm_to_netex_spark.plans.queries import retrieval as RETRIEVAL
    from osm_to_netex_spark.operators import retrieval

    r = RETRIEVAL.q_ndcg(spark, SF).collect()[0]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bm = retrieval.bm25_topk(docs, RETRIEVAL._BM25_TERMS, k=15).collect()
    texts = {int(d["doc_id"]): d["text"] for d in docs.collect()}
    import re as _re

    ranked = sorted(bm, key=lambda x: (-float(x["score"]), int(x["doc_id"])))
    rels = []
    for d in ranked:
        toks = [t for t in _re.split(r"[^a-z0-9]+", texts[int(d["doc_id"])].lower()) if t]
        rels.append(min(3, sum(1 for t in toks if t in RETRIEVAL._BM25_TERMS)))

    def dcg(rs):
        return sum(
            math.floor((2.0 ** rel - 1.0) / (math.log(i + 2) / math.log(2.0)) * 1e9 + 0.5)
            for i, rel in enumerate(rs)
        )

    assert int(r["dcg_q9"]) == dcg(rels)
    assert int(r["idcg_q9"]) == dcg(sorted(rels, reverse=True))
    assert 0.0 < float(r["ndcg"]) <= 1.0


def test_autocorr_python_replay(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    got = {
        (int(r["user_id"]), int(r["lag_h"])): (int(r["n"]), int(r["autocorr_q9"]))
        for r in STATS.q_autocorr(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    hourly = Counter()
    for r in ev:
        hourly[(int(r["user_id"]), int(r["ts"].timestamp() * 1e6) // 3600000000)] += 1
    for lag in (24, 48):
        per_user = defaultdict(list)
        for (uid, h), c in hourly.items():
            if (uid, h + lag) in hourly:
                per_user[uid].append((c, hourly[(uid, h + lag)]))
        for uid, pairs in per_user.items():
            n = len(pairs)
            sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
            sxy = sum(x * y for x, y in pairs)
            sxx = sum(x * x for x, _ in pairs); syy = sum(y * y for _, y in pairs)
            if n < 3 or n * sxx - sx * sx <= 0 or n * syy - sy * sy <= 0:
                assert (uid, lag) not in got
                continue
            den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
            r_ = math.floor((n * sxy - sx * sy) / den * 1e9 + 0.5)
            assert got[(uid, lag)] == (n, r_)


def test_logreg_calibration_consistency(spark):
    """Bins partition the corpus; positive rates and mean predictions are
    internally consistent with the gated logreg accuracy row."""
    from osm_to_netex_spark.plans.queries import stats as STATS

    bins = STATS.q_logreg_calibration(spark, SF).collect()
    total = sum(int(r["n"]) for r in bins)
    logreg = STATS.q_logreg(spark, SF).collect()[0]
    assert total == int(logreg["n"])
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n_pos = emb.where("label % 2 = 1").count()
    assert sum(int(r["n_pos"]) for r in bins) == n_pos
    for r in bins:
        assert 0 <= int(r["n_pos"]) <= int(r["n"])
        mean_pred = int(r["sum_pred_q9"]) / int(r["n"]) / 1e9
        assert 0.0 < mean_pred < 1.0
    assert len(bins) >= 3  # observed-range binning actually spreads


def test_weighted_median_python_replay(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    got = {
        r["l_returnflag"]: (int(r["wmedian_q2"]), int(r["total_weight"]))
        for r in STATS.q_weighted_median(spark, SF).collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    by_flag = defaultdict(Counter)
    for r in li:
        v = math.floor(float(r["l_extendedprice"]) * 100 + 0.5)
        w = math.floor(float(r["l_quantity"]) + 0.5)
        by_flag[r["l_returnflag"]][v] += w
    for flag, cnt in by_flag.items():
        tw = sum(cnt.values())
        cum = 0
        med = None
        for v in sorted(cnt):
            cum += cnt[v]
            if 2 * cum >= tw:
                med = v
                break
        assert got[flag] == (med, tw)
    assert set(got) == set(by_flag)


def test_theil_sen_python_replay(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    got = {
        int(r["user_id"]): (int(r["ts_slope_q6_per_h"]), int(r["n_slopes"]))
        for r in STATS.q_theil_sen(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[int(r["user_id"])].append(
            (int(r["ts"].timestamp() * 1e6), int(r["event_id"]),
             math.floor(float(r["value"]) * 1e6 + 0.5))
        )
    for uid, pts in by_user.items():
        slopes = Counter()
        for i, a in enumerate(pts):
            for b in pts:
                if (b[0] > a[0] or (b[0] == a[0] and b[1] > a[1])) and b[0] != a[0]:
                    slopes[math.floor((b[2] - a[2]) * 3600.0 / (b[0] - a[0]) + 0.5)] += 1
        tc = sum(slopes.values())
        cum, med = 0, None
        for s in sorted(slopes):
            cum += slopes[s]
            if 2 * cum >= tc:
                med = s
                break
        assert got[uid] == (med, tc)


def test_stump_python_replay(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    got = {
        int(r["feature_idx"]): (
            int(r["threshold_q6"]), int(r["ig_q9"]),
            int(r["n_left"]), int(r["n_right"]),
        )
        for r in STATS.q_stump(spark, SF).collect()
    }
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()

    def H(pos, n):
        if pos == 0 or pos == n:
            return 0.0
        p = pos / n
        return -p * math.log(p) - (1 - p) * math.log(1 - p)

    for j in (1, 2):
        data = sorted(
            (math.floor(float(e["embedding"][j - 1]) * 1e6 + 0.5), int(e["label"]) % 2)
            for e in emb
        )
        n = len(data)
        tp = sum(y for _, y in data)
        # distinct-value candidates with prefix counts
        best = None
        cum_n = cum_p = 0
        i = 0
        while i < n:
            v = data[i][0]
            while i < n and data[i][0] == v:
                cum_n += 1
                cum_p += data[i][1]
                i += 1
            if cum_n == n:
                break
            ig = (
                H(tp, n)
                - cum_n / n * H(cum_p, cum_n)
                - (n - cum_n) / n * H(tp - cum_p, n - cum_n)
            )
            igq = math.floor(ig * 1e9 + 0.5)
            cand = (igq, -v, cum_n)
            if best is None or cand > best:
                best = cand
        igq, negv, nl = best
        assert got[j] == (-negv, igq, nl, n - nl)


def test_kaplan_meier_python_replay(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    got = {
        int(r["dur_h"]): (int(r["d_events"]), int(r["n_risk"]), float(r["survival"]))
        for r in STATS.q_kaplan_meier(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    spans = defaultdict(lambda: [None, None])
    for r in ev:
        us = int(r["ts"].timestamp() * 1e6)
        s = spans[int(r["user_id"])]
        s[0] = us if s[0] is None else min(s[0], us)
        s[1] = us if s[1] is None else max(s[1], us)
    horizon = max(s[1] for s in spans.values())
    lif = [
        ((s[1] - s[0]) // 3600000000, s[1] < horizon - 12 * 3600000000)
        for s in spans.values()
    ]
    times = sorted({t for t, _ in lif})
    cum = 0
    surv = {}
    for t in times:
        n_risk = sum(1 for d, _ in lif if d >= t)
        d_ev = sum(1 for d, e in lif if d == t and e)
        if d_ev > 0:
            cum += math.floor(math.log(1.0 - d_ev / n_risk) * 1e9 + 0.5)
            surv[t] = (d_ev, n_risk, round(math.exp(cum / 1e9), 9))
    assert got == surv and len(got) > 0
    # survival is nonincreasing
    ss = [surv[t][2] for t in sorted(surv)]
    assert ss == sorted(ss, reverse=True)


def test_gini_python_replay(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    rows = STATS.q_gini(spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    cnt = Counter(int(r["user_id"]) for r in ev)
    xs = [c for _, c in sorted(cnt.items(), key=lambda t: (t[1], t[0]))]
    n, sx = len(xs), sum(xs)
    gini = (2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * sx) / (n * sx)
    assert len(rows) == n
    for r in rows:
        assert float(r["gini"]) == round(gini, 9)
    by_rank = sorted((int(r["rank"]), int(r["cum_events"])) for r in rows)
    cum = 0
    for (rk, ce), x in zip(by_rank, xs):
        cum += x
        assert ce == cum
    assert 0.0 <= gini < 1.0


def test_poisson_bootstrap_python_replay(spark):
    import hashlib

    from osm_to_netex_spark.plans.queries import stats as STATS

    got = {
        r["event_type"]: (
            int(r["n_reps"]), int(r["boot_min_q6"]),
            int(r["boot_max_q6"]), int(r["boot_mean_q6"]),
        )
        for r in STATS.q_poisson_bootstrap(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    THS = [424136118829305344, 848272237658610688, 1060340297073263360,
           1131029650211480960, 1148701988496035328]

    def w(eid, rep):
        h = int(hashlib.md5(f"boot:{eid}:{rep}".encode()).hexdigest()[:15], 16) % (1 << 60)
        for k, t in enumerate(THS):
            if h < t:
                return k
        return 5

    by_type = defaultdict(list)
    for r in ev:
        by_type[r["event_type"]].append(
            (int(r["event_id"]), math.floor(float(r["value"]) * 1e6 + 0.5))
        )
    for et, rows_ in by_type.items():
        means = []
        for rep in range(20):
            sxw = sum(w(eid, rep) * x for eid, x in rows_)
            sw = sum(w(eid, rep) for eid, _ in rows_)
            if sw > 0:
                means.append(math.floor(sxw / sw + 0.5))
        want = (
            len(means), min(means), max(means),
            math.floor(sum(means) / len(means) + 0.5),
        )
        assert got[et] == want
        # replicate spread brackets the plain mean
        plain = math.floor(sum(x for _, x in rows_) / len(rows_) + 0.5)
        assert want[1] <= plain <= want[2]


def test_stationary_python_replay(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    got = {
        r["event_type"]: int(r["stationary_q9"])
        for r in STATS.q_stationary(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[int(r["user_id"])].append((r["ts"], int(r["event_id"]), r["event_type"]))
    trans = Counter()
    for rows_ in by_user.values():
        rows_.sort()
        for a, b in zip(rows_, rows_[1:]):
            trans[(a[2], b[2])] += 1
    types = sorted({a for a, _ in trans} | {b for _, b in trans})
    k = len(types)
    tot = Counter()
    for (a, _), n in trans.items():
        tot[a] += n
    pi = {t: 10**9 // k + (10**9 % k if i == 0 else 0) for i, t in enumerate(types)}
    for _ in range(4):
        new = defaultdict(int)
        for (a, b), n in trans.items():
            new[b] += math.floor(pi[a] / 1e9 * (n / tot[a]) * 1e9 + 0.5)
        pi = dict(new)
    assert got == pi
    # distribution normalizes to ~1 (quantization drift only)
    assert abs(sum(got.values()) - 10**9) < 1000


def test_seasonal_python_replay(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    got = {
        (r["event_type"], int(r["hod"])): (int(r["n_events"]), int(r["seasonal_idx_q9"]))
        for r in STATS.q_seasonal(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    per = defaultdict(lambda: [0, set()])
    tot = defaultdict(lambda: [0, set()])
    for r in ev:
        et = r["event_type"]
        hod = r["ts"].hour
        day = r["ts"].date()
        per[(et, hod)][0] += 1
        per[(et, hod)][1].add(day)
        tot[et][0] += 1
        tot[et][1].add(day)
    for (et, hod), (n, days) in per.items():
        tn, tdays = tot[et]
        idx = math.floor(n / len(days) / (tn / (len(tdays) * 24)) * 1e9 + 0.5)
        assert got[(et, hod)] == (n, idx)
    assert len(got) == len(per)


def test_peaks_are_gated_local_maxima(spark):
    from osm_to_netex_spark.plans.queries import stats as STATS

    got = {(r["event_type"], int(r["hour"])) for r in STATS.q_peaks(spark, SF).collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    hourly = defaultdict(Counter)
    for r in ev:
        hourly[r["event_type"]][int(r["ts"].timestamp() * 1e6) // 3600000000] += 1

    def interp_p90(vals):
        s = sorted(vals)
        pos = (len(s) - 1) * 0.9
        lo, hi = s[int(pos)], s[min(int(pos) + 1, len(s) - 1)]
        return math.floor(lo + (pos - int(pos)) * (hi - lo) + 0.5)

    want = set()
    for et, cnt in hourly.items():
        hours = sorted(cnt)
        p90 = interp_p90(list(cnt.values()))
        for i in range(1, len(hours) - 1):
            h = hours[i]
            n = cnt[h]
            # the SQL neighbor is the previous/next ACTIVE hour (series row)
            if n > cnt[hours[i - 1]] and n > cnt[hours[i + 1]] and n >= p90:
                want.add((et, h))
    assert got == want and len(got) > 0


def test_cell_entropy_python_replay(spark):
    import hashlib

    from osm_to_netex_spark.plans.queries import corpus as CORPUS, spatial as SPATIAL

    got = {
        int(r["cell"]): (int(r["n_events"]), int(r["n_types"]), int(r["h_q9"]))
        for r in SPATIAL.q_cell_entropy(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    LAT_LO, LAT_HI, LON_LO, LON_HI = CORPUS.BBOX

    def pr(key):
        return int(hashlib.md5(key.encode()).hexdigest()[:15], 16) / float(1 << 60)

    n = 2**11
    mix = defaultdict(Counter)
    for r in ev:
        uid = int(r["user_id"])
        lat = LAT_LO + pr(f"pt:lat:{uid}") * (LAT_HI - LAT_LO)
        lon = LON_LO + pr(f"pt:lon:{uid}") * (LON_HI - LON_LO)
        cell = 11 * 2**58 + int((lat + 90.0) / 180.0 * n) * 2**29 + int((lon + 180.0) / 360.0 * n)
        mix[cell][r["event_type"]] += 1
    want = {}
    for cell, cnt in mix.items():
        tot = sum(cnt.values())
        h = sum(
            0 if c == tot else math.floor(-(c / tot) * math.log(c / tot) * 1e9 + 0.5)
            for c in cnt.values()
        )
        want[cell] = (tot, len(cnt), h)
    assert got == want and len(got) > 0
    # pure cells have zero entropy; mixed cells positive
    for cell, (_, k, h) in want.items():
        assert (h == 0) == (k == 1)


def test_skew_report_python_replay(spark):
    from osm_to_netex_spark.plans.queries import spatial as SPATIAL
    from osm_to_netex_spark.functions import geo

    r = SPATIAL.q_skew_report(spark, SF).collect()[0]
    cells = Counter(
        int(x["c"])
        for x in spark.sql(
            f"select {geo.quad_cell('lat', 'lon', 8, 'spark')} as c from geo_points"
        ).collect()
    )
    loads = sorted(cells.values())
    k, tot = len(loads), sum(loads)
    gini = (2 * sum((i + 1) * x for i, x in enumerate(loads)) - (k + 1) * tot) / (k * tot)
    assert int(r["n_cells"]) == k and int(r["n_points"]) == tot
    assert int(r["max_cell_load"]) == max(loads)
    assert float(r["top1_share"]) == round(max(loads) / tot, 9)
    assert float(r["top10_share"]) == round(sum(sorted(loads, reverse=True)[:10]) / tot, 9)
    assert float(r["load_gini"]) == round(gini, 9)


def test_lsh_band_stats_consistent_with_pairs(spark):
    """Banding stats must agree with the production LSH operator: verified
    count == the gated minhash_lsh_pairs row count at the same threshold,
    and candidates >= verified."""
    from osm_to_netex_spark.operators import dedup
    from osm_to_netex_spark.plans.queries import text as TEXT

    r = TEXT.q_lsh_band_stats(spark, SF).collect()[0]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, n_perm=16, bands=4, jaccard_threshold=0.4)
    n_pairs = pairs.count()
    dedup.unpersist_intermediates(pairs)
    assert int(r["n_verified"]) == n_pairs
    assert int(r["n_candidates"]) >= int(r["n_verified"]) > 0
    assert 0.0 < float(r["banding_precision"]) <= 1.0
    assert int(r["max_bucket"]) >= 1 and int(r["n_buckets"]) > 0


def test_ks_drift_python_replay(spark):
    from osm_to_netex_spark.plans.queries import text as TEXT

    got = {
        r["source"]: (int(r["n_source"]), int(r["n_corpus"]), int(r["ks_d_q9"]))
        for r in TEXT.q_ks_drift(spark, SF).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    vals = sorted({int(d["n_chars"]) for d in docs})
    N = len(docs)
    by_src = defaultdict(list)
    for d in docs:
        by_src[d["source"]].append(int(d["n_chars"]))
    for src, xs in by_src.items():
        n_s = len(xs)
        d_max = 0
        for v in vals:
            g = sum(1 for d in docs if int(d["n_chars"]) <= v)
            sc = sum(1 for x in xs if x <= v)
            d_max = max(d_max, math.floor(abs(sc / n_s - g / N) * 1e9 + 0.5))
        assert got[src] == (n_s, N, d_max)
    assert set(got) == set(by_src)


def test_cramers_v_python_replay(spark):
    import hashlib

    from osm_to_netex_spark.plans.queries import stats as STATS

    r = STATS.q_cramers_v(spark, SF).collect()[0]
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    cells = Counter()
    for e in ev:
        h = int(hashlib.md5(f"seg:{int(e['user_id'])}".encode()).hexdigest()[:15], 16)
        cells[(e["event_type"], (h % (1 << 60)) % 4)] += 1
    rows = Counter(); cols = Counter()
    for (et, sg), o in cells.items():
        rows[et] += o
        cols[sg] += o
    n = sum(cells.values())
    chi_q6 = 0
    for et in rows:
        for sg in cols:
            o = cells.get((et, sg), 0)
            e_ = rows[et] * cols[sg] / n
            chi_q6 += math.floor((o - e_) ** 2 / e_ * 1e6 + 0.5)
    v = math.sqrt(chi_q6 / 1e6 / (n * min(len(rows) - 1, len(cols) - 1)))
    assert int(r["chi2_q6"]) == chi_q6
    assert float(r["cramers_v"]) == round(v, 9)
    assert 0.0 <= v <= 1.0


def test_term_mi_python_replay(spark):
    import re as _re

    from osm_to_netex_spark.plans.queries import text as TEXT

    got = [(r["term"], int(r["mi_q9"])) for r in TEXT.q_term_mi(spark, SF).collect()]
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    nd = len(docs)
    pres = defaultdict(set)
    src_of = {}
    for d_ in docs:
        did = int(d_["doc_id"])
        src_of[did] = d_["source"]
        for t in set(x for x in _re.split(r"[^a-z0-9]+", d_["text"].lower()) if x):
            pres[t].add(did)
    vocab = sorted(pres.items(), key=lambda kv: (-len(kv[1]), kv[0]))[:30]
    ns = Counter(src_of.values())
    mi = {}
    for w, dset in vocab:
        rx = len(dset)
        total = 0
        for src, n_s in ns.items():
            o = sum(1 for did in dset if src_of[did] == src)
            for oo, rr in ((o, rx), (n_s - o, nd - rx)):
                if oo > 0:
                    total += math.floor(
                        oo / nd * math.log(oo * nd / (rr * n_s)) * 1e9 + 0.5
                    )
        mi[w] = total
    want = sorted(mi.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want
