"""Round-5 operators vs exact Python replays (LANDING.md step 5): the
seed-ensemble embedding near-dup and its recall eval.  Oracle agreement
(tools/verify_oracle.py) proves cross-engine consistency; these replays
prove the math on a small corpus."""

import hashlib
import math

import pytest

from pyspark.sql import functions as F

from osm_to_netex_spark.operators import dedup
from osm_to_netex_spark.plans.queries import (
    retrieval as RETRIEVAL,
    spatial as SPATIAL,
    stats as STATS,
    text as TEXT,
    trajectory as TRAJECTORY,
)

SF = "/root/testdata/sf0.001"

BITS = 4
SEEDS = 3
THRESHOLD = 0.35


def _phash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _plane(seed_tag: str, h: int, i: int) -> float:
    return _phash60(f"pl{seed_tag}:{h}:{i}") / 2.0**60 - 0.5


def _bucket(vec, seed_tag: str) -> int:
    acc = 0
    for h in range(BITS):
        dot = 0.0
        for i, x in enumerate(vec, start=1):
            dot = dot + float(x) * _plane(seed_tag, h, i)
        if dot > 0.0:
            acc += 1 << h
    return acc


def _round6(x: float) -> float:
    # Spark F.round = HALF_UP (away from zero), not Python's banker's round
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def _cos(a, b) -> float:
    dot = 0.0
    for x, y in zip(a, b):
        dot = dot + float(x) * float(y)
    na = math.sqrt(sum(float(x) * float(x) for x in a))
    nb = math.sqrt(sum(float(y) * float(y) for y in b))
    return dot / (na * nb)


def test_ensemble_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r["vec_id"]: list(r["embedding"]) for r in rows}
    # python replay: per-seed buckets, union candidates, exact verify
    want = set()
    for s in range(SEEDS):
        tag = dedup._seed_tag(s)
        buckets: dict[int, list[int]] = {}
        for vid, v in vecs.items():
            buckets.setdefault(_bucket(v, tag), []).append(vid)
        for members in buckets.values():
            members = sorted(members)
            for i, a in enumerate(members):
                for b in members[i + 1 :]:
                    if _round6(_cos(vecs[a], vecs[b])) >= THRESHOLD:
                        want.add((a, b))

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = dedup.embedding_near_dup_ensemble(
        emb, dim=64, n_bits=BITS, n_seeds=SEEDS, cos_threshold=THRESHOLD
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    dedup.unpersist_intermediates(out)
    assert got == want

    # seed 0 IS the single-seed operator's plane set → ensemble ⊇ single
    single = dedup.embedding_near_dup(emb, dim=64, n_bits=BITS, cos_threshold=THRESHOLD)
    sgl = {(r["id_a"], r["id_b"]) for r in single.collect()}
    dedup.unpersist_intermediates(single)
    assert sgl <= got


def test_recall_row_invariants(spark):
    row = RETRIEVAL.q_embed_recall(spark, SF).collect()[0]
    assert row["n_exact"] >= row["n_hit_ensemble"] >= row["n_hit_single"] >= 0
    assert 0.0 <= row["recall_single"] <= row["recall_ensemble"] <= 1.0
    # verified candidates are a subset of the exact pair set, so within
    # the sample universe the hit counts ARE the finders' pair counts
    # (no false positives anywhere)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ens = dedup.embedding_near_dup_ensemble(
        emb, dim=64, n_bits=BITS, n_seeds=SEEDS, cos_threshold=THRESHOLD
    )
    n_ens = ens.where(
        (F.col("id_a") % RETRIEVAL._RECALL_MOD == 0) & (F.col("id_b") % RETRIEVAL._RECALL_MOD == 0)
    ).count()
    dedup.unpersist_intermediates(ens)
    assert n_ens == row["n_hit_ensemble"]


def test_rbo_matches_python_replay(spark):
    """RBO math replayed in Python from the engine's own (already gated)
    rankings: truncated RBO@k = (1-p) Σ_{d=1..k} p^(d-1) X_d / d with X_d =
    |A_1..d ∩ B_1..d|, quantized per DEPTH term like the SQL."""
    from osm_to_netex_spark.operators import retrieval
    from osm_to_netex_spark.plans.queries import corpus as CORPUS

    CORPUS.register_geometry_views(spark, SF)
    bm = retrieval.bm25_topk(spark.table("documents"), RETRIEVAL._BM25_TERMS, k=RETRIEVAL._RBO_K)
    a_ranked = [
        r["doc_id"]
        for r in sorted(bm.collect(), key=lambda r: (-r["score"], r["doc_id"]))
    ]
    tf_r = spark.sql(RETRIEVAL._tf_topk_sql("spark"))
    b_by_rank = {r["rb"]: r["doc_id"] for r in tf_r.collect()}
    b_ranked = [b_by_rank[d] for d in sorted(b_by_rank)]

    p, k = RETRIEVAL._RBO_P, RETRIEVAL._RBO_K
    want = 0
    for d in range(1, k + 1):
        x_d = len(set(a_ranked[:d]) & set(b_ranked[:d]))
        want += x_d * int(math.floor((1.0 - p) * p ** (d - 1) / d * 1e12 + 0.5))

    row = RETRIEVAL.q_rbo_eval(spark, SF).collect()[0]
    assert row["rbo_q12"] == want
    assert row["n_a"] == len(a_ranked) and row["n_b"] == len(b_ranked)
    assert row["n_overlap"] == len(set(a_ranked) & set(b_ranked))
    # bounded: rbo in [0, 1] up to truncation
    assert 0 <= row["rbo_q12"] <= 10**12


def test_leakage_safe_split_invariants(spark):
    """(1) every near-dup component shares one split; (2) singleton docs
    hash exactly as corpus_split's per-doc assignment; (3) all docs
    covered exactly once."""
    from collections import defaultdict

    from osm_to_netex_spark.operators import sampling

    rows = TEXT.q_leakage_safe_split(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(rows) == n_docs
    by_group = defaultdict(set)
    for r in rows:
        by_group[r["group_key"]].add(r["split"])
    assert all(len(s) == 1 for s in by_group.values())
    # at least one real multi-doc group in the fixture corpus, else the
    # operator is vacuous here
    sizes = defaultdict(int)
    for r in rows:
        sizes[r["group_key"]] += 1
    assert max(sizes.values()) >= 2

    plain = {
        r["doc_id"]: r["split"]
        for r in sampling.assign_split(
            spark.read.parquet(f"{SF}/documents.parquet")
        ).select("doc_id", "split").collect()
    }
    for r in rows:
        if sizes[r["group_key"]] == 1 and r["group_key"] == r["doc_id"]:
            assert r["split"] == plain[r["doc_id"]]


def test_line_raster_matches_python_replay(spark):
    """Exact supercover replay: slab test per (segment, bbox cell) with the
    same IEEE divisions; also sanity — every emitted cell is in its
    segment's bbox cover and endpoints' cells are always emitted."""
    from collections import defaultdict

    from osm_to_netex_spark.plans.queries import corpus as CORPUS

    res = SPATIAL._LR_RES
    n = 2 ** res
    cw, ch = 360.0 / n, 180.0 / n

    def ixy(lat, lon):
        ix = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
        iy = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
        return ix, iy

    CORPUS.register_geometry_views(spark, SF)
    polys = spark.table("geo_polys").collect()
    per_cell = defaultdict(lambda: [0, set()])
    for r in polys:
        pl = list(r["pos_list"])
        pts = [(pl[2 * i], pl[2 * i + 1]) for i in range(len(pl) // 2)]
        for (ay, ax), (by_, bx) in zip(pts, pts[1:]):
            ixl, iyl = ixy(min(ay, by_), min(ax, bx))
            ixh, iyh = ixy(max(ay, by_), max(ax, bx))
            for cy in range(iyl, iyh + 1):
                for cx in range(ixl, ixh + 1):
                    x0, x1 = -180.0 + cx * cw, -180.0 + (cx + 1) * cw
                    y0, y1 = -90.0 + cy * ch, -90.0 + (cy + 1) * ch
                    if bx == ax:
                        hit = x0 <= ax <= x1
                    elif by_ == ay:
                        hit = y0 <= ay <= y1
                    else:
                        dx, dy = bx - ax, by_ - ay
                        t0 = max(min((x0 - ax) / dx, (x1 - ax) / dx),
                                 min((y0 - ay) / dy, (y1 - ay) / dy), 0.0)
                        t1 = min(max((x0 - ax) / dx, (x1 - ax) / dx),
                                 max((y0 - ay) / dy, (y1 - ay) / dy), 1.0)
                        hit = t0 <= t1
                    if hit:
                        key = res * (1 << 58) + cy * (1 << 29) + cx
                        per_cell[key][0] += 1
                        per_cell[key][1].add(r["zone_id"])
    got = {
        r["cell"]: (r["n_segs"], r["n_zones"])
        for r in SPATIAL.q_line_raster(spark, SF).collect()
    }
    want = {k: (v[0], len(v[1])) for k, v in per_cell.items()}
    assert got == want
    # endpoint cells always emitted (t=0 / t=1 inside the clamp)
    for r in polys:
        pl = list(r["pos_list"])
        ix, iy = ixy(pl[0], pl[1])
        assert res * (1 << 58) + iy * (1 << 29) + ix in got


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
        for r in STATS.q_attribution(spark, SF).collect()
    }
    assert got == want
    assert any(v[0] != "none" for v in got.values())


def _py_polyline(coords):
    out, prev = [], [0, 0]
    for la, lo in coords:
        for ax, v in enumerate((la, lo)):
            q = math.floor(v * 1e5 + 0.5)
            d = q - prev[ax]
            prev[ax] = q
            z = 2 * d if d >= 0 else -2 * d - 1
            while z >= 0x20:
                out.append(chr((z & 31 | 32) + 63))
                z >>= 5
            out.append(chr(z + 63))
    return "".join(out)


def test_polyline_encode_matches_canonical_algorithm(spark):
    """The query's strings equal the canonical Google polyline encoder run
    in Python on the same rings — including the algorithm's published
    worked example."""
    from osm_to_netex_spark.plans.queries import corpus as CORPUS

    assert _py_polyline([(38.5, -120.2), (40.7, -120.95), (43.252, -126.453)]) == (
        "_p~iF~ps|U_ulLnnqC_mqNvxq`@"
    )
    CORPUS.register_geometry_views(spark, SF)
    rings = {
        r["zone_id"]: list(r["pos_list"])
        for r in spark.table("geo_polys").collect()
    }
    got = {
        r["zone_id"]: (r["n_pts"], r["polyline"])
        for r in SPATIAL.q_polyline_encode(spark, SF).collect()
    }
    assert set(got) == set(rings)
    for zid, pl in rings.items():
        coords = [(pl[2 * i], pl[2 * i + 1]) for i in range(len(pl) // 2)]
        assert got[zid] == (len(coords), _py_polyline(coords))


def test_polyline_roundtrip_exact_inverse(spark):
    rows = SPATIAL.q_polyline_roundtrip(spark, SF).collect()
    assert rows and all(r["max_abs_err"] == 0 for r in rows)


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
        for r in STATS.q_kendall(spark, SF).collect()
    }
    assert set(got) == set(want)
    for s in want:
        assert got[s][:2] == want[s][:2]
        assert got[s][2] == pytest.approx(want[s][2], abs=1e-9)
        assert -1.0 <= got[s][2] <= 1.0


def test_match_quality_invariants(spark):
    """Diagnostics consistency vs the matched steps themselves: switch
    count replayed in Python from the map_match output, totals agree."""
    from collections import defaultdict


    mm = defaultdict(list)
    for r in TRAJECTORY.q_map_match(spark, SF).collect():
        mm[r["traj_id"]].append((r["step"], r["zone_id"], r["seg_idx"], r["emis_mm"]))
    want = {}
    for t, steps in mm.items():
        steps.sort()
        sw = sum(
            1
            for a, b in zip(steps, steps[1:])
            if (a[1], a[2]) != (b[1], b[2])
        )
        tot = sum(s[3] for s in steps)
        want[t] = (len(steps), tot, sw, round(tot / len(steps), 6))
    got = {
        r["traj_id"]: (r["n_steps"], r["total_emis_mm"], r["n_switches"],
                       r["mean_emis_mm"])
        for r in TRAJECTORY.q_match_quality(spark, SF).collect()
    }
    assert got == want


def _phash60_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_cdc_chunks_matches_python_replay_and_cdc_property(spark):
    """Full Python replay of the boundary rule + chunking on sf0.001, and
    the CDC property itself: inserting a char early in a doc re-chunks
    only the neighbourhood (suffix chunks unchanged), unlike fixed
    windows."""
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }

    def chunks_of(text):
        w, mask = TEXT._CDC_W, TEXT._CDC_MASK
        bnd = [
            i for i in range(w, len(text) + 1)
            if _phash60_py(text[i - w : i]) % mask == 0
        ]
        cuts = [0] + bnd + [len(text)]
        out = []
        for a, b in zip(cuts, cuts[1:]):
            if b - a > 0:
                out.append((b - a, _phash60_py(text[a:b])))
        return out

    all_chunks = [c for t in docs.values() for c in chunks_of(t)]
    from collections import defaultdict

    by_hash = defaultdict(set)
    for d, t in docs.items():
        for _ln, h in chunks_of(t):
            by_hash[h].add(d)
    want = (
        len(all_chunks),
        len({h for _, h in all_chunks}),
        sum(1 for v in by_hash.values() if len(v) > 1),
        round(sum(ln for ln, _ in all_chunks) / len(all_chunks), 6),
    )
    row = TEXT.q_cdc_chunks(spark, SF).collect()[0]
    assert (row["n_chunks"], row["n_distinct"], row["n_cross_doc"],
            row["mean_len"]) == want

    # CDC property: a 1-char insertion at position 5 leaves every chunk
    # after the first boundary+window untouched
    text = max(docs.values(), key=len)
    mutated = text[:5] + "X" + text[5:]
    tail = [h for _, h in chunks_of(text)][2:]
    tail_mut = [h for _, h in chunks_of(mutated)][-len(tail):] if tail else []
    assert tail == tail_mut


def test_cdc_pairs_finds_planted_shared_passage(spark):
    """Two synthetic docs sharing one long passage (different surroundings)
    must pair; unrelated docs must not."""
    import pyspark.sql.functions as F

    # non-repetitive passage: a periodic string can have zero boundary
    # windows; varied words guarantee ~len/64 boundaries in expectation
    passage = " ".join(
        hashlib.md5(f"w{i}".encode()).hexdigest()[:6] for i in range(120)
    )
    rows = [
        ("a", "AAA " * 30 + passage + " tail-a " * 10),
        ("b", "BBB " * 25 + passage + " tail-b " * 12),
        ("c", "totally unrelated content " * 30),
    ]
    spark.createDataFrame(rows, "doc_id string, text string").createOrReplaceTempView(
        "documents"
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in spark.sql(TEXT._cdc_pairs_sql("spark")).collect()
    }
    spark.catalog.dropTempView("documents")
    assert ("a", "b") in out and out[("a", "b")] >= 2
    assert all({p[0], p[1]} != {"a", "c"} and {p[0], p[1]} != {"b", "c"} for p in out)
