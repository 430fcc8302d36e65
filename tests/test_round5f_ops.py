"""Round-5 batch F vs exact Python replays (LANDING.md step 5):
compaction planning, HBOS outliers, trigram path mining.
"""

import json
import math
from collections import defaultdict

import pyarrow.parquet as pq

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import stats as STATS, tpch as TPCH

SF = "/root/testdata/sf0.001"


def test_compaction_plan_matches_python_replay(spark):
    got = {
        (r["source"], r["bin_id"]): (
            r["n_files"], r["total_bytes"], r["first_file"], r["last_file"]
        )
        for r in Q.QUERIES["compaction_plan"][0](spark, SF).collect()
    }
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    by_src = defaultdict(list)
    for doc in docs:
        by_src[doc["source"]].append(doc)
    want = {}
    for src, rows in by_src.items():
        rows.sort(key=lambda x: x["doc_id"])
        cum = 0
        bins = defaultdict(list)
        for doc in rows:
            b = len(doc["text"])
            bins[cum // TPCH._CP_TARGET].append((doc["doc_id"], b))
            cum += b
        for bid, files in bins.items():
            want[(src, bid)] = (
                len(files),
                sum(b for _, b in files),
                min(f for f, _ in files),
                max(f for f, _ in files),
            )
    assert got == want
    # every output bin except a partition's last should reach the target
    for (src, bid), (_, tb, _, _) in want.items():
        if bid < max(b for (s2, b) in want if s2 == src):
            assert tb >= 1  # bins are contiguous, non-empty


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
