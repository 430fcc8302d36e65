"""Text-domain registry queries (plans/queries/text.py) vs exact Python
replays: leakage-safe splits, content-defined chunking, keyphrases,
novelty curves, language-ID confusion, BPE pairs and n-gram Jaccard
against its DuckDB oracle.

Oracle agreement (tools/verify_oracle.py) proves cross-engine consistency;
these replays prove the math on the sf0.001 corpus (LANDING.md step 5)."""

import hashlib
import re
from collections import defaultdict

import pyarrow.parquet as pq
import pytest

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import text as TEXT
from tests.support import SF, duck, phash60

pytestmark = pytest.mark.usefixtures("fresh_views")


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
            if phash60(text[i - w : i]) % mask == 0
        ]
        cuts = [0] + bnd + [len(text)]
        out = []
        for a, b in zip(cuts, cuts[1:]):
            if b - a > 0:
                out.append((b - a, phash60(text[a:b])))
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
    row = TEXT.QUERIES["cdc_chunks"][0](spark, SF).collect()[0]
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


def test_rake_matches_python_replay(spark):
    got = defaultdict(dict)
    for r in Q.QUERIES["rake_keyphrases"][0](spark, SF).collect():
        got[r["doc_id"]][r["rk"]] = (r["phrase"], r["score_q6"])
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    stop = set(TEXT._RAKE_STOP)
    want = defaultdict(dict)
    for doc in docs:
        toks = [t for t in re.split(r"[^a-z0-9]+", doc["text"].lower()) if t]
        phrases, cur = [], []
        for t in toks:
            if t in stop:
                if cur:
                    phrases.append(cur)
                cur = []
            else:
                cur.append(t)
        if cur:
            phrases.append(cur)
        freq, deg = defaultdict(int), defaultdict(int)
        for ph in phrases:
            for w in ph:
                freq[w] += 1
                deg[w] += len(ph)
        scored = [
            (" ".join(ph), sum(deg[w] * 1000000 // freq[w] for w in ph))
            for ph in phrases
        ]
        scored.sort(key=lambda x: (-x[1], x[0]))
        for rk, (ph, sc) in enumerate(scored[: TEXT._RAKE_TOPK], 1):
            want[doc["doc_id"]][rk] = (ph, sc)
    assert dict(got) == dict(want)


def test_novelty_curve_matches_python_replay(spark):
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_q6"])
        for r in Q.QUERIES["novelty_curve"][0](spark, SF).collect()
    }
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    per_doc = {}
    for doc in docs:
        toks = [t for t in re.split(r"[^a-z0-9]+", doc["text"].lower()) if t]
        k = TEXT._NV_SHINGLE
        per_doc[doc["doc_id"]] = {
            " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)
        }
    owner = {}
    for did in sorted(per_doc):
        for s in per_doc[did]:
            owner.setdefault(s, did)
    want = {}
    for did, shingles in per_doc.items():
        if not shingles:
            continue
        novel = sum(1 for s in shingles if owner[s] == did)
        want[did] = (
            len(shingles), novel, novel * 1000000 // len(shingles)
        )
    assert got == want
    # the curve is informative: later docs are on average less novel than
    # doc 0 (which owns everything it contains)
    first = min(want)
    assert want[first][1] == want[first][0]


def test_langid_confusion_matches_python_replay(spark):
    rows = Q.QUERIES["langid_confusion"][0](spark, SF).collect()
    got = {
        (r["true_lang"], r["pred_lang"]): (r["n"], r["n_true"])
        for r in rows
    }
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    from osm_to_netex_spark.operators.textstats import STOPWORDS

    conf = defaultdict(int)
    totals = defaultdict(int)
    for doc in docs:
        toks = doc["text"].lower().split()
        hits = {
            lang: sum(1 for t in toks if t in set(ws))
            for lang, ws in STOPWORDS.items()
        }
        best = max(hits.values())
        pred = (
            "und" if best == 0
            else sorted(l for l, h in hits.items() if h == best)[0]
        )
        conf[(doc["lang"], pred)] += 1
        totals[doc["lang"]] += 1
    want = {
        (t, p): (n, totals[t]) for (t, p), n in conf.items()
    }
    assert got == want


def test_ngram_jaccard_matches_duckdb_oracle(spark):
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in TEXT.q_ngram_jaccard(spark, SF).collect()
    }
    want = {tuple(r) for r in duck(SF, TEXT.q_ngram_jaccard_oracle())}
    assert got == want


def test_bpe_pairs_reference(spark):
    # pure-Python reference over the same corpus slice
    import duckdb as dk
    import collections

    docs = dk.sql(f"select text from '{SF}/documents.parquet'").fetchall()
    import re
    counts = collections.Counter()
    vocab = collections.Counter()
    for (t,) in docs:
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w:
                vocab[w] += 1
    for w, f in vocab.items():
        for i in range(len(w) - 1):
            counts[w[i:i+2]] += f
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    rows = TEXT.QUERIES["bpe_pairs"][0](spark, SF).collect()
    got = [(r.pair, r.pair_count) for r in rows]
    assert got == expect
