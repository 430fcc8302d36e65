"""BM25 retrieval: semantics pinned against a pure-Python reference
implementation (independent of both Spark and the DuckDB oracle)."""

import math

import pytest

from osm_to_netex_spark.operators import retrieval
from tests.support import SF


def _py_bm25(corpus, terms, k1=1.2, b=0.75):
    """Reference BM25 over {doc_id: text}, tokens = [a-z0-9]+ runs."""
    import re

    toks = {d: re.findall(r"[a-z0-9]+", t.lower()) for d, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for d, tk in toks.items():
        s = 0.0
        for t in sorted(terms):
            tf = tk.count(t)
            if tf == 0 or df[t] == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(tk) / avgdl))
        if s > 0:
            out[d] = round(s, 6)
    return out


def test_bm25_matches_pure_python(spark):
    corpus = {
        1: "spark join join window",
        2: "the quick spark fox",
        3: "window window window spark join",
        4: "nothing relevant here at all",
        5: "join",
    }
    terms = ["spark", "join", "window"]
    df = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    got = {r.doc_id: r.score for r in retrieval.bm25_topk(df, terms, k=10).collect()}
    expect = _py_bm25(corpus, terms)
    assert set(got) == set(expect)
    for d in expect:
        assert got[d] == pytest.approx(expect[d], abs=2e-6)


def test_bm25_topk_is_take_ordered_not_global_sort(spark):
    """The global top-k must compile to TakeOrderedAndProject (per-partition
    top-k + driver merge), not a full sort shuffle."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = retrieval.bm25_topk(docs, ["spark", "join"], k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bm25_ranks_term_rich_docs_first(spark):
    rows = [(1, "spark spark spark"), (2, "spark one two three four five"), (3, "zebra")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = retrieval.bm25_topk(df, ["spark"], k=3).collect()
    assert [r.doc_id for r in out] == [1, 2]
