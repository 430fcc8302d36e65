"""Dedup / similarity / textstats over planted fixtures and testdata."""

import math

import pytest
from pyspark.sql import functions as F

from osm_to_netex_spark.operators import dedup, similarity, textstats
from tests.support import BITS, SEEDS, SF, SF0_01, SF0_1, THRESHOLD, phash60


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_finds_planted_duplicates(spark, docs):
    planted = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with_dupes = docs.unionByName(planted)
    groups = dedup.exact_dedup(with_dupes).where("n_dupes > 1")
    rows = groups.collect()
    assert len(rows) == 5
    for r in rows:
        assert r.survivor_id < 1_000_000  # min-id survivor


def test_exact_dedup_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "  HELLO\tWORLD "), (4, "other")],
        "doc_id long, text string",
    )
    g = dedup.exact_dedup(df).where("n_dupes > 1").collect()
    assert len(g) == 1 and g[0].n_dupes == 3 and g[0].survivor_id == 1


def test_minhash_finds_planted_near_duplicates(spark, docs):
    base = docs.limit(8)
    # near-dup: append one word (high jaccard for long docs)
    noisy = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"),
    )
    both = base.select("doc_id", "text").unionByName(noisy)
    pairs = dedup.minhash_lsh_pairs(both, n_perm=16, bands=8, jaccard_threshold=0.5)
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    planted = {(r.doc_id, r.doc_id + 1_000_000) for r in base.collect()}
    assert planted <= found


def test_simhash_identical_docs_cluster(spark, docs):
    dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    clusters = dedup.simhash_clusters(docs.unionByName(dup))
    members = {tuple(r.member_ids) for r in clusters.collect()}
    for r in docs.limit(3).collect():
        assert any(r.doc_id in m and r.doc_id + 1_000_000 in m for m in members)


def test_ngram_jaccard_symmetric_bounded(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs.limit(60), threshold=0.2).collect()
    for r in pairs:
        assert 0.2 <= r.jaccard <= 1.0
        assert r.doc_a < r.doc_b


def test_ngram_jaccard_exact_boundary_pairs(spark):
    """t·n integral with float round-up (0.4·5 → 2.0000000000000004): the
    epsilon-guarded prefix bound must keep exact-boundary pairs that a bare
    ceil silently drops.  Verified against the brute-force definition."""
    docs = []
    # docs of 3..9 word-3-shingles with controlled overlaps around J = 0.4
    vocab = [f"w{i}" for i in range(40)]
    for i in range(12):
        # shingle sets share a sliding window with the next doc
        words = vocab[i * 2: i * 2 + 8]
        docs.append((i, " ".join(words), "x"))
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    t = 0.4
    fast = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(df, n_shingle=3, threshold=t).collect()
    }

    # brute force oracle in python
    import itertools

    def shingles(text):
        w = text.split()
        return {tuple(w[j: j + 3]) for j in range(len(w) - 2)}

    sets = {i: shingles(t_) for i, t_, _ in docs}
    brute = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and round(inter / union, 6) >= t:
            brute.add((a, b, round(inter / union, 6)))
    assert fast == brute and brute  # nonempty and exactly equal


def test_unpersist_intermediates_releases_cache(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs.limit(40), n_perm=16, bands=4,
                                    jaccard_threshold=0.3)
    pairs.count()
    assert dedup.unpersist_intermediates(pairs) == 1
    pairs2 = dedup.ngram_jaccard_pairs(docs.limit(40), threshold=0.2)
    pairs2.count()
    assert dedup.unpersist_intermediates(pairs2) == 2
    # idempotent-ish: a frame without handles releases nothing
    assert dedup.unpersist_intermediates(docs) == 0


def test_auto_n_bits_bounds_buckets(spark):
    """n_bits=None derives the bucket width from the corpus size; the
    realized max bucket stays within a small factor of the target."""
    assert dedup.auto_n_bits(1000, target_bucket_size=1000) == 4  # floor
    assert dedup.auto_n_bits(10**6, target_bucket_size=1000) == 10
    assert dedup.auto_n_bits(10**12, target_bucket_size=1000) == 30  # cap

    emb = spark.read.parquet(f"{SF0_1}/embeddings.parquet")
    n = emb.count()
    target = 64
    bits = dedup.auto_n_bits(n, target_bucket_size=target)
    pairs = dedup.embedding_near_dup(emb, dim=64, n_bits=None,
                                     cos_threshold=0.35,
                                     target_bucket_size=target)
    pairs.count()
    dedup.unpersist_intermediates(pairs)
    buckets = (
        emb.selectExpr(f"{dedup.hyperplane_bits('embedding', bits, 64, 'spark')} as b")
        .groupBy("b").count().agg(F.max("count")).first()[0]
    )
    # sign-bit LSH buckets are not uniform for correlated data; assert the
    # bound that matters — no bucket degenerates toward the full corpus
    assert buckets <= 8 * target
    assert buckets < n / 2


def test_embedding_near_dup_finds_planted(spark, emb):
    dim = len(emb.first().embedding)
    planted = emb.limit(4).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(planted)
    pairs = dedup.embedding_near_dup(both, dim=dim, n_bits=8, cos_threshold=0.999)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    expect = {(r.vec_id, r.vec_id + 1_000_000) for r in emb.limit(4).collect()}
    assert expect <= found


def test_topk_brute_excludes_self_and_ranks(spark, emb):
    tk = similarity.topk_cosine_brute(emb.limit(3), emb, k=4)
    rows = tk.collect()
    assert all(r.query_id != r.vec_id for r in rows)
    by_q = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rn)):
        by_q.setdefault(r.query_id, []).append(r.cos)
    for coss in by_q.values():
        assert coss == sorted(coss, reverse=True)
        assert len(coss) == 4


def test_ivf_recall_reasonable(spark, emb):
    q = emb.limit(8)
    brute = {(r.query_id, r.vec_id) for r in similarity.topk_cosine_brute(q, emb, k=5).collect()}
    ivf = {
        (r.query_id, r.vec_id)
        for r in similarity.topk_cosine_ivf(q, emb, k=5, n_centroids=8, n_probe=4).collect()
    }
    assert len(brute & ivf) / len(brute) >= 0.6  # ANN: recall<1 by design


def test_textstats_shapes(spark, docs):
    ts = textstats.text_stats(docs.limit(50)).collect()
    for r in ts:
        assert r.lang_pred in {"en", "no", "de", "fr", "und"}
        assert 0.0 <= r.quality <= 1.0
        assert r.n_tokens_re >= 0 and r.n_tokens_ws >= 0
        assert r.fingerprint >= 0


def test_fingerprint_stable_under_partitioning(spark, docs):
    a = {r.doc_id: r.fingerprint for r in textstats.text_stats(docs).collect()}
    b = {
        r.doc_id: r.fingerprint
        for r in textstats.text_stats(docs.repartition(13)).collect()
    }
    assert a == b


def test_connected_components_known_graph(spark):
    """Hand-built graph: two chains + a triangle + an isolated pair."""
    pairs = spark.createDataFrame(
        [
            ("d", "b"), ("b", "c"), ("c", "a"),      # chain → component a
            ("x", "y"), ("y", "z"), ("x", "z"),      # triangle → component x
            ("q", "p"),                               # pair → component p
        ],
        ["doc_a", "doc_b"],
    )
    got = {
        (r["doc_id"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
        ("x", "x"), ("y", "x"), ("z", "x"),
        ("p", "p"), ("q", "p"),
    }


def test_connected_components_long_path(spark):
    """A 64-node path — worst case for round count; must converge and label
    every node with the path minimum."""
    n = 64
    ids = [f"v{i:03d}" for i in range(n)]
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    rows = dedup.connected_components(pairs).collect()
    assert len(rows) == n
    assert {r["component"] for r in rows} == {"v000"}


def test_connected_components_partition_invariant(spark):
    pairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d")], ["doc_a", "doc_b"]
    )
    one = dedup.connected_components(pairs.coalesce(1)).collect()
    many = dedup.connected_components(pairs.repartition(7)).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, many))


def test_stratified_split_deterministic(spark, docs):
    from osm_to_netex_spark.operators import sampling

    a = sampling.assign_split(docs).select("doc_id", "split")
    b = sampling.assign_split(docs.repartition(13)).select("doc_id", "split")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    frac = dict(
        a.groupBy("split").count().collect()
    )
    # weights are honored within binomial noise on the fixture corpus
    total = sum(v for v in frac.values())
    assert frac.get("train", 0) / total > 0.8


def test_stratified_sample_subset_and_deterministic(spark, docs):
    from osm_to_netex_spark.operators import sampling

    banded = docs.withColumn(
        "band", F.expr("CASE WHEN length(text) < 400 THEN 'short' ELSE 'long' END")
    )
    s1 = sampling.stratified_sample(banded, "band", {"short": 0.5, "long": 0.1})
    s2 = sampling.stratified_sample(banded.repartition(9), "band", {"short": 0.5, "long": 0.1})
    assert s1.exceptAll(s2).count() == 0 and s2.exceptAll(s1).count() == 0
    assert s1.count() < banded.count()
    # unlisted strata default to dropped
    s3 = sampling.stratified_sample(banded, "band", {"short": 0.5})
    assert s3.where(F.col("band") == "long").count() == 0


# --- weighted reservoir sampling -------------------------------------------
def test_weighted_sample_partition_invariant_and_biased(spark):
    from osm_to_netex_spark.operators import sampling

    docs = spark.read.parquet(f"{SF0_01}/documents.parquet")
    a = {
        (r["doc_id"], r["lang"], r["rank"])
        for r in sampling.weighted_sample(docs, 20, stratum_col="lang").collect()
    }
    b = {
        (r["doc_id"], r["lang"], r["rank"])
        for r in sampling.weighted_sample(
            docs.repartition(17, "doc_id"), 20, stratum_col="lang"
        ).collect()
    }
    assert a == b and len(a) > 0
    # selection probability ~ n_chars: the sampled docs should be longer on
    # average than the corpus at large
    sampled_ids = [x[0] for x in a]
    import pyspark.sql.functions as F

    corpus_avg = docs.agg(F.avg("n_chars")).first()[0]
    samp_avg = (
        docs.where(F.col("doc_id").isin(sampled_ids)).agg(F.avg("n_chars")).first()[0]
    )
    assert samp_avg > corpus_avg


def test_weighted_sample_global_topk_plan(spark):
    """No stratum -> global top-k must plan as TakeOrderedAndProject (never a
    full sort of the corpus)."""
    from osm_to_netex_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = sampling.weighted_sample(docs, 10)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert "TakeOrderedAndProject" in buf.getvalue()
    assert df.count() == 10


# --- bloom filter -----------------------------------------------------------
def test_bloom_no_false_negatives_and_bounded_fp(spark):
    from osm_to_netex_spark.operators import bloom

    keys = spark.range(0, 400).selectExpr("id * 7 as k")
    bits = bloom.bloom_build(keys, "k", m_bits=8192, k_hashes=3).cache()
    # n=400, m=8192, k=3 -> theoretical FP ~ (1-e^(-kn/m))^k ~ 0.2%
    probes = spark.range(0, 4000).selectExpr("id as k")
    out = bloom.bloom_probe(probes, bits, "k", m_bits=8192, k_hashes=3)
    rows = {r["k"]: r["might_contain"] for r in out.collect()}
    members = {i * 7 for i in range(400)}
    fp = 0
    for k, might in rows.items():
        if k in members and k < 4000:
            assert might, f"false negative at {k}"
        elif might and k not in members:
            fp += 1
    assert fp < 40  # ~1% slack over the ~0.2% expectation
    bits.unpersist()


def _plane(seed_tag: str, h: int, i: int) -> float:
    return phash60(f"pl{seed_tag}:{h}:{i}") / 2.0**60 - 0.5


def _bucket(vec, seed_tag: str) -> int:
    acc = 0
    for h in range(BITS):
        dot = 0.0
        for i, x in enumerate(vec, start=1):
            dot = dot + float(x) * _plane(seed_tag, h, i)
        if dot > 0.0:
            acc += 1 << h
    return acc


def _cos(a, b) -> float:
    dot = 0.0
    for x, y in zip(a, b):
        dot = dot + float(x) * float(y)
    na = math.sqrt(sum(float(x) * float(x) for x in a))
    nb = math.sqrt(sum(float(y) * float(y) for y in b))
    return dot / (na * nb)


def _round6(x: float) -> float:
    # Spark F.round = HALF_UP (away from zero), not Python's banker's round
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


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


def test_ngram_jaccard_finds_planted_near_dup(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "en"),
            (2, "alpha beta gamma delta epsilon eta", "en"),
            (3, "unrelated words entirely different text here", "en"),
            (4, "alpha beta gamma delta epsilon zeta", "no"),  # other block
        ],
        "doc_id long, text string, lang string",
    )
    pairs = dedup.ngram_jaccard_pairs(docs, n_shingle=3, threshold=0.3, prefilter_key="lang")
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(a != 4 and b != 4 for a, b in got)  # blocking respected
