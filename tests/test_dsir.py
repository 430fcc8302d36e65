"""DSIR importance weights: exact pure-python replay, target-vs-off-target
ordering, empty docs, partition invariance."""

import math

from osm_to_netex_spark.operators import sampling
from tests.support import phash60

B = 64
Q = 1_000_000_000
ALPHA = 1.0

ROWS = [
    (1, "t", "alpha beta gamma alpha beta"),
    (2, "t", "beta gamma delta alpha gamma"),
    (3, "t", "gamma alpha beta delta beta"),
    (4, "r", "zork quux blarg zork quux"),
    (5, "r", "quux blarg mumble zork blarg"),
    (6, "x", "alpha beta gamma delta alpha"),   # target-like held-out
    (7, "x", "zork quux blarg mumble quux"),    # off-target held-out
    (8, "x", ""),                                # empty doc
]


def _feats(t):
    tok = [w for w in t.lower().split() if w]
    return tok + [" ".join(tok[i : i + 2]) for i in range(len(tok) - 1)]


def _bucket(g):  # functions.portable.phash60 % B
    return phash60(g) % B


def _python_reference():
    ct, cr = {}, {}
    for _d, s, t in ROWS:
        for g in _feats(t):
            b = _bucket(g)
            cr[b] = cr.get(b, 0) + 1
            if s == "t":
                ct[b] = ct.get(b, 0) + 1
    nt, nr = sum(ct.values()), sum(cr.values())

    def lr(b):
        lt = math.floor(math.log((ct.get(b, 0) + ALPHA) / (nt + ALPHA * B)) * Q)
        lo = math.floor(math.log((cr.get(b, 0) + ALPHA) / (nr + ALPHA * B)) * Q)
        return lt - lo

    out = {}
    for d, _s, t in ROWS:
        fs = _feats(t)
        out[d] = (len(fs), sum(lr(_bucket(g)) for g in fs))
    return out


def _docs(spark):
    return spark.createDataFrame(ROWS, ["doc_id", "src", "text"])


def test_dsir_matches_python_reference_exactly(spark):
    got = {
        r.doc_id: r
        for r in sampling.dsir_weights(
            _docs(spark), target_pred="src = 't'", n_buckets=B
        ).collect()
    }
    ref = _python_reference()
    for d, (nf, sc) in ref.items():
        assert (got[d].n_feats, got[d].score_q) == (nf, sc)
        if nf:
            assert got[d].avg_lr == round(sc / (nf * float(Q)), 9)
    # empty doc survives with zero features and a null average
    assert (got[8].n_feats, got[8].score_q, got[8].avg_lr) == (0, 0, None)
    # unigrams + bigrams of a 5-token doc = 9 occurrences
    assert got[1].n_feats == 9


def test_dsir_orders_target_like_above_off_target(spark):
    got = {
        r.doc_id: r
        for r in sampling.dsir_weights(
            _docs(spark), target_pred="src = 't'", n_buckets=B
        ).collect()
    }
    # the target-like held-out doc outranks the off-target one
    assert got[6].avg_lr > got[7].avg_lr
    # every target-vocabulary doc outranks every off-domain doc
    lo = min(got[i].avg_lr for i in (1, 2, 3, 6))
    hi = max(got[i].avg_lr for i in (4, 5, 7))
    assert lo > hi
    # off-domain docs are pulled firmly below zero
    assert all(got[i].score_q < 0 for i in (4, 5, 7))


def test_dsir_partition_invariant(spark):
    docs = _docs(spark)
    a = {tuple(r) for r in sampling.dsir_weights(docs, "src = 't'", B).collect()}
    b = {
        tuple(r)
        for r in sampling.dsir_weights(docs.repartition(7), "src = 't'", B).collect()
    }
    assert a == b and len(a) == 8
