"""Real media decode path: the pure-NumPy PNM decoder runs end to end inside
the mapInPandas batch (real_decode=True) against COMMITTED fixture files, is
byte-exact vs an independent pure-Python replay, falls back to the labeled
stub for non-PNM payloads, and shares one phash quantizer with the SQL path.
Decode and resize are deterministic across partitionings, and resize
matches a NumPy reference.
"""

import hashlib
import struct

import numpy as np
import pyspark.sql.functions as F

from osm_to_netex_spark.operators import media
from osm_to_netex_spark.sources import documents as docs_src

P6 = "tests/fixtures/sample_p6.ppm"
P5 = "tests/fixtures/sample_p5.pgm"


def _read(path):
    with open(path, "rb") as fh:
        return fh.read()


def _py_split(n, parts):
    """np.array_split block sizes, replayed in pure Python."""
    base, extra = divmod(n, parts)
    sizes = [base + 1] * extra + [base] * (parts - extra)
    out, pos = [], 0
    for s in sizes:
        out.append(range(pos, pos + s))
        pos += s
    return out


def _py_reference(payload):
    """Independent pure-Python PNM decode + 4x4 block-mean features."""
    # header: magic, then 3 ints ignoring comments
    magic = payload[:2].decode()
    pos, fields = 2, []
    while len(fields) < 3:
        while payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1
    w, h, maxval = fields
    n_ch = 3 if magic == "P6" else 1
    px = payload[pos : pos + w * h * n_ch]
    lum = [
        [
            sum(px[(y * w + x) * n_ch + c] for c in range(n_ch)) / (n_ch * maxval)
            for x in range(w)
        ]
        for y in range(h)
    ]
    feats = []
    rb, cb = _py_split(h, 4), _py_split(w, 4)
    for rows in rb:
        for cols in cb:
            vals = [lum[y][x] for y in rows for x in cols]
            feats.append(np.float32(sum(vals) / len(vals)))
    return magic, w, h, feats


def test_pnm_decode_byte_exact(spark):
    rows = [("d1", "img_p6", bytearray(_read(P6))), ("d2", "img_p5", bytearray(_read(P5)))]
    df = spark.createDataFrame(rows, "doc_id string, media_ref string, payload binary")
    got = {
        r["media_ref"]: r
        for r in media.decode_media(df, real_decode=True).collect()
    }
    for path, ref, fmt in ((P6, "img_p6", "ppm"), (P5, "img_p5", "pgm")):
        magic, w, h, feats = _py_reference(_read(path))
        r = got[ref]
        assert r["format"] == fmt
        assert (r["width"], r["height"], r["n_frames"]) == (w, h, 1)
        # byte-exact float32 comparison
        for a, b in zip(r["features"], feats):
            assert struct.pack("<f", a) == struct.pack("<f", b)


def test_real_decode_falls_back_to_stub_for_non_pnm(spark):
    payload = b"blob:some_ref"
    df = spark.createDataFrame(
        [("d1", "some_ref", bytearray(payload))],
        "doc_id string, media_ref string, payload binary",
    )
    real = media.decode_media(df, real_decode=True).collect()[0]
    stub = media.decode_media(df, real_decode=False).collect()[0]
    assert tuple(real) == tuple(stub)
    # and the stub is the sha-keyed fake, not a PNM decode
    h = hashlib.sha256(payload).digest()
    assert real["format"] == ["stub_jpeg", "stub_png", "stub_webp"][h[0] % 3]


def test_phash_from_features_shared_across_paths(spark, corpus):
    # stub path: the Python quantizer equals the integer-exact SQL phash
    feats = media.decode_media(media.extract_media_refs(corpus))
    py = {
        r["media_ref"]: media.phash_from_features(r["features"])
        for r in feats.distinct().collect()
    }
    sql = {r["media_ref"]: r["phash"] for r in media.media_phash(corpus).collect()}
    assert py == sql and len(py) > 0
    # real path: same quantizer over the real-decoded fixture features
    df = spark.createDataFrame(
        [("d1", "img_p6", bytearray(_read(P6)))],
        "doc_id string, media_ref string, payload binary",
    )
    r = media.decode_media(df, real_decode=True).collect()[0]
    _, _, _, ref_feats = _py_reference(_read(P6))
    assert media.phash_from_features(r["features"]) == media.phash_from_features(
        ref_feats
    )


def test_media_pipeline_deterministic_across_partitionings(spark):
    corpus = docs_src.synthesize_corpus(
        spark, n_docs=200, n_zones=8, n_groups=2, n_points=60
    )
    refs = media.extract_media_refs(corpus)
    f1 = media.decode_media(refs.repartition(2)).collect()
    f2 = media.decode_media(refs.repartition(13)).collect()
    key = lambda r: (r.doc_id, r.media_ref)  # noqa: E731
    assert sorted(map(key, f1)) == sorted(map(key, f2))
    d1 = {key(r): (r.format, r.width, r.height, r.n_frames, list(r.features)) for r in f1}
    d2 = {key(r): (r.format, r.width, r.height, r.n_frames, list(r.features)) for r in f2}
    assert d1 == d2
    assert all(len(v[4]) == media.FEATURE_DIM for v in d1.values())


def test_media_real_decode_falls_back_to_stub_for_non_pnm(spark):
    corpus = docs_src.synthesize_corpus(spark, n_docs=50, n_zones=4, n_groups=2, n_points=20)
    refs = media.extract_media_refs(corpus).limit(3)
    real = sorted(tuple(r) for r in media.decode_media(refs, real_decode=True).collect())
    stub = sorted(tuple(r) for r in media.decode_media(refs).collect())
    assert real == stub and len(real) > 0


def test_resize_media_matches_numpy_reference(spark):
    import hashlib

    import numpy as np

    from osm_to_netex_spark.operators import media

    from osm_to_netex_spark.plans.convert_queries import FIXTURE_CORPUS

    corpus = spark.read.parquet(FIXTURE_CORPUS).limit(40)
    feats = media.decode_media(media.extract_media_refs(corpus))
    resized = media.resize_media(feats, target_w=128, target_h=96)
    rows = {r.media_ref: r for r in resized.collect()}
    assert rows and all(r.width == 128 and r.height == 96 for r in rows.values())
    # reference: re-derive one row end-to-end from the payload hash
    ref, row = next(iter(rows.items()))
    h = hashlib.sha256(f"blob:{ref}".encode()).digest()
    base = (
        np.frombuffer(h[: media.FEATURE_DIM * 2], dtype=np.uint16).astype(np.float32)
        / np.float32(65535.0)
    )
    expect = np.interp(
        np.linspace(0.0, 1.0, num=media.FEATURE_DIM),
        np.linspace(0.0, 1.0, num=len(base)),
        base.astype(np.float64),
    ).astype(np.float32)
    assert np.array_equal(np.asarray(row.features, dtype=np.float32), expect)


def test_resize_partition_invariant(spark):
    from osm_to_netex_spark.operators import media
    from osm_to_netex_spark.plans.convert_queries import FIXTURE_CORPUS

    corpus = spark.read.parquet(FIXTURE_CORPUS).limit(60)
    feats = media.decode_media(media.extract_media_refs(corpus))
    a = {(r.media_ref, tuple(r.features)) for r in media.resize_media(feats).collect()}
    b = {(r.media_ref, tuple(r.features))
         for r in media.resize_media(feats.repartition(7)).collect()}
    assert a == b and len(a) > 0
