"""OSM XML source + corpus determinism + media plumbing."""

import os

from pyspark.sql import functions as F

from osm_to_netex_spark.operators import extract, media
from osm_to_netex_spark.plans import netex
from osm_to_netex_spark.sources import documents as docs_src, osm_xml

# the reference smallosm.xml, as encoded by sources.documents.smallosm_document
SMALLOSM = os.path.join(os.path.dirname(__file__), "fixtures", "smallosm.xml")


def test_osm_xml_source_matches_document_encoding(spark):
    """The XML scan of smallosm.xml and the encoded smallosm document extract
    to identical relational rows (S1 parity across both ingest paths)."""
    xn = {r.node_id: (r.lat, r.lon, r.tags) for r in osm_xml.read_osm_nodes(spark, SMALLOSM).collect()}
    doc = docs_src.smallosm_document(spark)
    dn = {r.node_id: (r.lat, r.lon, r.tags) for r in extract.extract_nodes(doc).collect()}
    assert xn == dn
    xw = osm_xml.read_osm_ways(spark, SMALLOSM).collect()[0]
    dw = extract.extract_ways(doc).collect()[0]
    assert xw.way_id == dw.way_id and xw.nd_refs == dw.nd_refs and xw.tags == dw.tags


def test_xml_pipeline_end_to_end(spark):
    """Full conversion directly from OSM XML (the reference's EP2 input mode)."""
    from osm_to_netex_spark.operators import assemble, zones

    nodes, ways, rels = osm_xml.read_osm(spark, SMALLOSM)
    asm = assemble.assemble_poslist(ways, nodes, broadcast_nodes=True)
    z = zones.map_zones(asm, "TariffZone").collect()
    assert z[0].zone_id == "BRA:TariffZone:104"
    assert z[0].pos_list == [59.6714157, 10.2251785, 59.7304896, 10.0912439]


def test_corpus_deterministic(spark):
    a = docs_src.synthesize_corpus(spark, n_docs=80, n_zones=6, n_groups=2, n_points=20)
    b = docs_src.synthesize_corpus(spark, n_docs=80, n_zones=6, n_groups=2, n_points=20)
    sig = lambda df: sorted(
        (r.doc_id, r.span_sig) for r in __import__(
            "osm_to_netex_spark.operators.extract", fromlist=["span_signature"]
        ).span_signature(df).collect()
    )
    assert sig(a) == sig(b)
    # different seed → different corpus
    c = docs_src.synthesize_corpus(spark, n_docs=80, n_zones=6, n_groups=2, n_points=20, seed=7)
    assert sig(a) != sig(c)


def test_media_decode_plumbing(spark, corpus):
    refs = media.extract_media_refs(corpus)
    feats = media.decode_media(refs).cache()
    assert feats.count() == refs.count() > 0
    r = feats.first()
    assert r.format in {"stub_jpeg", "stub_png", "stub_webp"}
    assert len(r.features) == media.FEATURE_DIM
    # deterministic: same media_ref → same features across recomputation
    again = media.decode_media(refs)
    a = {r.media_ref: tuple(r.features) for r in feats.collect()}
    b = {r.media_ref: tuple(r.features) for r in again.collect()}
    assert a == b


def test_media_real_decode_falls_back_to_stub_for_non_pnm(spark, corpus):
    """Corpus payloads are synthetic 'blob:*' bytes (not PNM), so the real
    path must yield exactly the labeled stub's output; PNM payloads decode
    for real (tests/test_media_real_decode.py)."""
    refs = media.extract_media_refs(corpus).limit(3)
    real = sorted(tuple(r) for r in media.decode_media(refs, real_decode=True).collect())
    stub = sorted(tuple(r) for r in media.decode_media(refs).collect())
    assert real == stub and len(real) > 0


def test_frame_sample(spark, corpus):
    refs = media.extract_media_refs(corpus)
    feats = media.decode_media(refs)
    fs = media.frame_sample(feats, every_n=2).collect()
    assert all(r.frame_idx % 2 == 0 for r in fs)


def test_audit_attributes_round_trip(spark, tmp_path):
    """OSM audit attributes (user/uid/visible/version/changeset/timestamp,
    Node.java:71-101) survive both ingest paths — the reference carries but
    never consumes them (SURVEY P1); the engine must not drop them."""
    xml = tmp_path / "audited.osm"
    xml.write_text(
        """<?xml version='1.0' encoding='UTF-8'?>
<osm version='0.6' generator='test'>
  <bounds minlat='59' minlon='10' maxlat='60' maxlon='11'/>
  <node id='1' lat='59.5' lon='10.5' user='alice' uid='42' visible='true'
        version='3' changeset='777' timestamp='2021-03-04T05:06:07'>
    <tag k='codespace' v='BRA'/>
  </node>
  <node id='2' lat='59.6' lon='10.6' user='bob' uid='43' visible='false'
        version='1' changeset='778' timestamp='2020-01-02T03:04:05'/>
  <way id='9' user='carol' uid='44' version='2' changeset='779'
       timestamp='2022-01-01T00:00:00'>
    <nd ref='1'/><nd ref='2'/>
    <tag k='area' v='tariffZone'/>
  </way>
</osm>"""
    )
    nodes = {r.node_id: r for r in osm_xml.read_osm_nodes(spark, str(xml)).collect()}
    a1 = nodes[1].audit
    assert (a1.user, a1.uid, a1.visible, a1.version, a1.changeset) == (
        "alice", 42, True, 3, 777
    )
    assert str(a1.timestamp) == "2021-03-04 05:06:07"
    assert nodes[2].audit.visible is False
    way = osm_xml.read_osm_ways(spark, str(xml)).collect()[0]
    assert way.audit.user == "carol" and way.audit.changeset == 779

    # document-span path: audit object in the JSON payload
    doc = spark.sql(
        """select 'd1' as doc_id, array(named_struct(
             'kind', 'osm_node',
             'text', '{"id": 5, "lat": 1.0, "lon": 2.0, "tags": {},
                       "audit": {"user": "dave", "uid": 7, "visible": true,
                                 "version": 9, "changeset": 11,
                                 "timestamp": "2023-05-06T07:08:09"}}',
             'media_ref', cast(null as string), 'offset', 0)) as spans"""
    )
    n = extract.extract_nodes(doc).collect()[0]
    assert n.audit.user == "dave" and n.audit.uid == 7 and n.audit.version == 9
    assert str(n.audit.timestamp) == "2023-05-06 07:08:09"
    # absent audit stays null (the synthetic corpus does not emit it)
    corpus = docs_src.synthesize_corpus(spark, n_docs=40, n_zones=4, n_groups=1, n_points=10)
    assert extract.extract_nodes(corpus).where("audit is not null").count() == 0
