"""The conversion computes each intermediate once (plans/netex.py): strict
errors still fire, in the reference's order, from the checkpoints; the job
releases what it checkpointed; outputs are those of the lazy pipeline; the
XML render never drops zones."""

import hashlib

import pytest
from pyspark.sql import functions as F

from osm_to_netex_spark.plans import job, netex
from osm_to_netex_spark.plans.convert_queries import FIXTURE_CORPUS
from osm_to_netex_spark.sources.catalog import SnapshotCatalog

_WAY = "struct<id:bigint,nd_refs:array<bigint>,tags:map<string,string>>"
_REL = (
    "struct<id:bigint,members:array<struct<type:string,ref:bigint,role:string>>,"
    "tags:map<string,string>>"
)


def _rewrite(kind: str, ddl: str, payload_sql: str):
    """Patch that re-encodes every `kind` span's JSON payload as payload_sql,
    an expression over the parsed payload `p`."""

    text = f"transform(array(from_json(s.text, '{ddl}')), p -> to_json({payload_sql}))[0]"

    def patch(corpus):
        return corpus.select(
            "doc_id",
            F.expr(
                f"""transform(spans, s -> CASE WHEN s.kind = '{kind}'
                     THEN named_struct('kind', s.kind, 'text', {text},
                                       'media_ref', s.media_ref, 'offset', s.offset)
                     ELSE s END)"""
            ).alias("spans"),
        )

    return patch


def _drop_tag(kind: str, ddl: str, prefix: str):
    members = "'members', p.members" if kind == "osm_relation" else "'nd_refs', p.nd_refs"
    return _rewrite(
        kind, ddl,
        f"named_struct('id', p.id, {members}, "
        f"'tags', map_filter(p.tags, (k, v) -> NOT startswith(k, '{prefix}')))",
    )


unresolved_ref = _rewrite(
    "osm_way", _WAY,
    "named_struct('id', p.id, 'nd_refs', concat(p.nd_refs, array(987654321987L)), 'tags', p.tags)",
)
missing_tag = _drop_tag("osm_way", _WAY, "privateCode")
no_group_id = _drop_tag("osm_relation", _REL, "GroupOfTariffZoneId")


def duplicate_node(corpus):
    return corpus.select(
        "doc_id", F.expr("concat(spans, filter(spans, s -> s.kind = 'osm_node'))").alias("spans")
    )


def _persisted(spark) -> set:
    """Ids of the RDDs held in executor storage.  Compared as sets: frames
    other tests left behind may be cleaned up meanwhile, which shrinks the
    count without any leak."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize(
    "patches, error",
    [
        ([unresolved_ref], "unresolved nd refs"),
        ([duplicate_node], "duplicate node ids"),
        ([missing_tag], "required tags are missing"),
        ([no_group_id], "GroupOfTariffZoneId"),
        # the first failing check wins, in the lazy pipeline's order
        ([missing_tag, unresolved_ref], "unresolved nd refs"),
        ([no_group_id, duplicate_node], "duplicate node ids"),
        ([no_group_id, missing_tag], "required tags are missing"),
    ],
    ids=["ref", "dup", "tag", "group", "tag+ref", "group+dup", "group+tag"],
)
def test_strict_errors_survive_materialisation(spark, patches, error):
    corpus = spark.read.parquet(FIXTURE_CORPUS)
    for patch in patches:
        corpus = patch(corpus)
    held = _persisted(spark)
    with pytest.raises(ValueError, match=error):
        netex.convert_documents(corpus, "FareZone", strict=True)
    assert _persisted(spark) <= held  # a failed conversion holds nothing


def test_render_never_drops_zones(spark):
    res = netex.convert_documents(spark.read.parquet(FIXTURE_CORPUS), "TariffZone")
    try:
        assert netex.render_netex_xml(res).count("<gml:Polygon ") == 32
        assert netex.render_netex_xml(res, max_rows=32).count("<gml:Polygon ") == 32
        with pytest.raises(ValueError, match="max_rows=31"):
            netex.render_netex_xml(res, max_rows=31)
    finally:
        res.release()


def _digest(df):
    rows = sorted(r[0] for r in df.drop("run_tag").select(F.to_json(F.struct("*"))).collect())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


# sorted rows of the committed tables, pinned from the lazy (re-executing)
# pipeline on the committed convert fixture
PINNED = {
    "zones": (32, "07a554dc7066355609c1ef01fc4d9875387e3aca312f814d8d9a1ec2ed893ccd"),
    "groups": (4, "6a7c720694842b7d29aef17f2f983c06492ed741bf3ac483e8527d86224874ef"),
    "tile_index": (546, "4dc61f27cd036e2ca14f3accfef68906488c6227696d04a11d9cbef90da5942b"),
}


def test_job_releases_checkpoints_and_output_is_stable(spark, tmp_path):
    held = _persisted(spark)
    xml = tmp_path / "out.xml"
    out = job.main(
        [
            "--input", FIXTURE_CORPUS,
            "--target", "FareZone",
            "--output", str(tmp_path / "wh"),
            "--xml-out", str(xml),
            "--cores", "4",
        ]
    )
    assert _persisted(spark) <= held
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    assert {t: _digest(cat.read(t)) for t in PINNED} == PINNED
    assert out["n_zones"] == 32
    assert xml.read_text().count("<gml:Polygon ") == 32
