"""EP2/EP3 analogue — the full conversion pipeline, documents → zone tables.

Reference lifecycle (OsmToNetexTransformer.java:60-112): parse → node map →
branch by target entity → SiteFrame → marshal.  Engine lifecycle: documents
scan → extract → J2 assembly → D1 branch → zones (+ groups when FareZone and
relations exist, D2) → table sinks.  The SiteFrame/PublicationDelivery
envelope carries only nondeterministic metadata the reference's own golden
test ignores (OsmToNetexTransformerTest.java:21-23), so the engine represents
it as a driver-side metadata dict and renders XML only for fixture parity at
test scale.

Where the conversion materialises, and why: each strict check, catalog
commit and XML render is a Spark action, and on a lazy plan every action
re-executes the whole scan → ``from_json`` → J2 join → groupBy lineage (one
job run read its corpus ~16 times).  ``convert_extracted`` therefore
checkpoints each intermediate once, in executor storage, before anything
reads it: the extracted nodes, ways and relations; the assembled ways; the
mapped zones; the groups.  Each job is fixed cost too (planning, codegen,
task serialisation), so the strict checks ride those checkpoint passes as
observed offender counts instead of running their own actions: unresolved
refs on the assembly pass, required tags and enums on the zones pass (over
the assembled rows), the relation count and GroupOfTariffZoneId on the
relations pass.  Offender rows are collected only when a count is non-zero,
to build the same message; the checks fire in the lazy pipeline's order —
ref, duplicate node id (its own aggregation: a distinct-style aggregate
cannot be observed), tag, enum, group.  ``ConversionResult.release`` drops
the checkpoints; a caller that keeps its session running calls it when
done.
"""

from __future__ import annotations

import socket
import time
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, functions as F

from ..operators import assemble, extract, zones


@dataclass
class ConversionResult:
    zones: DataFrame
    groups: DataFrame | None
    # W1 envelope metadata (nondeterministic fields, excluded from parity)
    envelope: dict = field(default_factory=dict)
    # the materialised nodes, for callers that index them (the job's tile
    # index)
    nodes: DataFrame | None = None
    # checkpointed frames this result keeps in executor storage
    held: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Drop every checkpoint this result holds; its frames are unusable
        afterwards."""
        _release(self.held)


def _materialise(df: DataFrame, held: list[DataFrame]) -> DataFrame:
    """Compute df once into executor storage, cutting its lineage, so later
    actions read the stored rows instead of re-executing the plan."""
    ck = df.localCheckpoint(eager=True)
    held.append(ck)
    return ck


def _observe(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Observation]:
    """df with named aggregates observed on whichever pass computes it;
    read them from the Observation after that pass."""
    obs = Observation()
    return df.observe(obs, *[m.alias(k) for k, m in metrics.items()]), obs


def _lossy_count(obs: Observation, name: str) -> int | None:
    """A count observed below a shuffle, or None when the pass lost it: AQE
    drops a stage whose shuffle output is empty (no refs, or none resolved),
    and the stage's observed metrics with it.  The check then runs its
    offender query."""
    try:
        return obs.get[name]
    except Py4JJavaError:
        return None


def _release(held: list[DataFrame]) -> None:
    # a checkpointed frame's plan is the LogicalRDD over the stored RDD
    for df in held:
        df._jdf.queryExecution().logical().rdd().unpersist(True)
    held.clear()


def convert_documents(
    documents: DataFrame,
    target_entity: str,
    generated_from: str = "documents",
    strict: bool = True,
) -> ConversionResult:
    """documents → ZONES (+ GROUPS for FareZone with relations present)."""
    return convert_extracted(
        extract.extract_nodes(documents),
        extract.extract_ways(documents),
        extract.extract_relations(documents),
        target_entity,
        generated_from=generated_from,
        strict=strict,
    )


def convert_extracted(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    target_entity: str,
    generated_from: str = "documents",
    strict: bool = True,
) -> ConversionResult:
    """(nodes, ways, relations) → ZONES (+ GROUPS), each intermediate
    computed once and checked on the pass that computes it (module
    docstring).  The inputs come from documents (``convert_documents``) or
    from OSM XML (``sources.osm_xml.read_osm``).

    D2 branch (OsmToNetexTransformer.java:133-150): groups are emitted only on
    the FareZone path and only when relations exist (a count observed while
    the relations are checkpointed), so relations are materialised only for
    FareZone.  On any error the checkpoints taken so far are released.

    The J2 ref join always broadcasts the checkpointed nodes, and the
    envelope's ParticipantRef is always ``osm_to_netex_spark``.
    """
    held: list[DataFrame] = []
    try:
        nodes = _materialise(nodes, held)
        ways = _materialise(ways, held)
        is_fare = target_entity == "FareZone"
        if is_fare:
            group_check = zones.group_id_check()
            observed, rel_obs = _observe(relations, rows=F.count(F.lit(1)), bad=group_check.count())
            relations = _materialise(observed, held)

        ref_check = assemble.unresolved_refs()
        joined = assemble.join_refs(ways, nodes, broadcast_nodes=True)
        observed, ref_obs = _observe(joined, bad=ref_check.count())
        assembled = _materialise(assemble.pack_poslist(observed), held)
        if strict:
            ref_check.enforce(joined, _lossy_count(ref_obs, "bad"))
            assemble.check_unique_nodes(nodes)

        tag_checks = zones.tag_checks(target_entity)
        observed, tag_obs = _observe(
            assembled, **{f"bad{i}": c.count() for i, c in enumerate(tag_checks)}
        )
        zdf = _materialise(zones.map_zones(observed, target_entity, strict=False), held)
        if strict:
            for i, check in enumerate(tag_checks):
                check.enforce(assembled, tag_obs.get[f"bad{i}"])

        groups = None
        if is_fare and rel_obs.get["rows"] > 0:
            group_check.enforce(relations, rel_obs.get["bad"])
            groups = _materialise(
                zones.map_groups(relations, zdf.select("way_id", "zone_id")), held
            )
    except BaseException:
        _release(held)
        raise

    envelope = {
        "publication_timestamp": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "description": f"Generated from {generated_from} on {socket.gethostname()}",
        "participant_ref": "osm_to_netex_spark",
        "site_frame_id": f"OSM:SiteFrame:{int(time.time() * 1000)}",
        "version": zones.DEFAULT_VERSION,
    }
    return ConversionResult(
        zones=zdf.drop("way_id"), groups=groups, envelope=envelope, nodes=nodes, held=held
    )


def validate_zones_output(zones: DataFrame) -> DataFrame:
    """CHECK-style output validation — the Spark analogue of marshal-time
    NeTEx schema validation, which the reference always enables
    (NetexHelper.java:47-49,61-67).

    Every ZONES row must have a non-null zone_id and version, and a GML-valid
    exterior ring: even-length pos_list of ≥ 8 doubles (3 distinct vertices +
    closure) whose first (lat, lon) pair equals its last.  Returns
    (zone_id, violation) rows; empty ⇔ the output marshals cleanly.
    """
    checks = F.expr(
        """filter(array(
             CASE WHEN zone_id IS NULL THEN 'null_zone_id' END,
             CASE WHEN version IS NULL THEN 'null_version' END,
             CASE WHEN pos_list IS NULL OR size(pos_list) < 8
                  THEN 'pos_list_too_short' END,
             CASE WHEN pos_list IS NOT NULL AND size(pos_list) % 2 != 0
                  THEN 'pos_list_odd_length' END,
             CASE WHEN pos_list IS NOT NULL AND size(pos_list) >= 8
                       AND size(pos_list) % 2 = 0
                       AND (pos_list[0] != element_at(pos_list, -2)
                            OR pos_list[1] != element_at(pos_list, -1))
                  THEN 'ring_not_closed' END
           ), x -> x IS NOT NULL)"""
    )
    return zones.select("zone_id", F.explode(checks).alias("violation"))


def check_zones_output(zones: DataFrame) -> None:
    """Fail the job when the output would not validate — reference parity:
    marshalNetex validates unconditionally and throws (NetexHelper.java:61-67)."""
    offenders = validate_zones_output(zones).limit(20).collect()
    if offenders:
        raise ValueError(f"NeTEx output validation failed: {offenders}")


def conversion_metrics(documents: DataFrame) -> DataFrame:
    """A1 — count/log aggregation (OsmToNetexTransformer.java:69-70,100):
    per-kind span counts + doc count in ONE pass (single partial-aggregated
    job, not three .count() actions)."""
    return documents.select(
        F.explode_outer("spans").alias("span")
    ).agg(
        F.count(F.when(F.col("span.kind") == "osm_node", 1)).alias("n_nodes"),
        F.count(F.when(F.col("span.kind") == "osm_way", 1)).alias("n_ways"),
        F.count(F.when(F.col("span.kind") == "osm_relation", 1)).alias("n_relations"),
        F.count(F.when(F.col("span.kind") == "text", 1)).alias("n_text_spans"),
        F.count(F.when(F.col("span.kind") == "media", 1)).alias("n_media_spans"),
    )


def _text(v) -> str:
    return escape(str(v))


def _attr(v) -> str:
    return escape(str(v), {'"': "&quot;"})


def render_netex_xml(result: ConversionResult, max_rows: int | None = None) -> str:
    """Fixture-parity XML render (driver-side, test scale only).

    Mirrors the marshal layout (NetexHelper.java:61-78): PublicationDelivery →
    SiteFrame → tariffZones/topographicPlaces/fareZones (+ groupsOfTariffZones)
    with GML polygons whose posList is the flat lat-lon list in nd order.
    Doubles are rendered with Python repr (shortest round-trip), matching
    Java's Double.toString for fixture doubles (SURVEY §7 hard part b).

    Text and attribute values are XML-escaped, as JAXB marshals them.

    Every zone is rendered.  ``max_rows`` is a guard on the driver-side
    collect: more zones than that raise instead of being dropped.
    """
    if max_rows is None:
        rows = result.zones.collect()
    else:
        rows = result.zones.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise ValueError(
                f"more than max_rows={max_rows} zones; rendering them would drop zones"
            )
    kind = rows[0]["zone_kind"] if rows else "TariffZone"
    container = {
        "TariffZone": "tariffZones",
        "FareZone": "fareZones",
        "TopographicPlace": "topographicPlaces",
    }[kind]

    def fmt_d(x: float) -> str:
        r = repr(float(x))
        return r[:-2] if r.endswith(".0") else r

    parts = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>',
        '<PublicationDelivery xmlns="http://www.netex.org.uk/netex">',
        f'  <PublicationTimestamp>{_text(result.envelope["publication_timestamp"])}</PublicationTimestamp>',
        f'  <ParticipantRef>{_text(result.envelope["participant_ref"])}</ParticipantRef>',
        f'  <Description>{_text(result.envelope["description"])}</Description>',
        "  <dataObjects>",
        f'    <SiteFrame version="1" id="{_attr(result.envelope["site_frame_id"])}">',
        f"      <{container}>",
    ]
    for r in rows:
        parts.append(f'        <{kind} version="{_attr(r["version"])}" id="{_attr(r["zone_id"])}">')
        if r["name"] is not None:
            parts.append(f'          <Name lang="{_attr(r["name_lang"])}">{_text(r["name"])}</Name>')
        pos = " ".join(fmt_d(v) for v in r["pos_list"])
        parts += [
            "          <gml:Polygon xmlns:gml=\"http://www.opengis.net/gml/3.2\" "
            f'gml:id="{_attr(r["polygon_id"])}">',
            "            <gml:exterior><gml:LinearRing>",
            f'              <gml:posList>{pos}</gml:posList>',
            "            </gml:LinearRing></gml:exterior>",
            "          </gml:Polygon>",
            f"        </{kind}>",
        ]
    parts += [f"      </{container}>", "    </SiteFrame>", "  </dataObjects>", "</PublicationDelivery>"]
    return "\n".join(parts)
