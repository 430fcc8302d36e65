"""Driver-contract queries for the documents→NeTEx conversion pipeline,
fully oracle-gated.

Round 1 left the convert_* queries rows-only because the synthesized span
corpus wasn't SQL-visible.  Now both engines read the SAME committed parquet
fixture (tests/fixtures/convert_corpus.parquet, written once by
tools/make_convert_fixture.py), and the DuckDB oracle re-derives the whole
reference semantics — span explode → JSON payload parse → J2 ordered
reassembly → M2-M6 tag mapping → J3 relation grouping — independently in SQL.
Agreement on the value hash verifies extraction, assembly order, tag
semantics, id generation, the ValidBetween conditional, and group member
order end to end (OsmToNetexMapper.java:104-410,
OsmToNetexTransformer.java:86-150).

Array/map outputs are projected to scalar columns (posexplode rows /
delimiter joins) because the driver canonicalizer sorts output in pandas,
which cannot hash list/dict cells.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

FIXTURE_CORPUS = os.path.abspath(
    os.path.join(
        os.path.dirname(__file__), "..", "..", "tests", "fixtures",
        "convert_corpus.parquet",
    )
)


# ---------------------------------------------------------------------------
# DuckDB oracle building blocks
# ---------------------------------------------------------------------------
def _last_prefix(prefix: str, part: str = "value") -> str:
    """Last tag (document order) whose key startsWith(prefix) — mirrors
    zones._last_match_prefix (reference loop-overwrite semantics,
    OsmToNetexMapper.java:276-318)."""
    f = f"list_filter(map_entries(tags), e -> starts_with(e.key, '{prefix}'))"
    return f"list_extract({f}, len({f})).{part}"


def _eq(key: str) -> str:
    # DuckDB map extraction yields a 1-element list ([] when missing)
    return f"tags['{key}'][1]"


def corpus_ctes() -> str:
    """Shared WITH-clause text: fixture scan → spans → nodes/ways/relations →
    ordered J2 reassembly (the whole extract+assemble front end in SQL)."""
    return f"""
    spans as (
        select doc_id, unnest(spans) as span
        from read_parquet('{FIXTURE_CORPUS}')
    ),
    ways as (
        select cast(j->'$.id' as bigint) as way_id,
               cast(j->'$.nd_refs' as bigint[]) as nd_refs,
               cast(j->'$.tags' as map(varchar, varchar)) as tags
        from (select cast(span.text as json) as j from spans
              where span.kind = 'osm_way')
    ),
    nodes as (
        select cast(j->'$.id' as bigint) as node_id,
               cast(j->'$.lat' as double) as lat,
               cast(j->'$.lon' as double) as lon
        from (select cast(span.text as json) as j from spans
              where span.kind = 'osm_node')
    ),
    refs as (
        select w.way_id, t.i as pos, w.nd_refs[t.i] as ref
        from ways w, unnest(generate_series(1, len(w.nd_refs))) t(i)
    ),
    verts as (
        select r.way_id, r.pos, n.lat, n.lon
        from refs r join nodes n on n.node_id = r.ref
    ),
    asm as (
        select way_id, flatten(list([lat, lon] order by pos)) as pos_list
        from verts group by way_id
    )"""


def _strict_date(key: str) -> str:
    """Spark's try_to_date(v, 'yyyy-MM-dd'): exactly yyyy-MM-dd, else null.
    A bare try_cast also accepts '2024-1-5', padding and time suffixes."""
    v = _eq(key)
    iso = "'[0-9]{4}-[0-9]{2}-[0-9]{2}'"
    return f"try_cast(case when regexp_full_match({v}, {iso}) then {v} end as date)"


_VF = _strict_date("valid_from")
_VT = _strict_date("valid_to")
# M5 ValidBetween conditional (OsmToNetexMapper.java:221-227,320-326)
_VF_OUT = (
    f"case when {_VF} is not null and {_VT} is not null and {_VT} > {_VF} "
    f"then cast({_VF} as varchar) "
    f"when {_VF} is not null and {_VT} is null then cast({_VF} as varchar) end"
)
_VT_OUT = (
    f"case when {_VF} is not null and {_VT} is not null and {_VT} > {_VF} "
    f"then cast({_VT} as varchar) end"
)
_NAME = _last_prefix("name")
_NAME_LANG = f"regexp_extract({_last_prefix('name', 'key')}, '[^:]*$')"


# ---------------------------------------------------------------------------
# TariffZone conversion — attributes + exploded pos_list coordinates
# ---------------------------------------------------------------------------
def q_convert_tariffzone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full TariffZone conversion over the committed fixture corpus; one row
    per polygon coordinate so the driver hash covers J2 assembly order AND
    every M2/M4/M5 attribute."""
    from ..plans import netex

    corpus = spark.read.parquet(FIXTURE_CORPUS)
    z = netex.convert_documents(corpus, "TariffZone").zones
    return z.selectExpr(
        "zone_kind", "zone_id", "version", "name", "name_lang", "polygon_id",
        "element_at(key_list, 'zone_type') as zone_type",
        "cast(valid_from as string) as valid_from",
        "cast(valid_to as string) as valid_to",
        "posexplode(pos_list) as (pos_idx, coord)",
    )


def q_convert_tariffzone_oracle() -> str:
    return f"""with {corpus_ctes()},
        zones as (
            select way_id,
                   'TariffZone' as zone_kind,
                   concat({_eq('codespace')}, ':', 'TariffZone', ':',
                          {_last_prefix('reference')}) as zone_id,
                   '1' as version,
                   {_NAME} as name,
                   {_NAME_LANG} as name_lang,
                   concat('GEN-PolygonType', cast(way_id as varchar)) as polygon_id,
                   {_last_prefix('zone_type')} as zone_type,
                   {_VF_OUT} as valid_from,
                   {_VT_OUT} as valid_to
            from ways
        )
        select z.zone_kind, z.zone_id, z.version, z.name, z.name_lang,
               z.polygon_id, z.zone_type, z.valid_from, z.valid_to,
               t.i - 1 as pos_idx, a.pos_list[t.i] as coord
        from zones z
        join asm a using (way_id),
             unnest(generate_series(1, len(a.pos_list))) t(i)"""


# ---------------------------------------------------------------------------
# FareZone conversion — M3 tag surface, one row per zone
# ---------------------------------------------------------------------------
def q_convert_farezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FareZone zones path (M3: id verbatim, privateCode, authorityRef,
    enums, members/neighbours splits, tzMapping fallback —
    OsmToNetexMapper.java:120-239)."""
    from ..plans import netex

    corpus = spark.read.parquet(FIXTURE_CORPUS)
    z = netex.convert_documents(corpus, "FareZone").zones
    return z.selectExpr(
        "zone_id", "version", "name", "name_lang", "polygon_id",
        "private_code", "authority_ref", "scoping_method", "zone_topology",
        "element_at(key_list, 'tzMapping') as tz_mapping",
        "array_join(members, ';') as members",
        "array_join(neighbours, ';') as neighbours",
        "cast(valid_from as string) as valid_from",
        "cast(valid_to as string) as valid_to",
        "size(pos_list) as n_pos",
    )


def q_convert_farezone_oracle() -> str:
    # members/neighbours: the engine splits on ';' and we re-join with ';',
    # reproducing the raw tag value — the oracle compares the tag directly
    return f"""with {corpus_ctes()}
        select {_last_prefix('id')} as zone_id,
               '1' as version,
               {_NAME} as name,
               {_NAME_LANG} as name_lang,
               concat('GEN-PolygonType', cast(w.way_id as varchar)) as polygon_id,
               {_last_prefix('privateCode')} as private_code,
               {_last_prefix('authorityRef')} as authority_ref,
               {_last_prefix('scopingMethod')} as scoping_method,
               {_last_prefix('zoneTopology')} as zone_topology,
               coalesce({_last_prefix('tzMapping')},
                        concat({_eq('codespace')}, ':TariffZone:',
                               {_last_prefix('privateCode')})) as tz_mapping,
               {_last_prefix('members')} as members,
               {_last_prefix('neighbours')} as neighbours,
               {_VF_OUT} as valid_from,
               {_VT_OUT} as valid_to,
               cast(len(a.pos_list) as int) as n_pos
        from ways w join asm a using (way_id)"""


# ---------------------------------------------------------------------------
# FareZone groups — J3/M6/D2, member order preserved
# ---------------------------------------------------------------------------
def q_convert_farezone_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans import netex

    corpus = spark.read.parquet(FIXTURE_CORPUS)
    g = netex.convert_documents(corpus, "FareZone").groups
    return g.selectExpr(
        "group_id", "name", "name_lang", "private_code",
        "purpose_of_grouping_ref",
        # missing refs are NULL (outer-join semantics) — make them visible
        # to the delimiter join instead of silently dropped
        "array_join(transform(member_zone_refs, x -> coalesce(x, 'NULL')), ';')"
        " as member_zone_refs",
    )


def q_convert_farezone_groups_oracle() -> str:
    return f"""with {corpus_ctes()},
        relations as (
            select cast(j->'$.id' as bigint) as rel_id,
                   cast(j->'$.members'
                        as struct(type varchar, ref bigint, role varchar)[]) as members,
                   cast(j->'$.tags' as map(varchar, varchar)) as tags
            from (select cast(span.text as json) as j from spans
                  where span.kind = 'osm_relation')
        ),
        zones_by_way as (
            select way_id, {_last_prefix('id')} as zone_id from ways
        ),
        mrefs as (
            select r.rel_id, t.i as mpos, r.members[t.i].ref as ref
            from relations r,
                 unnest(generate_series(1, len(r.members))) t(i)
        ),
        agg as (
            select m.rel_id,
                   list(coalesce(z.zone_id, 'NULL') order by m.mpos) as zrefs
            from mrefs m left join zones_by_way z on z.way_id = m.ref
            group by m.rel_id
        )
        select {_eq('GroupOfTariffZoneId')} as group_id,
               {_NAME} as name,
               {_NAME_LANG} as name_lang,
               {_last_prefix('privateCode')} as private_code,
               {_last_prefix('PurposeOfGroupingRef')} as purpose_of_grouping_ref,
               array_to_string(a.zrefs, ';') as member_zone_refs
        from relations r join agg a using (rel_id)"""


# ---------------------------------------------------------------------------
# Document tile-assign + conversion metrics over the same fixture
# ---------------------------------------------------------------------------
def q_doc_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import extract, tiling

    corpus = spark.read.parquet(FIXTURE_CORPUS)
    nodes = extract.extract_nodes(corpus)
    return tiling.document_tile_assign(nodes, resolutions=(7, 8, 9)).selectExpr(
        "doc_id", "res",
        "array_join(h3_cells, ',') as h3_cells",
        "array_join(s2_cells, ',') as s2_cells",
    )


def q_doc_tile_assign_oracle() -> str:
    from ..functions import geo
    from ..functions.portable import DUCK

    parts = []
    for r in (7, 8, 9):
        parts.append(
            f"select doc_id, {r} as res, "
            f"{geo.hex_cell('lat', 'lon', r, DUCK)} as hc, "
            f"{geo.quad_cell('lat', 'lon', r, DUCK)} as qc from node_docs"
        )
    cells = " union all ".join(parts)
    return f"""with {corpus_ctes()},
        node_docs as (
            select doc_id,
                   cast(j->'$.lat' as double) as lat,
                   cast(j->'$.lon' as double) as lon
            from (select doc_id, cast(span.text as json) as j from spans
                  where span.kind = 'osm_node')
        ),
        cells as ({cells})
        select doc_id, res,
               array_to_string(list_sort(list_distinct(list(hc))), ',') as h3_cells,
               array_to_string(list_sort(list_distinct(list(qc))), ',') as s2_cells
        from cells group by doc_id, res"""


def q_conversion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans import netex

    corpus = spark.read.parquet(FIXTURE_CORPUS)
    return netex.conversion_metrics(corpus)


def q_conversion_metrics_oracle() -> str:
    return f"""with {corpus_ctes()}
        select count(*) filter (where span.kind = 'osm_node') as n_nodes,
               count(*) filter (where span.kind = 'osm_way') as n_ways,
               count(*) filter (where span.kind = 'osm_relation') as n_relations,
               count(*) filter (where span.kind = 'text') as n_text_spans,
               count(*) filter (where span.kind = 'media') as n_media_spans
        from spans"""


CONVERT_QUERIES = {
    "convert_tariffzone": (q_convert_tariffzone, q_convert_tariffzone_oracle),
    "convert_farezone": (q_convert_farezone, q_convert_farezone_oracle),
    "convert_farezone_groups": (
        q_convert_farezone_groups, q_convert_farezone_groups_oracle,
    ),
    "doc_tile_assign": (q_doc_tile_assign, q_doc_tile_assign_oracle),
    "conversion_metrics": (q_conversion_metrics, q_conversion_metrics_oracle),
}
