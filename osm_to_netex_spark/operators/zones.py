"""M1–M7 / V1 / D1 / D2 / J3 — tag→zone mapping and relation grouping.

Row-for-row reproduction of the reference's mapper semantics
(OsmToNetexMapper.java) as Catalyst projections over the assembled ways
(operators.assemble.assemble_poslist output):

* tag-key matching: ``equals`` for codespace/valid_from/valid_to/
  GroupOfTariffZoneId, ``startsWith`` for everything else, exactly per the
  if-else chain (OsmToNetexMapper.java:269-335, :144-222); repeated matches
  take the *last* tag in document order (loop overwrite semantics);
* the ``lang`` quirk: lang = substring after the last ':' of the key
  (extractLangFromNameTagKey :341-343), so a plain ``name`` key yields
  lang='name' — reproduced verbatim;
* ValidBetween conditional (:221-227, :320-326): both dates iff to>from,
  from-only iff to missing, else dropped; unparseable dates are ignored
  (try_to_date → null matches "log and skip"; plain to_date raises under
  ANSI mode);
* ids (M4): codespace:Class:reference for generic zones (:337-339),
  FareZone tag ``id`` verbatim (:238), polygon id "GEN-PolygonType"+wayId
  (:265), tzMapping fallback codespace:TariffZone:privateCode (:241-249);
* V1 required-tag validation accumulates all offenders then fails
  (:345-357);
* J3 relation grouping: every member ref looked up in the wayId→zoneId map
  with missing → null (outer-join semantics, OsmToNetexMapper.java:363-379),
  member order preserved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TARGETS = ("TariffZone", "FareZone", "TopographicPlace")  # D1 dispatch set
DEFAULT_VERSION = "1"

# Enum domains for the FareZone tag values the reference resolves through
# ZoneTopologyEnumeration.fromValue / ScopingMethodEnumeration.fromValue
# (OsmToNetexMapper.java:161,165-166) — fromValue THROWS on a value outside
# the enum, so strict mode must reject them too.  Values are the public NeTEx
# XSD enumerations (netex_zone / netex_fareZone version schemas).
ZONE_TOPOLOGY_VALUES = (
    "overlapping", "tiled", "overlappingAndNested", "nested",
    "sequential", "sequenceWithNesting", "annular", "other",
)
SCOPING_METHOD_VALUES = ("explicitStops", "implicitSpatialProjection", "other")


def _last_match_prefix(prefix: str) -> str:
    """Value of the last tag (document order) whose key startsWith(prefix)."""
    f = f"filter(map_entries(tags), e -> startswith(e.key, '{prefix}'))"
    return f"get({f}, size({f}) - 1).value"


def _last_key_prefix(prefix: str) -> str:
    f = f"filter(map_entries(tags), e -> startswith(e.key, '{prefix}'))"
    return f"get({f}, size({f}) - 1).key"


def _eq(key: str) -> str:
    return f"element_at(tags, '{key}')"


_VALID_FROM = f"try_to_date({_eq('valid_from')}, 'yyyy-MM-dd')"
_VALID_TO = f"try_to_date({_eq('valid_to')}, 'yyyy-MM-dd')"
# ValidBetween conditional (M5)
_VF_OUT = (
    f"CASE WHEN {_VALID_FROM} IS NOT NULL AND {_VALID_TO} IS NOT NULL "
    f"AND {_VALID_TO} > {_VALID_FROM} THEN {_VALID_FROM} "
    f"WHEN {_VALID_FROM} IS NOT NULL AND {_VALID_TO} IS NULL THEN {_VALID_FROM} "
    f"ELSE NULL END"
)
_VT_OUT = (
    f"CASE WHEN {_VALID_FROM} IS NOT NULL AND {_VALID_TO} IS NOT NULL "
    f"AND {_VALID_TO} > {_VALID_FROM} THEN {_VALID_TO} ELSE NULL END"
)

_NAME = _last_match_prefix("name")
_NAME_LANG = f"substring_index({_last_key_prefix('name')}, ':', -1)"


def validate_required(assembled: DataFrame, target_entity: str) -> DataFrame:
    """V1 — (way_id, missing_tag) rows for every required tag absent.

    Callers fail the job when nonempty, mirroring checkTagErrors
    (OsmToNetexMapper.java:351-357) which throws one exception carrying all
    suppressed errors.
    """
    if target_entity == "FareZone":
        required = {
            "codespace": _eq("codespace"),
            "id": _last_match_prefix("id"),
            "privateCode": _last_match_prefix("privateCode"),
        }
    else:
        required = {
            "codespace": _eq("codespace"),
            "reference": _last_match_prefix("reference"),
        }
    checks = None
    for tag, expr in required.items():
        miss = assembled.where(F.expr(expr).isNull()).select(
            "way_id", F.lit(tag).alias("missing_tag")
        )
        checks = miss if checks is None else checks.unionByName(miss)
    return checks


def validate_enums(assembled: DataFrame) -> DataFrame:
    """FareZone enum validation — (way_id, tag, bad_value) rows for every
    zoneTopology/scopingMethod value outside the NeTEx enumeration.

    The reference throws from ``fromValue`` (OsmToNetexMapper.java:161,165-166)
    on the first offender; here offenders are accumulated V1-style so one job
    reports them all.
    """
    checks = None
    for tag, allowed in (
        ("zoneTopology", ZONE_TOPOLOGY_VALUES),
        ("scopingMethod", SCOPING_METHOD_VALUES),
    ):
        val = _last_match_prefix(tag)
        in_set = ", ".join(f"'{v}'" for v in allowed)
        bad = assembled.where(
            F.expr(f"{val} IS NOT NULL AND NOT ({val} IN ({in_set}))")
        ).select("way_id", F.lit(tag).alias("tag"), F.expr(val).alias("bad_value"))
        checks = bad if checks is None else checks.unionByName(bad)
    return checks


def check_required(assembled: DataFrame, target_entity: str) -> None:
    offenders = validate_required(assembled, target_entity).limit(20).collect()
    if offenders:
        raise ValueError(f"Some required tags are missing: {offenders}")
    if target_entity == "FareZone":
        bad = validate_enums(assembled).limit(20).collect()
        if bad:
            raise ValueError(
                f"Invalid enum tag values (reference fromValue throws, "
                f"OsmToNetexMapper.java:161,165-166): {bad}"
            )


def map_zones(assembled: DataFrame, target_entity: str, strict: bool = True) -> DataFrame:
    """M1/M2/M3/M4/M5/M7 — assembled ways → ZONES rows (schemas.ZONES).

    assembled: output of assemble_poslist (way_id, tags, pos_list).
    """
    if target_entity not in TARGETS:
        # D1: reference resolves the class reflectively and requires a
        # Zone_VersionStructure subclass (OsmToNetexTransformer.java:172-179)
        raise ValueError(f"unknown target entity {target_entity!r}; must be one of {TARGETS}")
    if strict:
        check_required(assembled, target_entity)

    is_fare = target_entity == "FareZone"
    if is_fare:
        zone_id = _last_match_prefix("id")
        key_list = (
            f"map('tzMapping', coalesce({_last_match_prefix('tzMapping')}, "
            f"concat({_eq('codespace')}, ':TariffZone:', {_last_match_prefix('privateCode')})))"
        )
        private_code = _last_match_prefix("privateCode")
        authority_ref = _last_match_prefix("authorityRef")
        scoping = _last_match_prefix("scopingMethod")
        topology = _last_match_prefix("zoneTopology")
        members = f"CASE WHEN {_last_match_prefix('members')} IS NOT NULL THEN split({_last_match_prefix('members')}, ';') ELSE NULL END"
        neighbours = f"CASE WHEN {_last_match_prefix('neighbours')} IS NOT NULL THEN split({_last_match_prefix('neighbours')}, ';') ELSE NULL END"
    else:
        zone_id = f"concat({_eq('codespace')}, ':', '{target_entity}', ':', {_last_match_prefix('reference')})"
        zt_val = _last_match_prefix("zone_type")
        zt_key = _last_key_prefix("zone_type")
        key_list = f"CASE WHEN {zt_val} IS NOT NULL THEN map({zt_key}, {zt_val}) ELSE NULL END"
        private_code = "CAST(NULL AS STRING)"
        authority_ref = "CAST(NULL AS STRING)"
        scoping = "CAST(NULL AS STRING)"
        topology = "CAST(NULL AS STRING)"
        members = "CAST(NULL AS ARRAY<STRING>)"
        neighbours = "CAST(NULL AS ARRAY<STRING>)"

    return assembled.select(
        F.lit(target_entity).alias("zone_kind"),
        F.expr(zone_id).alias("zone_id"),
        F.lit(DEFAULT_VERSION).alias("version"),
        F.expr(_NAME).alias("name"),
        F.expr(f"CASE WHEN {_NAME} IS NOT NULL THEN {_NAME_LANG} ELSE NULL END").alias(
            "name_lang"
        ),
        F.expr("concat('GEN-PolygonType', way_id)").alias("polygon_id"),
        F.col("pos_list"),
        F.expr(key_list).alias("key_list"),
        F.expr(_VF_OUT).alias("valid_from"),
        F.expr(_VT_OUT).alias("valid_to"),
        F.expr(private_code).alias("private_code"),
        F.expr(authority_ref).alias("authority_ref"),
        F.expr(scoping).alias("scoping_method"),
        F.expr(topology).alias("zone_topology"),
        F.expr(members).alias("members"),
        F.expr(neighbours).alias("neighbours"),
        F.col("way_id"),
    )


def map_groups(relations: DataFrame, zones_by_way: DataFrame) -> DataFrame:
    """J3/M6 — relations → GroupOfTariffZones rows.

    zones_by_way: (way_id, zone_id) from the FareZone pass
    (OsmToNetexTransformer.java:136-142 builds this map).  Member refs not
    present resolve to NULL refs, preserved in order (left-join semantics of
    Map.get, OsmToNetexMapper.java:368-376).

    Scale: members are exploded with position, left-joined on way_id (zone set
    broadcast when small), and re-assembled with array_sort by position — the
    same order-preservation discipline as J2.
    """
    has_group_id = relations.where(F.col("tags").isNotNull())
    missing = has_group_id.where(F.expr(_eq("GroupOfTariffZoneId")).isNull()).limit(5).collect()
    if missing:
        raise ValueError(f"Missing tag or tag value: GroupOfTariffZoneId ({missing})")

    exploded = relations.select(
        "rel_id", "tags", F.posexplode("members").alias("mpos", "m")
    ).select("rel_id", "tags", "mpos", F.col("m.ref").alias("ref"))
    joined = exploded.join(
        F.broadcast(zones_by_way.select("way_id", "zone_id")),
        exploded.ref == F.col("way_id"),
        "left",
    )
    return (
        joined.groupBy("rel_id")
        .agg(
            F.first("tags").alias("tags"),
            F.array_sort(F.collect_list(F.struct("mpos", "zone_id"))).alias("refs"),
        )
        .select(
            F.expr(_eq("GroupOfTariffZoneId")).alias("group_id"),
            F.expr(_NAME).alias("name"),
            F.expr(f"CASE WHEN {_NAME} IS NOT NULL THEN {_NAME_LANG} ELSE NULL END").alias(
                "name_lang"
            ),
            F.expr(_last_match_prefix("privateCode")).alias("private_code"),
            F.expr(_last_match_prefix("PurposeOfGroupingRef")).alias(
                "purpose_of_grouping_ref"
            ),
            F.expr("transform(refs, r -> r.zone_id)").alias("member_zone_refs"),
        )
    )
