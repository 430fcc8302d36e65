"""documents → nodes/ways/relations extraction + span invariants.

The reference materializes the whole OSM object graph in memory
(reference: OsmUnmarshaller.java:68-75); here extraction is a Catalyst plan —
``posexplode(spans)`` → kind filter → ``from_json`` projection — that pushes
the kind filter into the generator and prunes all other spans before any
shuffle.  Works on a document table of any size; nothing touches the driver.
"""

from __future__ import annotations

import pyspark.sql.types as T
from pyspark.sql import DataFrame, functions as F

from .. import schemas


def _spans(documents: DataFrame, kind: str) -> DataFrame:
    return (
        documents.select(
            "doc_id", F.posexplode("spans").alias("span_pos", "span")
        )
        .where(F.col("span.kind") == kind)
        .select("doc_id", "span_pos", F.col("span.text").alias("payload"))
    )


def extract_nodes(documents: DataFrame) -> DataFrame:
    """nodes(node_id, lat, lon, tags, doc_id) from osm_node spans."""
    return (
        _spans(documents, "osm_node")
        .select("doc_id", F.from_json("payload", schemas.NODE_PAYLOAD).alias("n"))
        .select(
            F.col("n.id").alias("node_id"),
            F.col("n.lat").alias("lat"),
            F.col("n.lon").alias("lon"),
            F.col("n.tags").alias("tags"),
            F.col("n.audit").alias("audit"),
            "doc_id",
        )
    )


def _slim_node_schema(tag_fields: tuple[str, ...]) -> T.StructType:
    """The node payload as the slim extractors parse it: id, lat, lon and,
    when asked for, a FIXED set of tag keys as a struct, so the JSON reader
    skips every other key instead of materializing the tags map."""
    tags = [T.StructField(k, T.StringType()) for k in tag_fields]
    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("lat", T.DoubleType()),
            T.StructField("lon", T.DoubleType()),
        ]
        + ([T.StructField("tags", T.StructType(tags))] if tag_fields else [])
    )


def _slim_node_cols(tag_fields: tuple[str, ...]) -> list:
    """(node_id, lat, lon, <tag_fields…>) from the parsed struct ``n``;
    the ``id`` tag becomes ``tag_id`` (it collides with the node id)."""
    return [
        F.col("n.id").alias("node_id"),
        F.col("n.lat").alias("lat"),
        F.col("n.lon").alias("lon"),
    ] + [
        F.col(f"n.tags.{k}").alias("tag_id" if k == "id" else k) for k in tag_fields
    ]


def extract_node_coords(documents: DataFrame) -> DataFrame:
    """nodes(node_id, lat, lon) only — for consumers that never touch tags
    (the J2 assembly join side).  Parsing the tags map for corpus-sized node
    tables costs ~2x the coordinate parse; the optimizer's JSON-schema
    pruning does not reliably drop map-typed fields, so the slim schema is
    explicit."""
    return extract_nodes_slim(documents)


def extract_nodes_slim(documents: DataFrame, tag_fields: tuple[str, ...] = ()) -> DataFrame:
    """nodes(node_id, lat, lon, <tag_fields…>) — the middle ground between
    ``extract_node_coords`` (no tags at all) and ``extract_nodes`` (full
    ``map<string,string>`` tags): consumers that need a FIXED set of tag
    keys get them parsed as struct fields, so the JSON reader skips every
    other key instead of materializing the whole map (~2x cheaper on
    tag-heavy corpora).  Requested tag columns are named after the key,
    except ``id`` → ``tag_id`` (collides with the node id)."""
    return (
        _spans(documents, "osm_node")
        .select("doc_id", F.from_json("payload", _slim_node_schema(tag_fields)).alias("n"))
        .select(*_slim_node_cols(tag_fields))
    )


def extract_ways(documents: DataFrame) -> DataFrame:
    """ways(way_id, nd_refs, tags, doc_id) from osm_way spans; nd order kept."""
    return (
        _spans(documents, "osm_way")
        .select("doc_id", F.from_json("payload", schemas.WAY_PAYLOAD).alias("w"))
        .select(
            F.col("w.id").alias("way_id"),
            F.col("w.nd_refs").alias("nd_refs"),
            F.col("w.tags").alias("tags"),
            F.col("w.audit").alias("audit"),
            "doc_id",
        )
    )


def extract_relations(documents: DataFrame) -> DataFrame:
    return (
        _spans(documents, "osm_relation")
        .select("doc_id", F.from_json("payload", schemas.RELATION_PAYLOAD).alias("r"))
        .select(
            F.col("r.id").alias("rel_id"),
            F.col("r.members").alias("members"),
            F.col("r.tags").alias("tags"),
            F.col("r.audit").alias("audit"),
            "doc_id",
        )
    )


# ---------------------------------------------------------------------------
# validation (reference S2/J1 semantics)
# ---------------------------------------------------------------------------
def duplicate_node_ids(nodes: DataFrame) -> DataFrame:
    """Duplicate node ids — the reference *throws* on these
    (Collectors.toMap at OsmToNetexTransformer.java:98); callers fail the job
    when this is nonempty rather than silently deduping."""
    return nodes.groupBy("node_id").count().where(F.col("count") > 1)


def schema_violations(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """CHECK-style validation mirroring the XSD constraints
    (OSMSchema.xsd: lat/lon ranges :35-40, nd count 2..2000 :50)."""
    bad_nodes = nodes.where(
        ~F.col("lat").between(-90.0, 90.0) | ~F.col("lon").between(-180.0, 180.0)
    ).select(F.lit("node_coord_range").alias("violation"), F.col("node_id").alias("id"))
    bad_ways = ways.where((F.size("nd_refs") < 2) | (F.size("nd_refs") > 2000)).select(
        F.lit("way_nd_count").alias("violation"), F.col("way_id").alias("id")
    )
    return bad_nodes.unionByName(bad_ways)


# ---------------------------------------------------------------------------
# span-sequence invariant (BASELINE.json input_hint per-row invariant)
# ---------------------------------------------------------------------------
def span_signature(documents: DataFrame) -> DataFrame:
    """Deterministic per-doc signature of (kind, text, media_ref, order).

    Compare signatures before/after any pipeline stage to prove the
    interleaved payload survived shuffles bit-for-bit.  The spans column is
    never exploded-and-regrouped by the engine (SURVEY §4 caveat b); this
    signature is the auditable witness.
    """
    return documents.select(
        "doc_id",
        F.sha2(
            F.to_json(
                F.expr(
                    "transform(spans, s -> named_struct("
                    "'k', s.kind, 't', coalesce(s.text, chr(0)), "
                    "'m', coalesce(s.media_ref, chr(0)), 'o', s.offset))"
                )
            ),
            256,
        ).alias("span_sig"),
    )


def assert_span_parity(before: DataFrame, after: DataFrame) -> int:
    """Raise if any doc's span signature changed; returns docs compared."""
    b, a = span_signature(before).alias("b"), span_signature(after).alias("a")
    diff = (
        b.join(a, "doc_id", "full_outer")
        .where(
            F.col("b.span_sig").isNull()
            | F.col("a.span_sig").isNull()
            | (F.col("b.span_sig") != F.col("a.span_sig"))
        )
    )
    broken = diff.limit(20).collect()
    if broken:
        raise AssertionError(f"span-sequence invariant violated for: {broken[:5]}")
    return before.count()


def extract_nodes_ways_slim(
    documents: DataFrame, tag_fields: tuple[str, ...] = ("entity", "id")
) -> DataFrame:
    """ONE span scan yielding BOTH node and way rows (kind-discriminated):
    node rows carry (node_id, lat, lon, <tags…>), way rows (way_id,
    nd_refs).  The kind-specific from_json sits under a lazy CASE, so each
    span is parsed exactly once with its own schema.

    This is the single-corpus-pass flagship fusion: caching this combined
    slim projection lets the assembly's way side, its node side AND the PIP
    probe all read one scan — the previous shape re-read the whole corpus
    just to pull the (tiny) way spans."""
    way_slim = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("nd_refs", T.ArrayType(T.LongType())),
        ]
    )
    sp = (
        documents.select("doc_id", F.explode("spans").alias("span"))
        .where(F.col("span.kind").isin("osm_node", "osm_way"))
        .select(
            "doc_id",
            F.col("span.kind").alias("kind"),
            F.when(
                F.col("span.kind") == "osm_node",
                F.from_json(F.col("span.text"), _slim_node_schema(tag_fields)),
            ).alias("n"),
            F.when(
                F.col("span.kind") == "osm_way",
                F.from_json(F.col("span.text"), way_slim),
            ).alias("w"),
        )
    )
    return sp.select(
        "doc_id",
        "kind",
        *_slim_node_cols(tag_fields),
        F.col("w.id").alias("way_id"),
        F.col("w.nd_refs").alias("nd_refs"),
    )
