"""The two workloads: one operation each, its output check, and the traced
layer-by-layer decomposition.

flagship_pip   one pass of bench.build_flagship over a stored, filler-heavy
               corpus: fused extract → hex+quad tile-assign (res 7-9) →
               J2 assembly → cell-classified PIP (res 12 quad).
convert_netex  one plans.job.main conversion (FareZone, XML out) of a
               zone-heavy corpus into a fresh catalog root.

Traced runs rebuild the same pipeline from the public operators and
materialise each layer (noop sink, localCheckpoint or a full collect)
before the next layer consumes it, so every layer time is its own.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import shutil
import time

import harness
from harness import WORK, materialize

BENCH_BBOX = (55.0, 63.0, 5.0, 15.0)  # bench.BENCH_BBOX: country extent


class Tracer:
    """In-memory spans, one per layer; each layer also becomes a Spark job
    group so the event-log fold can attribute its tasks."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.problems: list[str] = []  # consistency checks failed while tracing

    @contextlib.contextmanager
    def span(self, name: str, parent: str = "trace"):
        t0 = time.perf_counter()
        with harness.job_group(self.spark, name):
            yield
        self.spans.append({"name": name, "parent": parent, "start": t0, "end": time.perf_counter()})

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def _checkpoint(df, obs_name: str | None = None):
    """Materialise df in executor memory; with obs_name also return its row
    count, observed during that same pass."""
    from pyspark.sql import Observation, functions as F

    if obs_name is None:
        return df.localCheckpoint(eager=True)
    obs = Observation(obs_name)
    ck = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(eager=True)
    return ck, obs.get["rows"]


def _agg_row(df, *exprs):
    """One-row aggregate, collected (a full pass over df's inputs)."""
    from pyspark.sql import functions as F

    return df.agg(*[F.expr(e) for e in exprs]).collect()[0]


# ---------------------------------------------------------------------------
# flagship_pip
# ---------------------------------------------------------------------------
class FlagshipPip:
    name = "flagship_pip"
    corpus_name = "flagship"
    corpus = dict(
        n_docs=50_000, n_zones=1000, n_groups=8, n_points=30_000,
        bbox=BENCH_BBOX, zone_radius_scale=1.5,
    )
    modules = ("bench", "osm_to_netex_spark.operators.pip")
    sample_every = 100  # brute-force check of ~1 % of the docs ...
    check_zones = 250  # ... against the first 250 zones

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.n_docs = self.corpus["n_docs"]
        self.path = self.meta = self.pins = None

    def op(self) -> dict:
        import bench

        df, obs, cached = bench.build_flagship(self.spark, self.path)
        rows = df.collect()
        tiles = obs.get
        cached.unpersist()
        return {"hits": rows[0]["n"], "chk": tiles["chk"], "nodes": tiles["n"], "df": df}

    def op_plan(self, out: dict) -> dict:
        return harness.planning_ms(out["df"])

    def check(self, out: dict) -> list[str]:
        got = (out["hits"], out["chk"], out["nodes"])
        if self.pins is None:  # the first operation on the corpus pins the values
            self.pins = got
            return [] if out["hits"] > 0 and out["nodes"] > 0 else [f"empty result {got}"]
        return [] if got == self.pins else [f"(hits, checksum, nodes) {got} != pinned {self.pins}"]

    def verify(self) -> list[str]:
        """The pinned hit count comes from the cell-classified PIP; check that
        operator against the brute-force ray-cast on a seeded sample of stop
        points and a subset of the zones.  Only the sampled docs and those
        zone docs (the first doc ids, by the generator's layout) are parsed."""
        from pyspark.sql import functions as F

        from osm_to_netex_spark.operators import assemble, extract, pip
        from osm_to_netex_spark.sources import documents as docs_src

        corpus = docs_src.read_documents(self.spark, self.path)
        zone_docs = corpus.where(F.col("doc_id") < f"doc-{self.check_zones:09d}")
        polys = assemble.assemble_poslist(
            extract.extract_ways(zone_docs), extract.extract_node_coords(zone_docs),
            strict=False, broadcast_ways=True,
        ).selectExpr("cast(way_id as string) as zone_id", "pos_list").localCheckpoint(eager=True)
        sampled = corpus.where(F.abs(F.xxhash64("doc_id", F.lit(self.seed))) % self.sample_every == 0)
        sample = extract.extract_nodes_slim(sampled, tag_fields=("entity", "id")).where(
            F.col("entity").isNotNull()
        ).select(F.col("tag_id").alias("point_id"), "lat", "lon").localCheckpoint(eager=True)
        fast = sorted(map(tuple, pip.bind_points_to_polygons(sample, polys, res=12, scheme="quad").collect()))
        slow = sorted(map(tuple, pip.bind_points_brute_force(sample, polys).collect()))
        if not slow:
            return ["brute-force sample found no hit; the check proves nothing"]
        return [] if fast == slow else [f"PIP {len(fast)} pairs != brute force {len(slow)} on the sample"]

    def trace(self, tr: Tracer) -> dict:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from osm_to_netex_spark.functions import geo
        from osm_to_netex_spark.functions.portable import SPARK
        from osm_to_netex_spark.operators import assemble, extract
        from osm_to_netex_spark.sources import documents as docs_src

        spark, m = self.spark, {}
        with tr.span("scan"):
            corpus = _checkpoint(docs_src.read_documents(spark, self.path))
        with tr.span("extract"):
            both, m["extract.rows_out"] = _checkpoint(
                extract.extract_nodes_ways_slim(corpus, tag_fields=("entity", "id")), "extract"
            )
        with tr.span("tiling"):
            staged, hex_cols = geo.hex_cells_staged(both, "lat", "lon", (7, 8, 9))
            quad_cols = []
            for r in (7, 8, 9):
                staged = staged.withColumn(f"__q{r}", F.expr(geo.quad_cell("lat", "lon", r, SPARK)))
                quad_cols.append(f"__q{r}")
            cols = hex_cols + quad_cols
            row = _agg_row(staged, f"bit_xor({' ^ '.join(cols)}) as chk",
                           " + ".join(f"count({c})" for c in cols) + " as cells")
        m["tiling.cells"] = row["cells"]
        if self.pins and row["chk"] != self.pins[1]:
            tr.problems.append(f"traced tile checksum {row['chk']} != pinned {self.pins[1]}")
        before = harness.rdd_storage_bytes(spark)
        with tr.span("cache"):
            cached = both.persist(StorageLevel.MEMORY_AND_DISK)
            materialize(cached)
        m["cache.bytes"] = harness.rdd_storage_bytes(spark) - before
        nodes_c = cached.where(F.col("kind") == "osm_node")
        ways = cached.where(F.col("kind") == "osm_way").selectExpr(
            "way_id", "nd_refs", "doc_id", "cast(null as map<string,string>) as tags"
        )
        m["assemble.refs_in"] = _agg_row(ways, "sum(size(nd_refs)) as refs")["refs"]
        with tr.span("assemble"):
            polys, m["assemble.polygons_out"] = _checkpoint(
                assemble.assemble_poslist(ways, nodes_c, strict=False, broadcast_ways=True)
                .selectExpr("cast(way_id as string) as zone_id", "pos_list"),
                "assemble",
            )
        pts = nodes_c.where(F.col("entity").isNotNull()).select(
            F.col("tag_id").alias("point_id"), "lat", "lon"
        )
        m.update(trace_pip(tr, pts, polys))
        if self.pins and m["pip.hits"] != self.pins[0]:
            tr.problems.append(f"traced PIP hits {m['pip.hits']} != pinned {self.pins[0]}")
        cached.unpersist()
        return m


def trace_pip(tr: Tracer, pts, polys) -> dict:
    """Build side and probe side of the cell-classified PIP, recomputed from
    the public tiling.cover_cells and geo.quad_cell_classify with the
    operator's parameters (res 12, quad), with filter-effectiveness counts."""
    from pyspark.sql import functions as F

    from osm_to_netex_spark.functions import geo
    from osm_to_netex_spark.functions.portable import SPARK
    from osm_to_netex_spark.operators import tiling

    res, m = 12, {}
    with tr.span("pip_index"):
        index = _checkpoint(
            tiling.cover_cells(polys, "zone_id", res, "quad", keep=("pos_list",), cell_col="cell")
            .withColumn("cls", F.expr(geo.quad_cell_classify("cell", "pos_list", res, SPARK)))
        )
    row = _agg_row(index, "count(1) as n", "count_if(cls = 0) as outside",
                   "count_if(cls = 1) as boundary", "count_if(cls = 2) as interior")
    m.update({"pip.cover_cells": row["n"], "pip.cells_outside": row["outside"],
              "pip.cells_boundary": row["boundary"], "pip.cells_interior": row["interior"]})
    exact = geo.point_in_polygon("lat", "lon", "pos_list", SPARK)
    with tr.span("pip_probe"):
        cand = pts.withColumn("cell", F.expr(geo.quad_cell("lat", "lon", res, SPARK))).join(
            F.broadcast(index.where("cls > 0")), "cell"
        )
        row = _agg_row(cand, "count(1) as cand", "count_if(cls = 1) as raycast",
                       f"count_if(CASE WHEN cls = 2 THEN true ELSE ({exact}) END) as hits")
    m.update({"pip.candidates": row["cand"], "pip.raycast": row["raycast"], "pip.hits": row["hits"],
              "pip.precision": row["hits"] / row["cand"] if row["cand"] else 0.0})
    return m


# ---------------------------------------------------------------------------
# convert_netex
# ---------------------------------------------------------------------------
ZONE_COLS = ("zone_id", "version", "name", "polygon_id", "pos_list", "valid_from", "valid_to")


class ConvertNetex:
    name = "convert_netex"
    corpus_name = "convert"
    corpus = dict(n_docs=4000, n_zones=1000, n_groups=64, n_points=500)
    target = "FareZone"
    modules = ("osm_to_netex_spark.plans.job", "osm_to_netex_spark.sources.catalog")

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.n_docs = self.corpus["n_docs"]
        self.path = self.meta = self.digest = None
        self.n_ops = 0
        self.coords = 0
        self.plan = {}  # planning phases of the conversion's zones query, set by trace()

    def op(self) -> dict:
        from osm_to_netex_spark.plans import job

        self.n_ops += 1
        root = WORK / "convert" / f"op{self.n_ops}"
        shutil.rmtree(root, ignore_errors=True)
        root.mkdir(parents=True)
        xml = root / "out.xml"
        argv = ["--input", self.path, "--target", self.target, "--output", str(root / "catalog"),
                "--xml-out", str(xml), "--run-tag", f"op{self.n_ops}",
                "--cores", str(self.spark.sparkContext.defaultParallelism)]
        with contextlib.redirect_stdout(io.StringIO()):  # job.main prints its summary
            out = job.main(argv)
        return {"out": out, "root": root, "xml": xml}

    def check(self, res: dict) -> list[str]:
        from osm_to_netex_spark.plans import netex
        from osm_to_netex_spark.sources.catalog import SnapshotCatalog

        want_z, want_g = self.corpus["n_zones"], self.corpus["n_groups"]
        try:
            cat = SnapshotCatalog(self.spark, str(res["root"] / "catalog"))
            problems = []
            if res["out"]["n_zones"] != want_z:
                problems.append(f"{res['out']['n_zones']} zones, expected {want_z}")
            n_groups = len(cat.read("groups").select("group_id").collect())
            if n_groups != want_g:
                problems.append(f"{n_groups} groups, expected {want_g}")
            zones = cat.read("zones")
            bad = netex.validate_zones_output(zones).collect()
            if bad:
                problems.append(f"{len(bad)} validation violations, e.g. {bad[:3]}")
            n_poly = res["xml"].read_text().count("<gml:Polygon ")
            if n_poly != want_z:
                problems.append(f"XML has {n_poly} <gml:Polygon>, expected {want_z}")
            rows = sorted(tuple(r) for r in zones.select(*ZONE_COLS).collect())
            self.coords = sum(len(r[4]) for r in rows) // 2
            digest = hashlib.sha256(repr(rows).encode()).hexdigest()
            if self.digest is None:
                self.digest = digest
            elif digest != self.digest:
                problems.append("sorted-zones digest differs from the first operation's")
            return problems
        finally:
            shutil.rmtree(res["root"], ignore_errors=True)

    def verify(self) -> list[str]:
        return []  # every operation is checked in full by check()

    def op_plan(self, out: dict) -> dict:
        return self.plan  # job.main keeps its DataFrames to itself

    def trace(self, tr: Tracer) -> dict:
        from osm_to_netex_spark.operators import assemble, extract, tiling, zones
        from osm_to_netex_spark.plans import netex
        from osm_to_netex_spark.sources import documents as docs_src
        from osm_to_netex_spark.sources.catalog import SnapshotCatalog

        spark, m, target = self.spark, {}, self.target
        with tr.span("scan"):
            corpus = _checkpoint(docs_src.read_documents(spark, self.path))
        with tr.span("extract"):
            nodes, n1 = _checkpoint(extract.extract_nodes(corpus), "nodes")
            ways, n2 = _checkpoint(extract.extract_ways(corpus), "ways")
            rels, n3 = _checkpoint(extract.extract_relations(corpus), "relations")
        m["extract.rows_out"] = n1 + n2 + n3
        m["assemble.refs_in"] = _agg_row(ways, "sum(size(nd_refs)) as refs")["refs"]
        with tr.span("assemble"):
            asm, m["assemble.polygons_out"] = _checkpoint(
                assemble.assemble_poslist(ways, nodes, broadcast_nodes=True, strict=True), "assemble"
            )
        with tr.span("zones_check"):
            zones.check_required(asm, target)
        with tr.span("zones_map"):
            zdf = _checkpoint(zones.map_zones(asm, target, strict=False))
        with tr.span("zones_groups"):
            groups = _checkpoint(zones.map_groups(rels, zdf.select("way_id", "zone_id")))
        with tr.span("tiling"):
            tiles = _checkpoint(tiling.document_tile_assign(nodes))
        m["tiling.cells"] = _agg_row(tiles, "sum(size(h3_cells) + size(s2_cells)) as c")["c"]
        with tr.span("netex_convert"):
            result = netex.convert_documents(corpus, target)
            materialize(result.zones)
            materialize(result.groups)
        self.plan = harness.planning_ms(result.zones)
        with tr.span("netex_validate"):
            bad = netex.validate_zones_output(zdf).collect()
        if bad:
            tr.problems.append(f"{len(bad)} validation violations")
        with tr.span("netex_render"):
            xml = netex.render_netex_xml(
                netex.ConversionResult(zdf.drop("way_id"), groups, result.envelope)
            )
        m["netex.xml_bytes"] = len(xml.encode())
        root = WORK / "convert" / "traced"
        shutil.rmtree(root, ignore_errors=True)
        with tr.span("catalog"):
            cat = SnapshotCatalog(spark, str(root))
            cat.commit(zdf.drop("way_id"), "zones", mode="append")
            cat.commit(groups, "groups", mode="append")
            cat.commit(tiles, "tile_index", mode="append")
        m["catalog.bytes_written"], m["catalog.files_written"] = harness.dir_bytes(root)
        shutil.rmtree(root, ignore_errors=True)
        return m


WORKLOADS = {w.name: w for w in (FlagshipPip, ConvertNetex)}

# layer span → per-layer time metric
LAYER_TIMES = {
    "scan": "sources.scan_s", "extract": "extract.s", "tiling": "tiling.s", "cache": "cache.s",
    "assemble": "assemble.s", "pip_index": "pip.index_s", "pip_probe": "pip.probe_s",
    "zones_check": "zones.check_s", "zones_map": "zones.map_s", "zones_groups": "zones.groups_s",
    "netex_convert": "netex.convert_s", "netex_validate": "netex.validate_s",
    "netex_render": "netex.render_s", "catalog": "catalog.commit_s",
}
