"""spark-submit entry point (EP1 analogue of the reference CLI).

Reference: OsmToNetexApp.main parses -osmFile/-netexOutputFile/-targetEntity
(OsmToNetexApp.java:43-87).  Engine form:

    spark-submit --py-files engine.zip -m osm_to_netex_spark.plans.job \
        --input /path/docs_parquet --input-format documents|osm-xml \
        --target TopographicPlace --output /warehouse --run-tag r1 \
        [--xml-out out.xml] [--resume]

Reads documents (or OSM XML), runs the conversion + tile index, commits the
outputs to the snapshot catalog with lineage columns, optionally renders the
fixture XML (every zone).  Default output name mirrors the reference's
``<input>_yyyyMMddHHmmss.xml`` convention (OsmToNetexApp.java:64).  The
conversion's checkpoints (plans/netex.py) feed the tile index, the commits
and the render, and are released before returning, so a caller's long-lived
session keeps no storage from the job.
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import functions as F

from ..operators import tiling
from ..session import get_spark
from ..sources import documents as docs_src, osm_xml
from ..sources.catalog import SnapshotCatalog
from . import netex


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser("osm_to_netex_spark")
    p.add_argument("--input", required=True)
    p.add_argument("--input-format", choices=["documents", "osm-xml"], default="documents")
    p.add_argument("--target", default="TariffZone",
                   help="TariffZone | FareZone | TopographicPlace (D1 dispatch)")
    p.add_argument("--output", required=True, help="catalog root directory")
    p.add_argument("--xml-out", default=None,
                   help="optional NeTEx XML render path; '@auto' -> <input>_<ts>.xml")
    p.add_argument("--run-tag", default="r0")
    p.add_argument("--tile-res", type=int, nargs="+", default=[7, 8, 9])
    p.add_argument("--cores", default=None)
    return p


def main(argv: list[str] | None = None) -> dict:
    from pyspark.sql import SparkSession

    args = build_parser().parse_args(argv)
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="osm_to_netex_job", cores=args.cores)
    catalog = SnapshotCatalog(spark, args.output)

    if args.input_format == "documents":
        documents = docs_src.read_documents(spark, args.input)
        result = netex.convert_documents(documents, args.target, generated_from=args.input)
        tiles = tiling.document_tile_assign(result.nodes, resolutions=tuple(args.tile_res))
    else:
        nodes, ways, rels = osm_xml.read_osm(spark, args.input)
        result = netex.convert_extracted(nodes, ways, rels, args.target, generated_from=args.input)
        tiles = None  # XML nodes carry no doc_id

    try:
        tiles_snap = None
        if tiles is not None:
            tiles_snap = catalog.commit(
                tiles.withColumn("run_tag", F.lit(args.run_tag)), "tile_index", mode="append"
            )
        zones_snap = catalog.commit(
            result.zones.withColumn("run_tag", F.lit(args.run_tag)), "zones", mode="append"
        )
        groups_snap = None
        if result.groups is not None:
            groups_snap = catalog.commit(
                result.groups.withColumn("run_tag", F.lit(args.run_tag)), "groups", mode="append"
            )

        xml_path = None
        if args.xml_out:
            xml_path = (
                f"{args.input.rstrip('/')}_{time.strftime('%Y%m%d%H%M%S')}.xml"
                if args.xml_out == "@auto"
                else args.xml_out
            )
            with open(xml_path, "w") as fh:
                fh.write(netex.render_netex_xml(result))
    finally:
        result.release()

    out = {
        "zones_snapshot": zones_snap,
        "groups_snapshot": groups_snap,
        "tiles_snapshot": tiles_snap,
        "xml_out": xml_path,
        "n_zones": catalog.read("zones").count(),
    }
    print(out)
    if not preexisting:  # don't tear down a caller's session (tests, notebooks)
        spark.stop()
    return out


if __name__ == "__main__":
    main()
