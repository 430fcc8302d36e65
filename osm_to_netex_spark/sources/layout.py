"""Storage layout for spatial scans: Z-order (Morton) clustering.

At the 100 TB design point the cheapest shuffle is the one a query never
runs — and the cheapest scan is the one that never opens most files.
Parquet footers carry per-column min/max; a scan with a lat/lon (or cell)
predicate skips any file/row-group whose stat range misses the box.  That
only helps if spatially-near rows land in the same files: Z-ORDERING the
write makes each output file cover a compact spatial rectangle, so a
city-sized query touches O(query area / file area) files instead of all of
them.  This is the same layout contract Iceberg/Delta expose as
``rewrite_data_files(strategy => 'sort', sort_order => zorder(...))`` —
implemented here directly on the parquet writer: repartitionByRange on the
interleaved key (contiguous z-ranges per file), sortWithinPartitions
(row-group-level locality inside each file).

The interleave is the classic parallel-prefix bit spread, expressed in
portable SQL (Spark & DuckDB share `&`, `|`, and shifts), so the key is
oracle-checkable like every other formula in this engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import geo
from ..functions.portable import SPARK

# 0x...: parallel-prefix spread masks (interleave a 30-bit int into even bits)
_SPREAD = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _shl(x: str, n: int, d: str) -> str:
    return f"shiftleft({x}, {n})" if d == SPARK else f"(({x}) << {n})"


def spread_bits(x: str, d: str) -> str:
    """Spread the low 30 bits of ``x`` into the even bit positions."""
    cur = f"(cast({x} as bigint) & 1073741823)"  # 2^30 - 1
    for shift, mask in _SPREAD:
        cur = f"(({cur} | {_shl(cur, shift, d)}) & {mask})"
    return cur


def morton_key(ix: str, iy: str, d: str) -> str:
    """Interleave two grid coordinates: z = spread(ix) | spread(iy) << 1."""
    return f"({spread_bits(ix, d)} | {_shl(spread_bits(iy, d), 1, d)})"


def zorder_expr(lat: str, lon: str, res: int, d: str) -> str:
    """Morton key of the point's quad-grid coordinates at ``res``."""
    ix, iy = geo.quad_ixy(lat, lon, res, d)
    return morton_key(f"({ix})", f"({iy})", d)


def write_zordered(
    df: DataFrame,
    path: str,
    lat: str = "lat",
    lon: str = "lon",
    res: int = 14,
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet clustered by Z-order.

    repartitionByRange on the z key → each output file owns a contiguous
    z-range (a compact spatial tile); sortWithinPartitions → row groups
    inside a file are tiles of tiles.  The z column is persisted so scans
    can also push an explicit z-range predicate; lat/lon min/max stats make
    plain box predicates prunable too.  Write-side shuffle is one range
    exchange — amortized over every later spatial scan of the table.
    """
    keyed = df.withColumn("z", F.expr(zorder_expr(lat, lon, res, SPARK)))
    (
        keyed.repartitionByRange(n_files, "z")
        .sortWithinPartitions("z")
        .write.mode(mode)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) by join key.

    Bucketing is THE 100 TB co-location strategy: two tables bucketed by the
    same key into the same bucket count join with ZERO exchange — the
    shuffle is paid once at write time and amortized over every subsequent
    join/aggregation on that key (cell_id for the spatial indexes, doc_id
    for dedup artifacts).  Uses the session catalog's managed-table path
    (`saveAsTable` — bucketing metadata does not survive a bare
    `.parquet(path)` write).
    """
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def file_stat_ranges(path: str, columns: tuple[str, ...]) -> list[dict]:
    """Per-file min/max footer stats (the information a pruning scan uses).

    Pure pyarrow metadata reads — no data pages touched; used to EVIDENCE
    layout quality (how many files could a box query skip) without relying
    on engine-internal scan metrics.
    """
    import glob
    import os

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        rec = {"file": os.path.basename(f), "rows": md.num_rows}
        for c in columns:
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            rec[f"{c}_min"], rec[f"{c}_max"] = lo, hi
        out.append(rec)
    return out


def files_overlapping_box(
    stats: list[dict], lat_lo: float, lat_hi: float, lon_lo: float, lon_hi: float
) -> list[dict]:
    """Files whose (lat, lon) stat rectangle intersects the query box — the
    files a min/max-pruning reader must open; all others are skipped."""
    hit = []
    for s in stats:
        if s["lat_min"] is None or s["lon_min"] is None:
            hit.append(s)  # no stats → cannot prune → must read
            continue
        if s["lat_max"] < lat_lo or s["lat_min"] > lat_hi:
            continue
        if s["lon_max"] < lon_lo or s["lon_min"] > lon_hi:
            continue
        hit.append(s)
    return hit


def files_overlapping_zranges(
    stats: list[dict], zranges: list[tuple[int, int]], zcol: str = "zkey"
) -> list[dict]:
    """Files whose [zkey_min, zkey_max] stat interval intersects ANY of the
    planner's contiguous Z ranges — the read-side consumer of
    ``zorder_ranges``: a polygon predicate becomes z-ranges becomes a file
    skip list, all from footer metadata (no data pages).  Files without
    stats must be read (cannot prune)."""
    hit = []
    for s in stats:
        lo, hi = s.get(f"{zcol}_min"), s.get(f"{zcol}_max")
        if lo is None or hi is None:
            hit.append(s)
            continue
        if any(not (hi < a or lo > b) for a, b in zranges):
            hit.append(s)
    return hit


GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_expr(lat: str, lon: str, precision: int, d: str) -> str:
    """Standard geohash string (base32, lon bit first) of a point — the
    interchange cell encoding (alongside the engine's packed hex/quad ids).

    ``precision`` must be even so lat/lon split the 5·p bits equally and the
    whole hash is one Morton interleave (spread_bits) — MSB is a lon bit, so
    lon takes the odd (shifted) lane.  Pure integer/substring SQL in both
    dialects; prefix truncation = parent cell, so a LIKE 'u4pr%' predicate
    or a substr-equality join gives hierarchical containment for free."""
    if precision % 2 != 0 or not (2 <= precision <= 12):
        raise ValueError("precision must be even, 2..12")
    nbits = 5 * precision // 2
    latb = f"cast(floor((({lat}) + 90.0e0) / 180.0e0 * {2**nbits}) as bigint)"
    lonb = f"cast(floor((({lon}) + 180.0e0) / 360.0e0 * {2**nbits}) as bigint)"
    # clamp the lat=90/lon=180 edge into the top cell
    latb = f"least({latb}, {2**nbits - 1})"
    lonb = f"least({lonb}, {2**nbits - 1})"
    from ..functions.portable import let_

    z = f"({spread_bits(latb, d)} | {_shl(spread_bits(lonb, d), 1, d)})"
    zv = "__gh.z"
    chars = []
    for i in range(precision):
        shift = 5 * (precision - 1 - i)
        idx = f"((({zv}) // {2**shift}) % 32)" if d != SPARK else f"((({zv}) div {2**shift}) % 32)"
        chars.append(f"substring('{GEOHASH_B32}', cast({idx} + 1 as int), 1)")
    return let_({"z": z}, "concat(" + ", ".join(chars) + ")", d, var="__gh")


def _idiv(a: str, b: int, d: str) -> str:
    return f"({a} div {b})" if d == SPARK else f"({a} // {b})"


def hilbert_expr(lat: str, lon: str, res: int, d: str) -> str:
    """Hilbert-curve index of the point's quad-grid coordinates at ``res``.

    The locality-superior alternative to ``zorder_expr`` for file layout:
    consecutive Hilbert indices are always grid NEIGHBORS (Morton jumps
    across the map at power-of-two boundaries), so range-partitioned files
    cover rounder, never-split spatial blobs — fewer files overlap a box
    query.  Standard bottom-up construction (res levels, MSB first): per
    level the quadrant digit is 3*rx + ry*(1-2*rx) — the arithmetic form of
    ``(3*rx) XOR ry``, portable to both dialects — and the low bits are
    reflected/swapped into the rotated sub-curve frame.  Unrolled into
    ``res`` nested let-bindings of pure integer SQL: no UDF, no fold, bit
    identical across engines; d in [0, 4^res).
    """
    ix, iy = geo.quad_ixy(lat, lon, res, d)
    from ..functions.portable import let_

    def level(i: int, x: str, y: str, acc: str) -> str:
        if i == res:
            return acc
        s = 2 ** (res - 1 - i)
        v = f"__h{i}"
        bind = {
            "rx": _idiv(x, s, d),
            "ry": _idiv(y, s, d),
            "xl": f"({x} % {s})",
            "yl": f"({y} % {s})",
            "dd": acc,
        }
        nx = (
            f"(case when {v}.ry = 1 then {v}.xl "
            f"when {v}.rx = 1 then {s - 1} - {v}.yl else {v}.yl end)"
        )
        ny = (
            f"(case when {v}.ry = 1 then {v}.yl "
            f"when {v}.rx = 1 then {s - 1} - {v}.xl else {v}.xl end)"
        )
        nacc = f"({v}.dd + {s * s} * (3 * {v}.rx + {v}.ry * (1 - 2 * {v}.rx)))"
        return let_(bind, level(i + 1, nx, ny, nacc), d, var=v)

    return level(0, f"({ix})", f"({iy})", "cast(0 as bigint)")
