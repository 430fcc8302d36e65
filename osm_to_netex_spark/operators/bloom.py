"""Distributed Bloom filter: build as bit rows, probe as a k-hash count.

The shuffle-reduction primitive: build a filter over a join key's build
side, probe the (much larger) fact side map-side, and only survivors reach
the real join — the hand-rolled form of Spark's runtime bloom-filter
pushdown, here as an explicit, oracle-checkable operator.

Representation: the filter is a TABLE of distinct set-bit indices, not a
bitmap blob — mergeable by union (associative/commutative, partial-agg
friendly), incrementally updatable, and directly joinable.  A key "might be
present" iff all ``k`` of its hash bits are set, i.e. its k-bit probe rows
equi-join the bit table with exactly ``k`` hits.  Everything is the
portable 60-bit md5 hash → bit-identical in Spark and DuckDB, so the
membership verdict (including FALSE POSITIVES) is deterministic and
value-hash-gated.

Scale shape: build = one map-side-combined distinct over n·k bit rows,
bounded above by m (the filter width); probe = k-row explode + one
equi-join on bit index + count==k — never a cartesian.  m rows of int64
beat a broadcast bitmap only when the filter must be composed/merged
incrementally; for a one-shot static filter, broadcast the bit table (it is
≤ m rows) and the probe join is map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.portable import DUCK, SPARK, concat_str, phash60


def bit_expr(key: str, salt: int, m_bits: int, d: str) -> str:
    """Bit index of hash ``salt`` for ``key`` — same text both dialects."""
    h = phash60(concat_str([f"'bf:{salt}:'", key], d), d)
    return f"(({h}) % {m_bits})"


def bloom_build(
    keys: DataFrame, key: str, m_bits: int = 4096, k_hashes: int = 3
) -> DataFrame:
    """Distinct set-bit indices (bit) of the Bloom filter over ``keys``."""
    bits = None
    for s in range(k_hashes):
        b = keys.selectExpr(f"{bit_expr(key, s, m_bits, SPARK)} as bit")
        bits = b if bits is None else bits.unionByName(b)
    return bits.distinct()


def bloom_probe(
    probes: DataFrame,
    bits: DataFrame,
    key: str,
    m_bits: int = 4096,
    k_hashes: int = 3,
    broadcast_bits: bool = True,
) -> DataFrame:
    """(key, might_contain) for every probe row: true iff all k bits set.

    ``broadcast_bits=True`` for the static-filter case (bit table ≤ m_bits
    rows — always a dimension); flip it off only when the filter is itself
    a huge merged union."""
    pr = probes.selectExpr(
        f"{key}",
        "explode(array("
        + ", ".join(bit_expr(key, s, m_bits, SPARK) for s in range(k_hashes))
        + ")) as bit",
    )
    b = F.broadcast(bits) if broadcast_bits else bits
    hits = (
        pr.join(b, "bit")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("__hits"))
        .where(F.col("__hits") == k_hashes)
        .selectExpr(key, "true as might_contain")
    )
    return probes.select(key).distinct().join(hits, key, "left").selectExpr(
        key, "coalesce(might_contain, false) as might_contain"
    )

