"""Custom stateful streaming operator: per-cell distinct-document sketches.

``applyInPandasWithState`` is the engine's escape hatch for stateful logic
Structured Streaming's built-in windowed aggregates can't express.  The
operator here maintains a bounded-memory HyperLogLog register set per quad
cell — at the 10^12-doc design point an exact per-cell distinct set is
unbounded state, while 64 HLL registers are 256 bytes per cell forever.

Determinism: registers take element-wise max over md5-derived ranks, so the
result is independent of arrival order, batch boundaries, and partitioning —
the property the tests pin down.  This is also the only other Python-touching
code path besides operators.media, and it receives Arrow-batched pandas
DataFrames, never rows.

Reference has no streaming at all (SURVEY §2.1 negative findings); this is
north-rule engine surface.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

N_REGISTERS = 64  # 2^6 registers → ~13% standard error, 256 B state per cell
_REG_BITS = 6

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("quad_cell", T.LongType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_docs_est", T.LongType(), False),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("regs", T.ArrayType(T.IntegerType()), False),
        T.StructField("rows", T.LongType(), False),
    ]
)


def _merge_batch(regs: np.ndarray, doc_ids) -> None:
    """Fold a batch of doc ids into the register array, numpy-vectorized.

    Each id's md5 (first 8 bytes, big-endian) gives its register (the low
    register bits) and its rank: the 1-based index of the first set bit of
    the remaining 58-bit stream, capped at 58 (rest == 0).  md5 is
    per-string (the only per-element Python left); the bit math —
    register index, lowest-set-bit rank, element-wise register max — runs
    as array ops over the whole Arrow batch.
    """
    n = len(doc_ids)
    if n == 0:
        return
    h = np.fromiter(
        (
            int.from_bytes(hashlib.md5(str(d).encode()).digest()[:8], "big")
            for d in doc_ids
        ),
        dtype=np.uint64,
        count=n,
    )
    reg = (h & np.uint64(N_REGISTERS - 1)).astype(np.int64)
    rest = h >> np.uint64(_REG_BITS)
    # lowest set bit isolated as a power of two; log2 of an exact power of
    # two is exact in float64 well past 2^53 (single-mantissa-bit values)
    low = rest & (~rest + np.uint64(1))
    rank = np.where(
        rest == 0, 58, np.log2(np.maximum(low, np.uint64(1)).astype(np.float64)) + 1.0
    ).astype(np.int64)
    np.minimum(rank, 58, out=rank)
    np.maximum.at(regs, reg, rank)


def hll_estimate(regs) -> int:
    """Classic HLL estimate with small-range correction (list or ndarray)."""
    r = np.asarray(regs, dtype=np.float64)
    m = N_REGISTERS
    alpha = 0.709  # alpha_64
    raw = alpha * m * m / float(np.sum(2.0**-r))
    zeros = int(np.count_nonzero(r == 0))
    if raw <= 2.5 * m and zeros:
        raw = m * math.log(m / zeros)
    return int(round(raw))


def _update_cell(key, pdfs, state: GroupState):
    if state.exists:
        regs_t, rows = state.get
        regs = np.asarray(regs_t, dtype=np.int64)
    else:
        regs, rows = np.zeros(N_REGISTERS, dtype=np.int64), 0
    for pdf in pdfs:
        rows += len(pdf)
        _merge_batch(regs, pdf["doc_id"])
    state.update(([int(r) for r in regs], rows))
    yield pd.DataFrame(
        {
            "quad_cell": [key[0]],
            "n_rows": [rows],
            "n_docs_est": [hll_estimate(regs)],
        }
    )


def stateful_cell_counts(assigned: DataFrame) -> DataFrame:
    """Streaming (doc_id, quad_cell) → per-cell running HLL distinct estimate.

    Emits one update row per (cell, micro-batch); `n_rows` is monotone per
    cell, so the latest state of a cell is its max-`n_rows` row.
    """
    return assigned.groupBy("quad_cell").applyInPandasWithState(
        _update_cell,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_to_memory(spark, counts: DataFrame, name: str = "cell_counts"):
    """Update-mode memory sink (availableNow); returns the finished query."""
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def batch_hll_oracle(batch_assigned: DataFrame) -> DataFrame:
    """Batch-side oracle: same HLL math over the same rows via grouped pandas
    (no streaming) — for tests pinning stream/batch equivalence."""

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        regs = np.zeros(N_REGISTERS, dtype=np.int64)
        _merge_batch(regs, pdf["doc_id"])
        return pd.DataFrame(
            {
                "quad_cell": [pdf["quad_cell"].iloc[0]],
                "n_rows": [len(pdf)],
                "n_docs_est": [hll_estimate(regs)],
            }
        )

    return batch_assigned.groupBy("quad_cell").applyInPandas(agg, schema=OUTPUT_SCHEMA)


# ---------------------------------------------------------------------------
# streaming top-k per cell (bounded custom state: k entries per key)
# ---------------------------------------------------------------------------
TOPK_STATE = T.StructType(
    [
        T.StructField("doc_ids", T.ArrayType(T.StringType()), False),
        T.StructField("scores", T.ArrayType(T.DoubleType()), False),
        T.StructField("seen", T.LongType(), False),
    ]
)
TOPK_OUTPUT = T.StructType(
    [
        T.StructField("quad_cell", T.LongType(), False),
        T.StructField("seen", T.LongType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _make_topk_update(k: int):
    def _update(key, pdfs, state: GroupState):
        if state.exists:
            ids, scores, seen = state.get
            cur = list(zip(list(ids), list(scores)))
        else:
            cur, seen = [], 0
        for pdf in pdfs:
            seen += len(pdf)
            cur += list(zip(pdf["doc_id"], pdf["score"]))
        # deterministic rank: score desc, doc_id asc tiebreak; one entry per
        # doc (re-arrivals / multi-node docs must not occupy two slots)
        cur.sort(key=lambda t: (-t[1], t[0]))
        dedup, seen_ids = [], set()
        for doc, sc in cur:
            if doc not in seen_ids:
                seen_ids.add(doc)
                dedup.append((doc, sc))
            if len(dedup) == k:
                break
        cur = dedup
        state.update(([c[0] for c in cur], [float(c[1]) for c in cur], seen))
        yield pd.DataFrame(
            {
                "quad_cell": [key[0]] * len(cur),
                "seen": [seen] * len(cur),
                "doc_id": [c[0] for c in cur],
                "score": [float(c[1]) for c in cur],
            }
        )

    return _update


def stateful_topk_per_cell(scored: DataFrame, k: int = 3) -> DataFrame:
    """Streaming running top-k (score desc, doc_id tiebreak) per cell —
    the ranking operator Structured Streaming lacks natively (a streaming
    window rank needs complete-mode re-aggregation of everything seen).

    State per cell is EXACTLY k (doc_id, score) entries + a counter —
    bounded regardless of stream length; merging a micro-batch is
    merge-sort-truncate.  Emits the current top-k per updated cell per
    batch with a monotone `seen` counter, so the final answer is the
    max-`seen` emission per cell.  (transformWithStateInPandas would be
    the Spark-4-native API for this, but its protobuf dependency is
    broken in this container — applyInPandasWithState expresses the same
    state machine.)
    """
    return scored.groupBy("quad_cell").applyInPandasWithState(
        _make_topk_update(k),
        outputStructType=TOPK_OUTPUT,
        stateStructType=TOPK_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_LONGS = lambda names: T.StructType([T.StructField(c, T.LongType()) for c in names])
TREND_STATE = _LONGS(["n", "sx", "sy", "sxy", "sxx"])
TREND_OUTPUT = _LONGS(["user_id", "n", "sx", "sy", "sxy", "sxx"])


def _trend_update(key, pdfs, state: GroupState):
    """Accumulate exact integer OLS moments per user.

    Integer addition is associative/commutative, so the final state is
    provably arrival-order- and batching-independent — which is what makes
    this custom stateful operator fully ORACLE-GATEABLE, unlike typical
    streaming state machines.  Vectorized: one pandas .sum() per column per
    micro-batch, no per-row Python.
    """
    if state.exists:
        n, sx, sy, sxy, sxx = state.get
    else:
        n = sx = sy = sxy = sxx = 0
    for pdf in pdfs:
        x = pdf["x"].astype("int64")
        y = pdf["y"].astype("int64")
        n += len(pdf)
        sx += int(x.sum())
        sy += int(y.sum())
        sxy += int((x * y).sum())
        sxx += int((x * x).sum())
    state.update((n, sx, sy, sxy, sxx))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n": [n], "sx": [sx], "sy": [sy], "sxy": [sxy], "sxx": [sxx]}
    )


def stateful_trend(xy_stream: DataFrame) -> DataFrame:
    """Streaming per-user OLS moment accumulation — (user_id, n, sx, sy,
    sxy, sxx) after each micro-batch; the max-n emission per user carries
    the final moments.  State is 5 bigints per user, bounded forever."""
    return xy_stream.groupBy("user_id").applyInPandasWithState(
        _trend_update,
        outputStructType=TREND_OUTPUT,
        stateStructType=TREND_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
