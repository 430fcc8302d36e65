"""Distributed multivariate linear regression via exact normal equations.

Generalizes the per-group OLS trend fit (temporal.trend_fit, d=1) to d
features + intercept: the model β solves (XᵀX + λI)β = Xᵀy.  At 10^12 rows
the ONLY distributed work is accumulating the moment matrix — (d+1)(d+2)/2
+ (d+1) sums — in one map-side-combined aggregate per group; the solve is
O(d³) per group and runs INSIDE the same SQL row via a generated Cramer
expansion, so the whole fit is one shuffle and stays value-hash-gateable.

Exactness discipline: features/targets must be pre-quantized integers, so
every moment is an exact bigint fold (order-free).  Determinants would
overflow int64, so moments are cast to double (exact for |m| < 2^53) and
each determinant is emitted as a FIXED-ORDER sum of permutation products —
the same IEEE op sequence in both engines, hence bit-identical results.
Singular groups (det = 0) yield null βs via nullif.

λ (ridge) is added to the feature diagonal in INTEGER space before the
cast; the intercept row is never regularized (standard practice).
"""

from __future__ import annotations

from itertools import permutations
from typing import Sequence


def _perm_sign(p: Sequence[int]) -> int:
    s, seen = 1, set()
    p = list(p)
    for i in range(len(p)):
        if i in seen:
            continue
        j, clen = i, 0
        while j not in seen:
            seen.add(j)
            j = p[j]
            clen += 1
        if clen % 2 == 0:
            s = -s
    return s


def _det(m: list[list[str]]) -> str:
    """Leibniz expansion with deterministic term order (sorted perms).

    Factors inside each product are SORTED: Spark's subexpression
    elimination treats commutative multiply chains as semantically equal
    regardless of association and reuses one evaluation, so two terms
    holding the same factor multiset in different orders would otherwise
    evaluate under different parenthesizations than the written text (and
    diverge from DuckDB in the last ulps).  With sorted factors every
    occurrence of a product is the same expression, every engine evaluates
    the same left-associated chain, and the result is bit-identical."""
    n = len(m)
    terms = []
    for p in sorted(permutations(range(n))):
        prod = " * ".join(sorted(m[i][p[i]] for i in range(n)))
        sign = "" if _perm_sign(p) == 1 else "- "
        terms.append(f"{sign}{prod}")
    return "(" + " + ".join(terms).replace("+ -", "-") + ")"


def ridge_fit_sql(
    d: str,
    table: str,
    group: str,
    xs: Sequence[str],
    y: str,
    lam: int = 0,
) -> str:
    """SQL for the per-group ridge fit.  ``xs``/``y`` are integer-valued SQL
    expressions over ``table``; returns (grp, n, beta0..beta{d}) with beta0
    the intercept.  Shared text for Spark and DuckDB — the generated
    expansion uses only portable arithmetic."""
    k = len(xs) + 1
    feats = ["cast(1 as bigint)"] + [f"cast({x} as bigint)" for x in xs]
    moments, names = [], {}
    for i in range(k):
        for j in range(i, k):
            nm = f"m_{i}_{j}"
            names[(i, j)] = names[(j, i)] = nm
            moments.append(f"sum({feats[i]} * {feats[j]}) as {nm}")
    bvec = []
    for i in range(k):
        nm = f"b_{i}"
        bvec.append(f"sum({feats[i]} * cast({y} as bigint)) as {nm}")
        names[("b", i)] = nm

    def a_cell(i: int, j: int) -> str:
        base = f"cast({names[(i, j)]} as double)"
        if i == j and i > 0 and lam:
            base = f"cast({names[(i, j)]} + {lam} as double)"
        return base

    A = [[a_cell(i, j) for j in range(k)] for i in range(k)]
    det_a = _det(A)
    sel = []
    for c in range(k):
        Ac = [
            [
                f"cast({names[('b', i)]} as double)" if j == c else A[i][j]
                for j in range(k)
            ]
            for i in range(k)
        ]
        sel.append(f"{_det(Ac)} / nullif({det_a}, 0.0e0) as beta{c}")
    return f"""
        select grp, n, {", ".join(sel)} from (
            select {group} as grp, count(*) as n,
                   {", ".join(moments)},
                   {", ".join(bvec)}
            from {table} group by {group}
        ) mom
    """


# ---------------------------------------------------------------------------
# Logistic regression — K data-parallel gradient-descent rounds
# ---------------------------------------------------------------------------
def logreg_gd_sql(
    d: str,
    table: str = "embeddings",
    n_features: int = 4,
    n_rounds: int = 3,
    lr: float = 0.5,
) -> str:
    """Binary logistic regression (y = label % 2 on the first
    ``n_features`` embedding dims) trained with ``n_rounds`` synchronous
    full-batch gradient steps — the data-parallel SGD shape every
    distributed trainer reduces to: per-row gradient contributions fold
    into ONE map-side-combined aggregate per round, the (d+1)-value weight
    state crosses rounds as a 1-row broadcast.

    Exactness: weights live as bigint 1e-9 between rounds; within a round
    the dot product unrolls in fixed feature order, the sigmoid is one
    exp(), and each row's gradient terms are quantized to bigint BEFORE
    the sum (order-free).  The step applies one fixed float sequence then
    re-quantizes — the gravity-IPF state discipline.

    Output: one row (n, w0..wk as doubles, bias, n_correct) — n_correct
    evaluated at the final weights via the sign of the exact dot.

    Full-batch logistic regression, 3 synchronous GD rounds over the
    embedding features."""
    from ..functions.portable import element_at

    j_range = range(1, n_features + 1)
    x = {j: f"cast({element_at('embedding', str(j), d)} as double)" for j in j_range}
    cols = ", ".join(
        [f"{x[j]} as x{j}" for j in j_range]
        + ["cast(label % 2 as double) as y"]
    )
    ctes = [
        f"data as (select {cols} from {table})",
        "w0 as (select "
        + ", ".join(f"cast(0 as bigint) as wq{j}" for j in j_range)
        + ", cast(0 as bigint) as bq)",
    ]
    dot = lambda w: "(" + " + ".join(  # noqa: E731
        [f"cast({w}.wq{j} as double) / 1.0e9 * x{j}" for j in j_range]
        + [f"cast({w}.bq as double) / 1.0e9"]
    ) + ")"
    for t in range(n_rounds):
        sig = f"(1.0e0 / (1.0e0 + exp(-({dot(f'w{t}')}))))"
        gq = lambda term: (  # noqa: E731
            f"cast(floor((y - {sig}) * {term} * 1.0e9 + 0.5e0) as bigint)"
        )
        ctes.append(
            f"g{t} as (select cast(count(*) as bigint) as n, "
            + ", ".join(f"cast(sum({gq(f'x{j}')}) as bigint) as sg{j}" for j in j_range)
            + f", cast(sum({gq('1.0e0')}) as bigint) as sgb"
            f" from data cross join w{t})"
        )
        upd = lambda s: (  # noqa: E731
            f"cast(floor({lr!r}e0 * cast({s} as double) / cast(g{t}.n as double)"
            " + 0.5e0) as bigint)"
        )
        ctes.append(
            f"w{t + 1} as (select "
            + ", ".join(
                f"w{t}.wq{j} + {upd(f'g{t}.sg{j}')} as wq{j}" for j in j_range
            )
            + f", w{t}.bq + {upd(f'g{t}.sgb')} as bq"
            f" from w{t} cross join g{t})"
        )
    wf = f"w{n_rounds}"
    pred = f"(case when ({dot(wf)}) > 0.0e0 then 1.0e0 else 0.0e0 end)"
    return (
        "with " + ", ".join(ctes) + f"""
        select cast(count(*) as bigint) as n,
               {", ".join(f"round(max({wf}.wq{j}) / 1.0e9, 9) as w{j}" for j in j_range)},
               round(max({wf}.bq) / 1.0e9, 9) as bias,
               cast(count(case when {pred} = y then 1 end) as bigint) as n_correct
        from data cross join {wf}"""
    )


def logreg_calibration_sql(
    d: str,
    table: str = "embeddings",
    n_features: int = 4,
    n_rounds: int = 3,
    lr: float = 0.5,
    n_bins: int = 5,
) -> str:
    """Reliability diagram of the trained logreg: rows bucketed by
    predicted probability (equal-width bins), per bin the exact count,
    quantized mean prediction, and positive rate — the calibration check
    that decides whether scores are usable as probabilities.  Reuses the
    EXACT same unrolled GD chain as logreg_gd_sql (same weights bit for
    bit), then one scan to score + one n_bins-key aggregate.

    Reliability diagram of the gated logreg — same unrolled GD chain,
    observed-range probability bins."""
    from ..functions.portable import element_at

    j_range = range(1, n_features + 1)
    # rebuild the training chain verbatim (same literals => same weights)
    train = logreg_gd_sql(d, table, n_features, n_rounds, lr)
    body = train[len("with "):train.rindex("\n        select ")]
    wf = f"w{n_rounds}"
    dot = "(" + " + ".join(
        [f"cast({wf}.wq{j} as double) / 1.0e9 * x{j}" for j in j_range]
        + [f"cast({wf}.bq as double) / 1.0e9"]
    ) + ")"
    sig = f"(1.0e0 / (1.0e0 + exp(-({dot}))))"
    pq = f"cast(floor({sig} * 1.0e9 + 0.5e0) as bigint)"
    idiv = "div" if d == "spark" else "//"
    # bins over the OBSERVED prediction range (weakly-separated models
    # cluster near 0.5 — absolute-width bins would collapse to one)
    bin_ = (
        f"least({n_bins - 1}, cast(((p_q9 - rng.pmin) * {n_bins})"
        f" {idiv} (rng.pmax - rng.pmin + 1) as int))"
    )
    return (
        "with " + body + f""",
        scored as (
            select {pq} as p_q9, y
            from data cross join {wf}
        ),
        rng as (select min(p_q9) as pmin, max(p_q9) as pmax from scored)
        select {bin_} as bin,
               cast(count(*) as bigint) as n,
               cast(sum(p_q9) as bigint) as sum_pred_q9,
               cast(sum(cast(y as bigint)) as bigint) as n_pos
        from scored cross join rng
        group by 1"""
    )
