"""Strict checks: the reference's throw-on-bad-input semantics as offender
queries over one frame.

A check is a tuple of rules, each an offender predicate and the offender
columns it reports, plus the error message.  It is written once and runs in
one of two ways:

* alone (``enforce(df)``): one action collects up to ``limit`` offender rows
  and raises when there are any;
* riding a pass that already reads the frame: ``count()`` is an aggregate
  for ``DataFrame.observe`` on that pass, and ``enforce(df, n)`` collects the
  offender rows only when the observed count ``n`` is non-zero, to build the
  same message.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class Check:
    message: str  # str.format template; {} ← the collected offender rows
    limit: int
    rules: tuple[tuple[Column, tuple], ...]  # (offender predicate, offender columns)

    def offenders(self, df: DataFrame) -> DataFrame:
        """Every offender row, rule by rule."""
        parts = [df.where(pred).select(*cols) for pred, cols in self.rules]
        return reduce(DataFrame.unionByName, parts)

    def count(self) -> Column:
        """Aggregate counting the rows ``offenders`` would return."""
        return reduce(operator.add, [F.count(F.when(pred, 1)) for pred, _ in self.rules])

    def enforce(self, df: DataFrame, count: int | None = None) -> None:
        """Raise with up to ``limit`` offender rows; ``count`` is the observed
        offender count, when a pass already took it."""
        if count == 0:
            return
        rows = self.offenders(df).limit(self.limit).collect()
        if rows:
            raise ValueError(self.message.format(rows))
