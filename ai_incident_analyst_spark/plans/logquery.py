"""LogQuery — a thin builder mirroring the reference's NRQL surface.

Reference parity: the NRQL dialect the pipeline composes and rewrites —
``SELECT cols FROM tables WHERE …/LIKE/NOT LIKE SINCE … [UNTIL …] LIMIT n``
(``src/ingestion/new_relic_fetcher.py:70-80``; regex time-window rewrite
``main.py:19-25``). The reference's only "IR" is that query string; here
every clause is a deferred DataFrame transformation, so the whole query
stays declarative and Catalyst pushes predicates/projection/limit into
the scan (the same pushdowns New Relic performed server-side, SURVEY.md §4).

``since``/``until`` accept absolute ISO strings or the NRQL-style
relative form "24 hours ago" (new_relic_fetcher.py:67). Relative windows
anchor to an injectable ``now`` so tests and oracles are deterministic.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_REL = re.compile(r"^\s*(\d+)\s+(second|minute|hour|day|week)s?\s+ago\s*$", re.I)


def time_point(when: str, now: Column | None = None) -> Column:
    """An NRQL time point as a Column: relative "<n> <unit> ago" anchored
    to ``now`` (or current_timestamp), all digits as epoch milliseconds
    (the form ``sources/logapi.py`` writes), else an absolute literal."""
    m = _REL.match(when)
    if m:
        qty, unit = int(m.group(1)), m.group(2).upper()
        anchor = now if now is not None else F.current_timestamp()
        return anchor - F.expr(f"INTERVAL {qty} {unit}")
    if when.strip().isdecimal():
        return F.timestamp_millis(F.lit(int(when)))
    return F.to_timestamp(F.lit(when))


class LogQuery:
    def __init__(self, df: DataFrame, ts_col: str = "ts"):
        self._df = df
        self._ts = ts_col
        self._pred: Column | None = None
        self._cols: Sequence[str] | None = None
        self._limit: int | None = None
        self._order: list[Column] = []

    # -- clause builders ----------------------------------------------------
    def select(self, *cols: str) -> "LogQuery":
        self._cols = cols
        return self

    def _and(self, p: Column) -> "LogQuery":
        self._pred = p if self._pred is None else (self._pred & p)
        return self

    def where(self, col: str, value) -> "LogQuery":
        return self._and(F.col(col) == F.lit(value))

    def where_expr(self, p: Column) -> "LogQuery":
        return self._and(p)

    def like(self, col: str, pattern: str) -> "LogQuery":
        return self._and(F.col(col).like(pattern))

    def not_like(self, col: str, pattern: str) -> "LogQuery":
        return self._and(~F.col(col).like(pattern))

    def since(self, when: str, now: Column | None = None) -> "LogQuery":
        return self._and(F.col(self._ts) >= time_point(when, now))

    def until(self, when: str, now: Column | None = None) -> "LogQuery":
        return self._and(F.col(self._ts) <= time_point(when, now))

    def order_by(self, *cols: Column) -> "LogQuery":
        self._order = list(cols)
        return self

    def limit(self, n: int) -> "LogQuery":
        self._limit = n
        return self

    # -- evaluation ---------------------------------------------------------
    def df(self) -> DataFrame:
        out = self._df
        if self._pred is not None:
            out = out.filter(self._pred)
        if self._cols:
            out = out.select(*self._cols)
        if self._order:
            out = out.orderBy(*self._order)
        if self._limit is not None:
            out = out.limit(self._limit)
        return out
