"""NRQL-dialect string frontend: parse the reference's query strings
directly into LogQuery plans.

The reference's entire user-facing query surface is an NRQL string
(``src/ingestion/new_relic_fetcher.py:70-80`` composes one; ``main.py:19-25``
rewrites one with regexes). A user switching to this engine can hand those
same strings to ``run_nrql`` and get a DataFrame plan with the clauses
mapped declaratively — no string surgery downstream, and the time-window
"rewrite" (main.py:21-25) becomes just another SINCE/UNTIL.

Dialect (the subset the reference emits, exactly):

    SELECT `c1`,`c2` | * | agg[, agg …]      -- agg: count(*) | count(c) |
                                             --   sum(c) | average(c) |
                                             --   min(c) | max(c) |
                                             --   uniqueCount(c) |
                                             --   percentile(c, p) |
                                             --   latest(c) |
                                             --   filter(agg, WHERE bool) |
                                             --   histogram(c, ceil, nbkt) |
                                             --   rate(agg, <n> <unit>)
    FROM Table[, Table2 …]
    [WHERE <bool>]      -- conds composed with AND / OR and parentheses
                        --   (AND binds tighter; expr := term (OR term)*,
                        --   term := factor (AND factor)*, factor :=
                        --   '(' expr ')' | cond); cond is one of
                        --   `col` =|!=|<|<=|>|>= ('v' | number)
                        --   `col` [NOT] LIKE 'v'
                        --   `col` IN ('v1', 'v2', …)
                        --   `col` IS [NOT] NULL
    [FACET `c1`[, `c2` …]]
    [SINCE <n> <unit> ago | SINCE '<ts>' | SINCE <epoch-ms>]
    [UNTIL '<ts>' | UNTIL <epoch-ms>]
    [COMPARE WITH <n> <unit> ago]            -- current vs shifted window,
                                             --   tagged by a `period` col
    [LIMIT n]
    [TIMESERIES <n> <unit>]

The reference emits only the first three clause groups plus SINCE/UNTIL/
LIMIT (``new_relic_fetcher.py:70-80``); FACET/TIMESERIES cover the
dashboard's group-count metrics (``app.py:22-33``) in the same dialect a
New Relic user would write them. The epoch-ms time points are the form
``sources/logapi.py`` writes for each fetch window. ``sum``/``average``
aggregate through DECIMAL(27,4) and cast back to double: exact,
order-insensitive results (a straight double sum varies with partition
merge order). Not supported: nested functions, quoted strings containing
the literal clause keywords. Keywords are case-insensitive; values are
preserved.

One compiler per clause kind: ``parse_where`` parses every WHERE (the
query's and each ``filter()``'s) into one boolean tree, ``_where_pred``
compiles that tree to a Catalyst predicate, and ``_agg_expr`` builds every
aggregate, plain or guarded by a ``filter()`` condition. The reference
itself only ever ANDs WHERE clauses (``new_relic_fetcher.py:74-78``); OR +
parens are the Spark-side superset any real NRQL user hits immediately.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import union_tables
from .logquery import _REL, LogQuery, time_point

_CLAUSES = re.compile(
    r"^\s*SELECT\s+(?P<select>.+?)"
    r"\s+FROM\s+(?P<tables>.+?)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+FACET\s+(?P<facet>.+?))?"
    r"(?:\s+SINCE\s+(?P<since>(?:'[^']*')|(?:.+?(?=\s+UNTIL\s|\s+COMPARE\s|\s+LIMIT\s|\s+TIMESERIES\s|$))))?"
    r"(?:\s+UNTIL\s+(?P<until>(?:'[^']*')|(?:.+?(?=\s+COMPARE\s|\s+LIMIT\s|\s+TIMESERIES\s|$))))?"
    r"(?:\s+COMPARE\s+WITH\s+(?P<compare>.+?(?=\s+LIMIT\s|\s+TIMESERIES\s|$)))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?"
    r"(?:\s+TIMESERIES\s+(?P<timeseries>\d+\s+\w+?))?"
    r"\s*$",
    re.IGNORECASE | re.DOTALL,
)

#: the plain NRQL aggregates (lower-cased names) that ``_agg_expr`` builds
_AGG_FNS = {
    "count", "sum", "average", "min", "max", "uniquecount",
    "percentile", "latest",
}
_AGG = re.compile(
    r"^(?P<fn>\w+)\s*\(\s*(?P<arg>\*|`?\w+`?)"
    r"(?:\s*,\s*(?P<pct>\d+(?:\.\d+)?))?\s*\)$")

#: composite aggregates — NRQL's filter()/histogram()/rate() wrap a plain
#: aggregate (or attribute) with a condition / bucketing / time scaling
_FILTER = re.compile(
    r"^filter\s*\(\s*(?P<inner>\w+\s*\([^()]*\))\s*,\s*WHERE\s+"
    r"(?P<where>.+)\)$",
    re.IGNORECASE | re.DOTALL)
_HIST = re.compile(
    r"^histogram\s*\(\s*`?(?P<arg>\w+)`?\s*,\s*"
    r"(?P<ceil>\d+(?:\.\d+)?)\s*,\s*(?P<buckets>\d+)\s*\)$",
    re.IGNORECASE)
_RATE = re.compile(
    r"^rate\s*\(\s*(?P<inner>\w+\s*\([^()]*\))\s*,\s*"
    r"(?P<n>\d+)\s+(?P<unit>second|minute|hour|day|week)s?\s*\)$",
    re.IGNORECASE)

_UNIT_SECONDS = {"second": 1, "minute": 60, "hour": 3600,
                 "day": 86400, "week": 604800}

_NUM = r"-?\d+(?:\.\d+)?"

#: WHERE scanner: one token per step, and the leaf grammar itself — a
#: ``cond`` token's named groups are what ``_parse_leaf`` reads. ``\b``
#: after AND/OR keeps columns like `android` from matching the keyword;
#: conditions are scanned whole so quoted values may contain
#: parens/AND/OR freely. LIKE takes a quoted pattern only.
_WHERE_TOKEN = re.compile(
    r"\s*(?:"
    r"(?P<lpar>\()|"
    r"(?P<rpar>\))|"
    r"(?P<and>AND\b)|"
    r"(?P<or>OR\b)|"
    r"(?P<cond>`?(?P<col>\w+)`?\s+(?:"
    r"IS\s+(?P<is_not>NOT\s+)?NULL"
    r"|IN\s*\(\s*(?P<vals>'[^']*'(?:\s*,\s*'[^']*')*)\s*\)"
    r"|(?P<op>=|!=|<=|>=|<|>|(?:NOT\s+)?LIKE(?=\s+'))\s+"
    rf"(?:'(?P<val>[^']*)'|(?P<num>{_NUM}))"
    r"))"
    r")",
    re.IGNORECASE,
)


@dataclass
class ParsedNRQL:
    select: list[str]          # [] means aggregate query; ["*"] means all
    tables: list[str]
    since: str | None
    until: str | None
    limit: int | None = None
    aggs: list[tuple[str, str, str | None]] = field(
        default_factory=list)  # (fn, arg, pct-or-None)
    facet: list[str] = field(default_factory=list)
    timeseries: str | None = None   # "<n> <unit>" bucket width
    compare_with: str | None = None  # "<n> <unit> ago" period shift
    #: WHERE boolean tree: ("cond", col, OP, val) | ("and", (nodes…)) |
    #: ("or", (nodes…)); None when the query has no WHERE
    where: tuple | None = None


def _split_top(s: str) -> list[str]:
    """Split on commas at paren depth 0, outside single-quoted strings —
    ``percentile(c, 95)`` and ``filter(count(*), WHERE a = 'x,y')`` keep
    their internal commas."""
    parts: list[str] = []
    cur: list[str] = []
    depth, in_q = 0, False
    for ch in s:
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
                continue
        cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def _tokenize_where(s: str) -> list[tuple[str, object]]:
    """``s`` as ``(kind, payload)`` tokens: a ``cond`` token carries its
    parsed leaf, the others their text."""
    toks: list[tuple[str, object]] = []
    pos = 0
    while pos < len(s):
        m = _WHERE_TOKEN.match(s, pos)
        if not m:
            if s[pos:].strip():
                raise ValueError(f"unparseable condition: {s[pos:].strip()!r}")
            break
        pos = m.end()
        kind = m.lastgroup
        toks.append((kind, _parse_leaf(m) if kind == "cond"
                     else m.group(kind)))
    return toks


def _parse_leaf(m: re.Match) -> tuple:
    """One scanned WHERE condition as a ``("cond", col, OP, payload)``
    node.

    Payload by OP: quoted ops → str; numeric comparison → int/float;
    ``IN`` → tuple of strs; ``IS [NOT] NULL`` → None.
    """
    col = m.group("col")
    if m.group("vals") is not None:
        vals = tuple(v.strip()[1:-1] for v in _split_top(m.group("vals")))
        return ("cond", col, "IN", vals)
    if m.group("op") is None:
        op = "IS NOT NULL" if m.group("is_not") else "IS NULL"
        return ("cond", col, op, None)
    op = re.sub(r"\s+", " ", m.group("op").upper())
    raw = m.group("num")
    if raw is None:
        return ("cond", col, op, m.group("val"))
    return ("cond", col, op,
            int(raw) if re.fullmatch(r"-?\d+", raw) else float(raw))


def parse_where(s: str) -> tuple:
    """Parse a WHERE boolean expression into a tree.

    Grammar (AND binds tighter than OR, parens group):
        expr   := term (OR term)*
        term   := factor (AND factor)*
        factor := '(' expr ')' | cond
        cond   := col (=|!=|<|<=|>|>=) ('v' | number)
                | col [NOT] LIKE 'v'
                | col IN ('v1', 'v2', …)
                | col IS [NOT] NULL
    Nodes: ``("cond", col, OP, val)``, ``("and", (n…))``, ``("or", (n…))``.
    """
    toks = _tokenize_where(s)
    i = 0

    def peek():
        return toks[i][0] if i < len(toks) else None

    def expect_factor() -> tuple:
        nonlocal i
        kind = peek()
        if kind == "lpar":
            i += 1
            node = expr()
            if peek() != "rpar":
                raise ValueError(f"unbalanced parens in WHERE: {s!r}")
            i += 1
            return node
        if kind == "cond":
            i += 1
            return toks[i - 1][1]
        raise ValueError(f"unparseable condition: {s!r}")

    def term() -> tuple:
        nonlocal i
        parts = [expect_factor()]
        while peek() == "and":
            i += 1
            parts.append(expect_factor())
        return parts[0] if len(parts) == 1 else ("and", tuple(parts))

    def expr() -> tuple:
        nonlocal i
        parts = [term()]
        while peek() == "or":
            i += 1
            parts.append(term())
        return parts[0] if len(parts) == 1 else ("or", tuple(parts))

    tree = expr()
    if i != len(toks):
        raise ValueError(f"trailing tokens in WHERE: {s!r}")
    return tree


def _parse_plain_agg(p: str) -> tuple[str, str, str | None] | None:
    am = _AGG.match(p)
    if not am:
        return None
    fn = am.group("fn").lower()
    if fn not in _AGG_FNS:
        raise ValueError(f"unsupported NRQL function: {p!r}")
    if (am.group("pct") is None) == (fn == "percentile"):
        raise ValueError(
            f"percentile takes (attr, pct); others take one arg: {p!r}")
    return (fn, am.group("arg").strip("`"), am.group("pct"))


def _parse_agg(p: str):
    """One SELECT item as an agg tuple, or None if it isn't an aggregate.

    Plain aggs are ``(fn, arg, pct)``; composites reuse the 3-slot shape:
    ``("filter", inner_tuple, where_tree)``,
    ``("histogram", attr, (ceiling, buckets))``,
    ``("rate", inner_tuple, (n, unit))``.
    """
    fm = _FILTER.match(p)
    if fm:
        inner = _parse_plain_agg(fm.group("inner").strip())
        if inner is None:
            raise ValueError(f"filter() needs an aggregate: {p!r}")
        return ("filter", inner, parse_where(fm.group("where").strip()))
    hm = _HIST.match(p)
    if hm:
        buckets = int(hm.group("buckets"))
        if buckets < 1:
            raise ValueError(f"histogram needs >= 1 bucket: {p!r}")
        return ("histogram", hm.group("arg"),
                (float(hm.group("ceil")), buckets))
    rm = _RATE.match(p)
    if rm:
        inner = _parse_plain_agg(rm.group("inner").strip())
        if inner is None or inner[0] not in ("count", "sum", "uniquecount"):
            raise ValueError(
                f"rate() wraps count/sum/uniqueCount: {p!r}")
        return ("rate", inner,
                (int(rm.group("n")), rm.group("unit").lower()))
    if re.match(r"^(filter|histogram|rate)\s*\(", p, re.I):
        # a malformed composite must fail loudly, not degrade into a
        # plain-select of a bizarre "column" that errors at run time
        raise ValueError(f"unparseable composite aggregate: {p!r}")
    return _parse_plain_agg(p)


def parse_nrql(query: str) -> ParsedNRQL:
    m = _CLAUSES.match(query.strip())
    if not m:
        raise ValueError(f"unparseable NRQL: {query!r}")
    sel_raw = m.group("select").strip()
    sel_parts = _split_top(sel_raw)
    aggs: list[tuple] = []
    looks_agg = re.compile(r"^\w+\s*\(")
    if sel_raw != "*" and all(looks_agg.match(p) for p in sel_parts):
        parsed = [_parse_agg(p) for p in sel_parts]
        if all(a is not None for a in parsed):
            aggs = parsed
    if aggs:
        select: list[str] = []
    elif sel_raw == "*":
        select = ["*"]
    else:
        select = [c.strip().strip("`") for c in sel_parts]

    tables = [t.strip().strip("`") for t in m.group("tables").split(",")]
    facet = ([c.strip().strip("`") for c in m.group("facet").split(",")]
             if m.group("facet") else [])
    if facet and not aggs:
        raise ValueError("FACET requires an aggregate SELECT")

    where = parse_where(m.group("where")) if m.group("where") else None

    def _unquote(s: str | None) -> str | None:
        if s is None:
            return None
        s = s.strip()
        return s[1:-1] if s.startswith("'") and s.endswith("'") else s

    return ParsedNRQL(
        select=select, tables=tables,
        since=_unquote(m.group("since")), until=_unquote(m.group("until")),
        limit=int(m.group("limit")) if m.group("limit") else None,
        aggs=aggs, facet=facet,
        timeseries=(re.sub(r"\s+", " ", m.group("timeseries").strip())
                    if m.group("timeseries") else None),
        compare_with=(re.sub(r"\s+", " ", m.group("compare").strip())
                      if m.group("compare") else None),
        where=where,
    )


#: WHERE leaf op → predicate over (column, ``_parse_leaf`` payload)
_LEAF_PRED = {
    "=": lambda c, v: c == F.lit(v),
    "!=": lambda c, v: c != F.lit(v),
    "<": lambda c, v: c < F.lit(v),
    "<=": lambda c, v: c <= F.lit(v),
    ">": lambda c, v: c > F.lit(v),
    ">=": lambda c, v: c >= F.lit(v),
    "LIKE": lambda c, v: c.like(v),
    "NOT LIKE": lambda c, v: ~c.like(v),
    "IN": lambda c, v: c.isin(list(v)),
    "IS NULL": lambda c, v: c.isNull(),
    "IS NOT NULL": lambda c, v: c.isNotNull(),
}


def _where_pred(tree: tuple) -> F.Column:
    """Predicate Column from a ``parse_where`` tree — the one WHERE
    compiler, for the query's WHERE and every ``filter()`` condition.
    Top-level ANDs stay separate conjuncts to Catalyst, so parquet
    pushdown splits them; OR branches push down as a single disjunctive
    filter."""
    kind = tree[0]
    if kind == "cond":
        _, col, op, val = tree
        return _LEAF_PRED[op](F.col(col), val)
    parts = [_where_pred(c) for c in tree[1]]
    out = parts[0]
    for p in parts[1:]:
        out = (out & p) if kind == "and" else (out | p)
    return out


def _histogram_agg(arg: str, ceiling: float,
                   buckets: int) -> tuple[str, F.Column]:
    """NRQL ``histogram(attr, ceiling, buckets)``: equal-width buckets over
    [0, ceiling); values below 0 clamp into the first bucket, above the
    ceiling into the last (NRQL's behavior). One pass, ``buckets``
    conditional counts recombined into an array — no explode, no extra
    shuffle. The bucket index divides by an exact double width, which is
    IEEE-identical in any engine.
    """
    width = ceiling / buckets
    b = F.least(
        F.greatest(
            F.floor(F.col(arg).cast("double") / F.lit(width)).cast("long"),
            F.lit(0)),
        F.lit(buckets - 1))
    cells = [F.sum(F.when(b == i, F.lit(1)).otherwise(F.lit(0))).cast("long")
             for i in range(buckets)]
    return f"histogram_{arg}", F.array(*cells)


def _rate_agg(inner: tuple, n: int, unit: str,
              window_secs: F.Column) -> tuple[str, F.Column]:
    """NRQL ``rate(agg, n unit)``: the aggregate rescaled from the query
    window (or TIMESERIES bucket) to a per-``n unit`` rate. One double
    multiply/divide on the aggregate's output — bit-identical across
    engines; the exact-decimal accumulation of the inner agg is preserved.
    """
    fn, arg, pct = inner
    name, col = _agg_expr(fn, arg, pct)
    per = float(n * _UNIT_SECONDS[unit])
    return (f"rate_{name}",
            col.cast("double") * F.lit(per) / window_secs.cast("double"))


def _agg_expr(fn: str, arg, pct=None, ts_col: str = "ts",
              window_secs: F.Column | None = None,
              cond: F.Column | None = None) -> tuple[str, F.Column]:
    """One SELECT aggregate as ``(output name, Column)``.

    ``cond`` is a ``filter(agg, WHERE …)`` condition. It makes a
    conditional aggregate, NOT a row filter, so several filter() aggs
    with different conditions share one scan/pass: each aggregate's input
    is guarded by ``when(cond, ·)``, non-matching rows contribute NULL
    (skipped by every aggregate), matching DuckDB's
    ``agg(CASE WHEN cond THEN x END)``, and the name gains ``filter_``.
    """
    if fn == "filter":
        return _agg_expr(*arg, ts_col=ts_col, cond=_where_pred(pct))
    if fn == "histogram":
        return _histogram_agg(arg, pct[0], pct[1])
    if fn == "rate":
        if window_secs is None:
            raise ValueError(
                "rate() needs SINCE (or TIMESERIES) to define the window")
        return _rate_agg(arg, pct[0], pct[1], window_secs)

    def guard(c: F.Column) -> F.Column:
        return c if cond is None else F.when(cond, c)

    if fn == "count" and arg == "*":
        # filtered: ELSE 0, so a group with no match counts 0 (and an
        # empty global input sums to NULL), like SQL's SUM(CASE…ELSE 0)
        name, out = "count", (
            F.count("*") if cond is None else
            F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).cast("long"))
    elif fn == "count":
        name, out = f"count_{arg}", F.count(guard(F.col(arg)))
    elif fn == "uniquecount":
        name, out = f"uniquecount_{arg}", F.countDistinct(guard(F.col(arg)))
    elif fn == "sum":
        # DECIMAL(27,4) accumulate: order-insensitive exact sum (a double
        # sum's value depends on partition merge order), double on output
        name, out = f"sum_{arg}", (
            F.sum(guard(F.col(arg).cast("decimal(27,4)"))).cast("double"))
    elif fn == "average":
        # exact decimal sum, then ONE double division: IEEE division is
        # bit-identical across engines, while decimal division rounds at
        # an engine-chosen result scale (Spark picked 6 fractional digits
        # here vs DuckDB's 10 — observed value drift at the 7th digit)
        name, out = f"average_{arg}", (
            F.sum(guard(F.col(arg).cast("decimal(27,4)"))).cast("double")
            / F.count(guard(F.col(arg))))
    elif fn == "min":
        name, out = f"min_{arg}", F.min(guard(F.col(arg)))
    elif fn == "max":
        name, out = f"max_{arg}", F.max(guard(F.col(arg)))
    elif fn == "percentile":
        # NRQL's percentile is approximate server-side; we compute the
        # EXACT interpolated quantile (Spark `percentile`, one extra
        # shuffle of the grouped values) — a correctness superset with
        # identical DuckDB twin (quantile_cont). Rounded to 6dp so the
        # interpolation's last-bit FP noise can't flip a comparison.
        name = f"percentile_{arg}_{pct.replace('.', '_')}"
        out = F.round(F.percentile(guard(F.col(arg).cast("double")),
                                   F.lit(float(pct) / 100.0)), 6)
    elif fn == "latest":
        # value carried by the latest event; ties on the timestamp break
        # by the largest value (deterministic across engines, unlike a
        # bare max_by whose tie survivor is partition-order dependent)
        name, out = f"latest_{arg}", F.max(guard(
            F.struct(F.col(ts_col).alias("t"), F.col(arg).alias("v"))))["v"]
    else:
        raise ValueError(f"unsupported NRQL function: {fn}")
    return (name if cond is None else f"filter_{name}"), out


def run_nrql(spark: SparkSession, query: str,
             tables: dict[str, DataFrame], ts_col: str = "ts",
             now=None) -> DataFrame:
    """Execute an NRQL string against named DataFrames.

    ``tables`` maps NRQL table names to DataFrames; multi-table FROM unions
    them by name with missing columns allowed (S4/SO2 semantics). ``now``
    anchors relative SINCE windows for deterministic tests.
    """
    p = parse_nrql(query)
    missing = [t for t in p.tables if t not in tables]
    if missing:
        raise KeyError(f"unknown tables {missing}; have {sorted(tables)}")
    if p.compare_with and not p.aggs:
        raise ValueError("COMPARE WITH requires an aggregate SELECT")
    if p.compare_with and not p.since:
        raise ValueError("COMPARE WITH requires SINCE")
    src = (tables[p.tables[0]] if len(p.tables) == 1
           else union_tables(*[tables[t] for t in p.tables]))

    lq = LogQuery(src, ts_col=ts_col)
    if p.where is not None:
        # top-level ANDs stay separate conjuncts, so the parquet scan gets
        # one pushed filter per condition; an OR pushes as one predicate
        lq = lq.where_expr(_where_pred(p.where))
    # the window bounds: without UNTIL, a SINCE window ends at ``now``
    # for COMPARE WITH and rate(), while the row filter stays one-sided
    start = time_point(p.since, now) if p.since else None
    end = time_point(p.until, now) if p.until else None
    if start is not None and end is None:
        end = now if now is not None else F.current_timestamp()
    facet = list(p.facet)
    if p.compare_with:
        # COMPARE WITH <n> <unit> ago: evaluate the aggregate over the
        # current window AND the same-width window shifted back by the
        # offset, tagged by a `period` column ('current'/'previous') that
        # joins the facet keys — NRQL's two result sets as one relation.
        # Two filtered subtrees of one scan (windows may overlap when the
        # offset is smaller than the window width, so a single-pass
        # when() tag would drop rows); each side gets its own pushed-down
        # parquet predicate.
        mm = _REL.match(p.compare_with)
        if not mm:
            raise ValueError(
                f"unparseable COMPARE WITH offset: {p.compare_with!r}")
        delta = F.expr(
            f"INTERVAL {int(mm.group(1))} {mm.group(2).upper()}")
        ts = F.col(ts_col)
        base = lq.df()
        out = (
            base.filter((ts >= start) & (ts <= end))
            .withColumn("period", F.lit("current"))
            .unionByName(
                base.filter((ts >= start - delta) & (ts <= end - delta))
                .withColumn("period", F.lit("previous")))
        )
        facet = ["period"] + facet
    else:
        if start is not None:
            lq = lq.where_expr(F.col(ts_col) >= start)
        if p.until:
            lq = lq.where_expr(F.col(ts_col) <= end)
        if p.select and p.select != ["*"]:
            lq = lq.select(*p.select)
        if p.limit is not None and not p.aggs:
            lq = lq.limit(p.limit)
        out = lq.df()
    if p.aggs:
        wsec: F.Column | None = None
        if p.timeseries:
            # per-bucket rate: scale by the tumbling bucket width
            tn, tu = p.timeseries.split()
            wsec = F.lit(int(tn) * _UNIT_SECONDS[tu.lower().rstrip("s")])
        elif start is not None:
            # whole-window rate: seconds between the window bounds —
            # an expression of literals, constant-folded by Catalyst
            wsec = F.unix_timestamp(end) - F.unix_timestamp(start)
        exprs = [_agg_expr(fn, arg, pct, ts_col, wsec)
                 for fn, arg, pct in p.aggs]
        keys: list = [F.col(c) for c in facet]
        if p.timeseries:
            # epoch-aligned tumbling bucket (Spark window origin 1970-01-01)
            keys.append(F.window(F.col(ts_col), p.timeseries).alias("__win"))
        if keys:
            out = out.groupBy(*keys).agg(
                *[c.alias(n) for n, c in exprs])
            head = [F.col(c) for c in facet]
            if p.timeseries:
                head.append(F.col("__win.start").alias("bucket_start"))
            out = out.select(*head, *[F.col(n) for n, _ in exprs])
        else:
            out = out.agg(*[c.alias(n) for n, c in exprs])
        # NRQL LIMIT on a faceted query caps the number of groups; without
        # an ORDER the cap is arbitrary — callers wanting determinism sort
        # the returned frame
        if p.limit is not None:
            out = out.limit(p.limit)
    return out
