"""Calcite-dialect SQL front door: ``calcite_sql(spark, text)``.

SURVEY.md §7 phase 0 plans "sql.py: engine.sql(q) → spark.sql with a
pre-rewrite hook". The hook's job is the handful of places where the
reference's SQL dialect (Parser.jj + SqlStdOperatorTable semantics) and
Spark SQL disagree on DEFAULTS — not on expressiveness. Each rewrite
below is tied to a concrete divergence, verified against the reference's
own quidem expected outputs (tests/iq/):

1. **Default null collation** (``nulls_high=True``): Calcite sorts NULL
   as +infinity by default (NullCollation.HIGH,
   core/.../config/CalciteConnectionProperty DEFAULT_NULL_COLLATION;
   quidem winagg.iq:203-231 pins rank() putting the NULL-deptno row
   LAST). Spark's default is NULLS FIRST for ASC / LAST for DESC (low).
   The rewrite appends an explicit NULLS LAST (ASC) / NULLS FIRST (DESC)
   to every ORDER BY item that doesn't already state one — in top-level
   sorts, window specs, and WITHIN GROUP clauses alike.

2. **LISTAGG default separator**: Calcite's 1-arg LISTAGG joins with ','
   (SqlStdOperatorTable.java:2179, agg.iq:2725-2745); Spark's joins with
   the empty string. 1-arg calls gain an explicit ',' argument.

3. **FLOOR/CEIL-to-time-unit**: ``FLOOR(ts TO HOUR)``
   (SqlStdOperatorTable.java:1773-1778) is Spark's
   ``date_trunc('HOUR', ts)``. CEIL-to-unit has no Spark builtin and is
   rejected with a clear error instead of silently mistranslating.

4. **Quoted schema names**: the quidem scripts address catalogs as
   ``"scott".emp``; ``schema_views`` maps those onto registered view
   prefixes (Spark temp views are single-level).

All rewrites are token-scans that respect string literals and quoted
identifiers; none touch query STRUCTURE — Catalyst still owns parsing,
validation, and planning (SURVEY §0 role map).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from drill_calcite_spark.sqltext import (
    depth0_matches, partner, split_depth0, string_mask)

_WORD = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")

# what ends an ORDER BY list at depth 0: a terminator keyword or the
# closer of the enclosing group (an OVER spec, a subquery)
_ORDER_STOP = re.compile(
    r"\)|\b(?:limit|offset|fetch|rows|range|union|intersect|except|minus"
    r"|window|for)\b", re.I)


# Control char that cannot appear in any SQL the front door accepts —
# used to build inert placeholders for shielded string literals.
_LIT_SENTINEL = "\x1f"


def _shield_literals(text: str) -> "tuple[str, list[str]]":
    """Replace every single-quoted literal's CONTENT with an inert
    placeholder (``'\\x1f<k>\\x1f'``) so NO token rewrite can match
    inside it — keywords in literal text ('has pi here',
    'floor(d to day)', '(table t2)') must survive the pipeline verbatim,
    and unbalanced parens inside literals must not confuse the
    depth-counting scans. ``_unshield_literals`` restores the bodies
    after all rewrites ran. Double-quoted identifiers are NOT shielded:
    ``_rewrite_dquote_idents`` needs their contents. Doubled ''
    escapes stay inside the captured body and restore exactly."""
    lits: list[str] = []
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        if text[i] == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            if j < n:  # terminated literal
                out.append(f"'{_LIT_SENTINEL}{len(lits)}{_LIT_SENTINEL}'")
                lits.append(text[i + 1:j])
                i = j + 1
                continue
        out.append(text[i])
        i += 1
    return "".join(out), lits


def _unshield_literals(text: str, lits: "list[str]") -> str:
    return re.sub(
        f"{_LIT_SENTINEL}(\\d+){_LIT_SENTINEL}",
        lambda m: lits[int(m.group(1))], text)


def _word_at(text: str, i: int) -> str:
    m = _WORD.match(text, i)
    return m.group(0).lower() if m else ""


# one unit step for the CEIL rewrite (QUARTER has no interval literal)
_CEIL_STEP = {
    "year": "INTERVAL 1 YEAR", "quarter": "INTERVAL 3 MONTH",
    "month": "INTERVAL 1 MONTH", "week": "INTERVAL 1 WEEK",
    "day": "INTERVAL 1 DAY", "hour": "INTERVAL 1 HOUR",
    "minute": "INTERVAL 1 MINUTE", "second": "INTERVAL 1 SECOND",
}


# ---------------------------------------------------------------------
# Date-part predicate → sargable range rewrite (DateRangeRules,
# core/src/main/java/org/apache/calcite/rel/rules/DateRangeRules.java,
# wired in plan/RelOptRules.java:160): `EXTRACT(YEAR FROM d) = 1996`
# stays an opaque function predicate in Spark — it filters post-scan —
# while the equivalent `d >= DATE '1996-01-01' AND d < DATE
# '1997-01-01'` reaches the parquet scan's PushedFilters, engages
# row-group min/max skipping, and prunes date partitions. The rewrite
# below ports the decidable core: EXTRACT(YEAR ...) (and the year()
# shorthand) under any comparison, adjacent YEAR+MONTH / YEAR+QUARTER
# equality conjunctions (plus the YEAR+MONTH+DAY triple in any
# conjunct order → one day-wide range), and FLOOR(ts TO unit) compared to a
# unit-ALIGNED date/timestamp literal. Anything else (month-without-
# year combos, unaligned literals, <>) is left untouched — the
# original predicate is still correct, just not sargable, matching the
# rule's conservative posture.

_DR_CMP = r"(<>|!=|<=|>=|=|<|>)"
_DR_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "=",
            "<>": "<>", "!=": "!="}

_DR_EXTRACT = re.compile(
    rf"\b(?:extract\s*\(\s*year\s+from\s+([\w.]+)\s*\)|year\s*\(\s*([\w.]+)\s*\))"
    rf"\s*{_DR_CMP}\s*(\d{{1,4}})(?![\w.])", re.I)
_DR_EXTRACT_FLIP = re.compile(
    rf"(?<![\w.])(\d{{1,4}})\s*{_DR_CMP}\s*"
    r"(?:extract\s*\(\s*year\s+from\s+([\w.]+)\s*\)"
    r"|year\s*\(\s*([\w.]+)\s*\))", re.I)

_DR_UNIT_NEXT = {
    "year": lambda d: d.replace(year=d.year + 1),
    "quarter": lambda d: d.replace(
        year=d.year + (d.month + 2) // 12,
        month=(d.month + 2) % 12 + 1),
    "month": lambda d: d.replace(
        year=d.year + d.month // 12, month=d.month % 12 + 1),
    "day": None,   # fixed-width: timedelta below
    "hour": None,
}


def _dr_year_range(col: str, op: str, year: int,
                   lits: "list[str]") -> "str | None":
    if not 1 <= year <= 9998:
        return None

    def lit(y: int) -> str:
        lits.append(f"{y:04d}-01-01")
        return f"date '{_LIT_SENTINEL}{len(lits) - 1}{_LIT_SENTINEL}'"

    if op == "=":
        return f"({col} >= {lit(year)} and {col} < {lit(year + 1)})"
    if op == ">=":
        return f"{col} >= {lit(year)}"
    if op == ">":
        return f"{col} >= {lit(year + 1)}"
    if op == "<":
        return f"{col} < {lit(year)}"
    if op == "<=":
        return f"{col} < {lit(year + 1)}"
    if op in ("<>", "!="):
        # Calcite's Sarg form: the complement of one year is TWO ranges,
        # and parquet pushes Or(LessThan, GreaterThanOrEqual) fine. 3VL
        # holds: a NULL column makes both sides NULL, like the extract.
        return f"({col} < {lit(year)} or {col} >= {lit(year + 1)})"
    return None


_DR_FLOOR = re.compile(
    rf"\b(floor|ceil|ceiling)\s*\(\s*([\w.]+)\s+to\s+"
    rf"(year|quarter|month|day|hour)\s*\)"
    rf"\s*{_DR_CMP}\s*(date|timestamp)\s+"
    f"'{_LIT_SENTINEL}(\\d+){_LIT_SENTINEL}'", re.I)
_DR_FLOOR_FLIP = re.compile(
    rf"\b(date|timestamp)\s+'{_LIT_SENTINEL}(\d+){_LIT_SENTINEL}'"
    rf"\s*{_DR_CMP}\s*"
    r"(floor|ceil|ceiling)\s*\(\s*([\w.]+)\s+to\s+"
    r"(year|quarter|month|day|hour)\s*\)",
    re.I)

_DR_UNIT_PREV = {
    "year": lambda d: d.replace(year=d.year - 1),
    "quarter": lambda d: d.replace(
        year=d.year - (1 if d.month <= 3 else 0),
        month=(d.month - 4) % 12 + 1),
    "month": lambda d: d.replace(
        year=d.year - (1 if d.month == 1 else 0),
        month=(d.month - 2) % 12 + 1),
    "day": None,
    "hour": None,
}


def _dr_floor_range(fn: str, col: str, unit: str, op: str, kw: str,
                    raw: str, lits: "list[str]") -> "str | None":
    import datetime as _dt

    try:
        val = _dt.datetime.fromisoformat(raw.strip())
    except ValueError:
        return None
    trunc = {"year": val.replace(month=1, day=1, hour=0, minute=0,
                                 second=0, microsecond=0),
             "quarter": val.replace(month=val.month - (val.month - 1) % 3,
                                    day=1, hour=0, minute=0, second=0,
                                    microsecond=0),
             "month": val.replace(day=1, hour=0, minute=0, second=0,
                                  microsecond=0),
             "day": val.replace(hour=0, minute=0, second=0, microsecond=0),
             "hour": val.replace(minute=0, second=0, microsecond=0),
             }[unit]
    if trunc != val:
        return None  # unaligned literal: leave the FLOOR/CEIL form alone
    nxt, prv = _DR_UNIT_NEXT[unit], _DR_UNIT_PREV[unit]
    upper = (nxt(val) if nxt
             else val + _dt.timedelta(**{f"{unit}s": 1}))
    lower = (prv(val) if prv
             else val - _dt.timedelta(**{f"{unit}s": 1}))
    fmt = "%Y-%m-%d" if kw.lower() == "date" else "%Y-%m-%d %H:%M:%S"
    if kw.lower() == "date" and unit == "hour":
        return None  # an hour bound is not representable as DATE

    def lit(d: "_dt.datetime") -> str:
        lits.append(d.strftime(fmt))
        return f"{kw} '{_LIT_SENTINEL}{len(lits) - 1}{_LIT_SENTINEL}'"

    if fn == "floor":
        if op == "=":
            return f"({col} >= {lit(val)} and {col} < {lit(upper)})"
        if op == ">=":
            return f"{col} >= {lit(val)}"
        if op == ">":
            return f"{col} >= {lit(upper)}"
        if op == "<":
            return f"{col} < {lit(val)}"
        if op == "<=":
            return f"{col} < {lit(upper)}"
        if op in ("<>", "!="):
            return f"({col} < {lit(val)} or {col} >= {lit(upper)})"
        return None
    # CEIL: a value already on the boundary is its own ceiling
    # (SqlStdOperatorTable.java:1773-1778), so ceil(x)=L ⟺ L-u < x ≤ L
    if op == "=":
        return f"({col} > {lit(lower)} and {col} <= {lit(val)})"
    if op == ">=":
        return f"{col} > {lit(lower)}"
    if op == ">":
        return f"{col} > {lit(val)}"
    if op == "<":
        return f"{col} <= {lit(lower)}"
    if op == "<=":
        return f"{col} <= {lit(val)}"
    if op in ("<>", "!="):
        return f"({col} <= {lit(lower)} or {col} > {lit(val)})"
    return None


def _dr_not_bound(m: "re.Match[str]") -> bool:
    """True when the matched conjunction is directly preceded by an
    unparenthesized NOT. SQL precedence binds NOT tighter than AND, so
    in ``NOT extract(year FROM d) = 1995 AND extract(quarter FROM d) =
    2`` the NOT negates only the FIRST comparison — folding both
    conjuncts into one range and letting the NOT negate the fold flips
    rows (d = 1995-01-15: false under the original, true under the
    fold). The pair/triple rules bail here; the single-comparison
    rules then rewrite each conjunct separately, which keeps the NOT's
    scope intact (NOT of a parenthesized range ≡ NOT of the extract
    comparison). A parenthesized ``NOT (... AND ...)`` is unaffected:
    the ``(`` sits between the NOT and the match, the fold happens
    inside the parens, and the NOT negates the whole conjunction in
    both spellings."""
    return re.search(r"\bnot\s+$", m.string[:m.start()], re.I) is not None


# adjacent YEAR = y AND MONTH cmp m conjunction on the SAME column
# (both orders, ANY comparison direction on the month — r14 extends
# the r13 equality-only fold) → one sub-year range; Calcite's
# DateRangeRules composes these through its floorCeil context — the
# adjacent-conjunct subset is the decidable shape a text rewrite can
# prove. ``<>`` yields the complement WITHIN the year: two ranges,
# exactly the Sarg form (the substitution's bounded-OR grammar and
# parquet's Or() pushdown both consume it). A non-adjacent month
# conjunct simply stays behind as a residual predicate on top of the
# year range (correct, and the scan still gets the year bounds).
_DR_YM = re.compile(
    rf"\bextract\s*\(\s*year\s+from\s+([\w.]+)\s*\)\s*=\s*(\d{{1,4}})"
    rf"\s+and\s+"
    rf"extract\s*\(\s*month\s+from\s+([\w.]+)\s*\)\s*{_DR_CMP}\s*"
    r"(\d{1,2})(?![\w.])", re.I)
_DR_MY = re.compile(
    rf"\bextract\s*\(\s*month\s+from\s+([\w.]+)\s*\)\s*{_DR_CMP}\s*"
    r"(\d{1,2})"
    r"\s+and\s+"
    r"extract\s*\(\s*year\s+from\s+([\w.]+)\s*\)\s*=\s*(\d{1,4})"
    r"(?![\w.])", re.I)


def _dr_unit_in_year_range(col: str, year: int, op: str, k: int,
                           per_year: int, width: int,
                           lits: "list[str]") -> "str | None":
    """YEAR = year AND <unit> op k folded to date range(s), where the
    year splits into ``per_year`` units of ``width`` months (month:
    12×1, quarter: 4×3). The unit comparison selects a prefix, suffix,
    slice, or two-range complement of the year; out-of-domain k
    (month > 12, quarter = 0) degenerates naturally to the empty or
    whole-year range with identical 3VL (NULL column → NULL on both
    spellings, constant-false comparisons → empty range → false)."""
    if not 1 <= year <= 9998 or k < 0 or k > per_year + 1:
        return None

    def lit(unit_idx: int) -> str:
        # start of the unit_idx-th unit (1-based) of `year`; indexes
        # beyond per_year roll into the next year
        y = year + (unit_idx - 1) * width // 12
        mo = ((unit_idx - 1) * width) % 12 + 1
        lits.append(f"{y:04d}-{mo:02d}-01")
        return f"date '{_LIT_SENTINEL}{len(lits) - 1}{_LIT_SENTINEL}'"

    lo = max(1, min(k, per_year + 1))          # unit index bounds
    hi = max(1, min(k + 1, per_year + 1))
    if op == "=":
        if not 1 <= k <= per_year:
            return None  # constant-false equality: keep it visible
        return f"({col} >= {lit(k)} and {col} < {lit(k + 1)})"
    if op == ">=":
        return f"({col} >= {lit(lo)} and {col} < {lit(per_year + 1)})"
    if op == ">":
        return f"({col} >= {lit(hi)} and {col} < {lit(per_year + 1)})"
    if op == "<":
        return f"({col} >= {lit(1)} and {col} < {lit(lo)})"
    if op == "<=":
        return f"({col} >= {lit(1)} and {col} < {lit(hi)})"
    if op in ("<>", "!="):
        if not 1 <= k <= per_year:
            return None
        return (f"(({col} >= {lit(1)} and {col} < {lit(k)}) "
                f"or ({col} >= {lit(k + 1)} "
                f"and {col} < {lit(per_year + 1)}))")
    return None


# adjacent YEAR = y AND MONTH = m AND DAY = d conjunction on the SAME
# column, in ANY order of the three units → one DAY-wide range (the
# finest granularity DateRangeRules composes through its floorCeil
# context). An impossible calendar date (Feb 30) stays verbatim — the
# original predicate is still correct (always false), matching the
# rule's conservative posture. Must run BEFORE the YEAR+MONTH pair
# rule, which would otherwise consume the year+month prefix and leave
# the day conjunct as a post-scan residual.
_DR_YMD = re.compile(
    r"\bextract\s*\(\s*(year|month|day)\s+from\s+([\w.]+)\s*\)"
    r"\s*=\s*(\d{1,4})"
    r"\s+and\s+"
    r"extract\s*\(\s*(year|month|day)\s+from\s+([\w.]+)\s*\)"
    r"\s*=\s*(\d{1,4})"
    r"\s+and\s+"
    r"extract\s*\(\s*(year|month|day)\s+from\s+([\w.]+)\s*\)"
    r"\s*=\s*(\d{1,4})"
    r"(?![\w.])", re.I)


def _dr_day_range(col: str, year: int, month: int, day: int,
                  lits: "list[str]") -> "str | None":
    import datetime as _dt

    if not 1 <= year <= 9998:
        return None
    try:
        start = _dt.date(year, month, day)
    except ValueError:
        return None  # impossible date: leave the predicate verbatim
    nxt = start + _dt.timedelta(days=1)

    def lit(d: "_dt.date") -> str:
        lits.append(d.isoformat())
        return f"date '{_LIT_SENTINEL}{len(lits) - 1}{_LIT_SENTINEL}'"

    return f"({col} >= {lit(start)} and {col} < {lit(nxt)})"


# adjacent YEAR = y AND QUARTER cmp q conjunction on the SAME column
# (both orders, any comparison direction — r14) → one sub-year range
# (or the two-range <> complement) — the same floorCeil-context
# composition DateRangeRules applies to TimeUnitRange.QUARTER
# (rel/rules/DateRangeRules.java operates over YEAR/QUARTER/MONTH/…).
_DR_YQ = re.compile(
    rf"\bextract\s*\(\s*year\s+from\s+([\w.]+)\s*\)\s*=\s*(\d{{1,4}})"
    rf"\s+and\s+"
    rf"extract\s*\(\s*quarter\s+from\s+([\w.]+)\s*\)\s*{_DR_CMP}\s*(\d)"
    r"(?![\w.])", re.I)
_DR_QY = re.compile(
    rf"\bextract\s*\(\s*quarter\s+from\s+([\w.]+)\s*\)\s*{_DR_CMP}"
    r"\s*(\d)"
    r"\s+and\s+"
    r"extract\s*\(\s*year\s+from\s+([\w.]+)\s*\)\s*=\s*(\d{1,4})"
    r"(?![\w.])", re.I)


_DR_BETWEEN = re.compile(
    r"\b(?:extract\s*\(\s*year\s+from\s+([\w.]+)\s*\)|year\s*\(\s*([\w.]+)\s*\))"
    r"\s+between\s+(\d{1,4})\s+and\s+(\d{1,4})(?![\w.])", re.I)
_DR_IN = re.compile(
    r"\b(?:extract\s*\(\s*year\s+from\s+([\w.]+)\s*\)|year\s*\(\s*([\w.]+)\s*\))"
    r"\s+in\s*\(\s*(\d{1,4}(?:\s*,\s*\d{1,4})*)\s*\)", re.I)


# year(d)/quarter(d)/month(d)/day(d) shorthands → extract form, so the
# pair/triple composition rules below see ONE spelling (Spark's
# extract(UNIT FROM x) is exactly the shorthand's semantics). The
# lookahead pins the normalization to comparison/BETWEEN/IN positions —
# the shapes the rules can actually consume — so a COMPARISON-FREE
# projection (`SELECT year(d) FROM t`) keeps its spelling and its
# auto-generated display name. DOCUMENTED CAVEAT: the normalization is
# positional, not clause-aware, so an UNALIASED boolean projection
# (`SELECT year(d) = 1995 FROM t`) is also normalized — and the year
# rule then folds it to the range form, so its auto-generated column
# name becomes the range expression. Values are identical row-for-row;
# only the display name shifts. Alias the projection to pin a name
# (tests/test_sql_dialect.py pins both behaviors). Simple-operand only ([\w.]+); word boundaries keep
# add_months(/months_between(/today( untouched, and string literals
# are already shielded at this point.
_DR_SHORTHAND = re.compile(
    r"\b(year|quarter|month|day)\s*\(\s*([\w.]+)\s*\)"
    r"(?=\s*(?:<>|!=|<=|>=|=|<|>)|\s+(?:not\s+)?between\b|\s+in\s*\()",
    re.I)


def _rewrite_date_ranges(text: str, lits: "list[str]") -> str:
    text = _DR_SHORTHAND.sub(
        lambda m: f"extract({m.group(1).lower()} from {m.group(2)})",
        text)

    def between(m: "re.Match[str]") -> str:
        col, lo, hi = m.group(1) or m.group(2), int(m.group(3)), \
            int(m.group(4))
        if not (1 <= lo <= hi <= 9998):
            return m.group(0)
        a = _dr_year_range(col, ">=", lo, lits)
        b = _dr_year_range(col, "<=", hi, lits)
        return f"({a} and {b})"

    def inlist(m: "re.Match[str]") -> str:
        col = m.group(1) or m.group(2)
        years = sorted({int(y) for y in re.split(r"\s*,\s*", m.group(3))})
        if not all(1 <= y <= 9998 for y in years):
            return m.group(0)
        # adjacent years coalesce into one range; disjoint years become
        # an OR of ranges (parquet pushes Or(And(...), ...) filters)
        parts, i = [], 0
        while i < len(years):
            j = i
            while j + 1 < len(years) and years[j + 1] == years[j] + 1:
                j += 1
            a = _dr_year_range(col, ">=", years[i], lits)
            b = _dr_year_range(col, "<=", years[j], lits)
            parts.append(f"({a} and {b})")
            i = j + 1
        return parts[0] if len(parts) == 1 else \
            "(" + " or ".join(parts) + ")"

    text = _DR_BETWEEN.sub(between, text)
    text = _DR_IN.sub(inlist, text)

    def ymd(m: "re.Match[str]") -> str:
        if _dr_not_bound(m):
            return m.group(0)
        cols = {m.group(2).lower(), m.group(5).lower(),
                m.group(8).lower()}
        units = [m.group(1).lower(), m.group(4).lower(),
                 m.group(7).lower()]
        if len(cols) != 1 or sorted(units) != ["day", "month", "year"]:
            return m.group(0)
        vals = dict(zip(units, (int(m.group(3)), int(m.group(6)),
                                int(m.group(9)))))
        out = _dr_day_range(m.group(2), vals["year"], vals["month"],
                            vals["day"], lits)
        return out if out is not None else m.group(0)

    text = _DR_YMD.sub(ymd, text)

    def ym(m: "re.Match[str]") -> str:
        if _dr_not_bound(m) or m.group(1).lower() != m.group(3).lower():
            return m.group(0)  # NOT-bound first conjunct / different cols
        out = _dr_unit_in_year_range(
            m.group(1), int(m.group(2)), m.group(4), int(m.group(5)),
            12, 1, lits)
        return out if out is not None else m.group(0)

    def my(m: "re.Match[str]") -> str:
        if _dr_not_bound(m) or m.group(1).lower() != m.group(4).lower():
            return m.group(0)
        out = _dr_unit_in_year_range(
            m.group(1), int(m.group(5)), m.group(2), int(m.group(3)),
            12, 1, lits)
        return out if out is not None else m.group(0)

    text = _DR_YM.sub(ym, text)
    text = _DR_MY.sub(my, text)

    def yq(m: "re.Match[str]") -> str:
        if _dr_not_bound(m) or m.group(1).lower() != m.group(3).lower():
            return m.group(0)  # NOT-bound first conjunct / different cols
        out = _dr_unit_in_year_range(
            m.group(1), int(m.group(2)), m.group(4), int(m.group(5)),
            4, 3, lits)
        return out if out is not None else m.group(0)

    def qy(m: "re.Match[str]") -> str:
        if _dr_not_bound(m) or m.group(1).lower() != m.group(4).lower():
            return m.group(0)
        out = _dr_unit_in_year_range(
            m.group(1), int(m.group(5)), m.group(2), int(m.group(3)),
            4, 3, lits)
        return out if out is not None else m.group(0)

    text = _DR_YQ.sub(yq, text)
    text = _DR_QY.sub(qy, text)

    def ext(m: "re.Match[str]") -> str:
        col = m.group(1) or m.group(2)
        out = _dr_year_range(col, m.group(3), int(m.group(4)), lits)
        return out if out is not None else m.group(0)

    def ext_flip(m: "re.Match[str]") -> str:
        col = m.group(3) or m.group(4)
        out = _dr_year_range(col, _DR_FLIP[m.group(2)],
                             int(m.group(1)), lits)
        return out if out is not None else m.group(0)

    def flo(m: "re.Match[str]") -> str:
        fn = "floor" if m.group(1).lower() == "floor" else "ceil"
        out = _dr_floor_range(
            fn, m.group(2), m.group(3).lower(), m.group(4),
            m.group(5), lits[int(m.group(6))], lits)
        return out if out is not None else m.group(0)

    def flo_flip(m: "re.Match[str]") -> str:
        fn = "floor" if m.group(4).lower() == "floor" else "ceil"
        out = _dr_floor_range(
            fn, m.group(5), m.group(6).lower(), _DR_FLIP[m.group(3)],
            m.group(1), lits[int(m.group(2))], lits)
        return out if out is not None else m.group(0)

    text = _DR_EXTRACT.sub(ext, text)
    text = _DR_EXTRACT_FLIP.sub(ext_flip, text)
    text = _DR_FLOOR.sub(flo, text)
    return _DR_FLOOR_FLIP.sub(flo_flip, text)


def _rewrite_floor_to(text: str) -> str:
    """FLOOR(x TO unit) → date_trunc('UNIT', x);
    CEIL(x TO unit) → already-aligned guard + one interval step:
    ``CASE WHEN date_trunc(u, x) = x THEN date_trunc(u, x)
    ELSE date_trunc(u, x) + INTERVAL 1 u END`` — Calcite's ceiling
    semantics (SqlStdOperatorTable.java:1773-1778: a value already on
    the unit boundary is its own ceiling) in pure Catalyst expressions.
    WEEK follows date_trunc's Monday start, the same convention the
    FLOOR rewrite (and the green quidem corpus) already pins."""
    head = re.compile(r"\b(floor|ceil|ceiling)\s*\(", re.I)
    tail = re.compile(
        r"\s+to\s+(year|quarter|month|week|day|hour|minute|second)\s*$",
        re.I)
    pos = 0
    while True:
        m = head.search(text, pos)
        if not m:
            return text
        close = partner(text, m.end() - 1)
        tm = close is not None and tail.search(text, m.end(), close)
        if not tm:
            pos = m.end()  # plain numeric floor/ceil — leave untouched
            continue
        x, unit = text[m.end():tm.start()], tm.group(1).lower()
        tr = f"date_trunc('{unit.upper()}', {x})"
        if m.group(1).lower() in ("ceil", "ceiling"):
            repl = (f"(case when {tr} = {x} then {tr} "
                    f"else {tr} + {_CEIL_STEP[unit]} end)")
        else:
            repl = tr
        text = text[:m.start()] + repl + text[close + 1:]
        # rescan from the replacement start: x may itself contain a
        # nested FLOOR/CEIL-to-unit (date_trunc never re-matches)
        pos = m.start()


# TUMBLE group-window width in epoch micros per FIXED-WIDTH unit.
# MONTH/YEAR tumbles are not fixed-width; Calcite's validator likewise
# demands a constant interval — rejected loudly below.
_TUMBLE_MICROS = {
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 604_800_000_000,
}


class TumbleUnsupported(ValueError):
    """TUMBLE form the rewrite cannot express (variable-width unit or
    the 3-arg offset form) — loud-fail, never silently wrong."""


def _rewrite_tumble(text: str, lits: "list[str]") -> str:
    """``TUMBLE(ts, INTERVAL 'n' unit)`` / ``TUMBLE_START`` /
    ``TUMBLE_END`` — Calcite's $TUMBLE group-window family
    (SqlStdOperatorTable.java:2255-2287: TUMBLE in GROUP BY with the
    START/END auxiliaries in the select list) → pure epoch-micros bucket
    arithmetic:

        start = timestamp_micros(unix_micros(ts) - pmod(unix_micros(ts), W))
        end   = start + W micros

    ``pmod`` (not ``%``) keeps the floor semantics for pre-epoch
    timestamps. TUMBLE and TUMBLE_START both rewrite to the START
    expression, so a GROUP BY TUMBLE(...) key and a selected
    TUMBLE_START(...) are the same expression tree and Spark resolves
    the aggregate. Streaming TUMBLE over an unbounded source is the
    streaming battery's ``stream_tumble_hourly`` (window() + watermark);
    this rewrite is the batch GROUP BY form.

    The interval literal rides through ``_shield_literals`` — its body
    is recovered from ``lits``. Variable-width units (MONTH/YEAR) and
    the 3-arg offset form raise :class:`TumbleUnsupported`."""
    head = re.compile(r"\b(tumble_start|tumble_end|tumble)\s*\(", re.I)
    interval = re.compile(
        rf"^\s*interval\s+(?:'{_LIT_SENTINEL}(\d+){_LIT_SENTINEL}'|(\d+))"
        r"\s+(year|quarter|month|week|day|hour|minute|second)\s*$", re.I)
    pos = 0
    while True:
        m = head.search(text, pos)
        if not m:
            return text
        close = partner(text, m.end() - 1)
        if close is None:
            pos = m.end()
            continue
        args_split = split_depth0(text[m.end():close], ",")
        if len(args_split) != 2:
            raise TumbleUnsupported(
                f"{m.group(1).upper()} takes (datetime, interval); the "
                f"3-arg offset form is not supported "
                f"(got {len(args_split)} args)")
        x, iv = args_split[0].strip(), args_split[1]
        im = interval.match(iv)
        if not im:
            raise TumbleUnsupported(
                f"{m.group(1).upper()} requires a constant INTERVAL "
                f"second argument, got: {iv.strip()!r}")
        n = int(lits[int(im.group(1))] if im.group(1) is not None
                else im.group(2))
        unit = im.group(3).lower()
        if unit not in _TUMBLE_MICROS:
            raise TumbleUnsupported(
                f"TUMBLE window unit {unit.upper()} is not fixed-width")
        w = n * _TUMBLE_MICROS[unit]
        um = f"unix_micros({x})"
        start = f"timestamp_micros({um} - pmod({um}, {w}))"
        if m.group(1).lower() == "tumble_end":
            # wrap the WHOLE start expression (exact micros round-trip)
            # so it stays a subtree of the select expression — Spark then
            # matches it against the GROUP BY TUMBLE(...) key and the
            # aggregate resolves; a re-derived `... + w` spelling would
            # NOT match the grouping expression tree
            repl = f"timestamp_micros(unix_micros({start}) + {w})"
        else:
            repl = start
        text = text[:m.start()] + repl + text[close + 1:]
        pos = m.start() + len(repl)


def _gw_calls(text: str, head: "re.Pattern"):
    """Yield (match, end_index, args) for each ``head``-matched call,
    splitting top-level comma-separated arguments."""
    for m in head.finditer(text):
        close = partner(text, m.end() - 1)
        if close is not None:
            yield m, close + 1, split_depth0(text[m.end():close], ",")


_GW_INTERVAL = re.compile(
    rf"^\s*interval\s+(?:'{_LIT_SENTINEL}(\d+){_LIT_SENTINEL}'|(\d+))"
    r"\s+(year|quarter|month|week|day|hour|minute|second)\s*$", re.I)


def _gw_micros(arg: str, lits: "list[str]", op: str) -> int:
    """Fixed-width interval argument of a group-window function →
    micros; loud-fail otherwise (Calcite's validator likewise demands a
    constant fixed-width interval)."""
    im = _GW_INTERVAL.match(arg)
    if not im:
        raise TumbleUnsupported(
            f"{op} requires a constant INTERVAL argument, "
            f"got: {arg.strip()!r}")
    n = int(lits[int(im.group(1))] if im.group(1) is not None
            else im.group(2))
    unit = im.group(3).lower()
    if unit not in _TUMBLE_MICROS:
        raise TumbleUnsupported(
            f"{op} window unit {unit.upper()} is not fixed-width")
    return n * _TUMBLE_MICROS[unit]


def _rewrite_hop(text: str, lits: "list[str]") -> str:
    """``HOP(ts, slide, size)`` / ``HOP_START`` / ``HOP_END`` —
    Calcite's $HOP group-window family (SqlStdOperatorTable.java's
    HopTableFunction lineage; Calcite streaming docs spell the GROUP BY
    form) → Spark's native sliding ``window(ts, size, slide)``. The
    row-to-many-windows expansion is Spark's Expand under the aggregate
    (size/slide replicas BEFORE the exchange, map-side combined), and
    the auxiliaries become field references on the grouping struct:
    HOP → ``window(x, 'Z microseconds', 'S microseconds')``,
    HOP_START → ``window.start``, HOP_END → ``window.end`` (Spark names
    the sliding-window grouping struct ``window``; the statement must
    not bind that name to anything else). Window alignment matches
    Calcite: starts on slide multiples from the epoch, [start, start +
    size). One HOP argument triple per statement — the auxiliaries drop
    their arguments in the rewrite, so mixed triples would silently
    cross-wire and are rejected loudly instead."""
    head = re.compile(r"\b(hop_start|hop_end|hop)\s*\(", re.I)
    # The rewrite rebinds the bare name `window` (Spark's grouping-struct
    # name) for the auxiliary START/END references; a statement that
    # already binds or references that identifier would mis-resolve
    # SILENTLY — enforce the documented constraint loudly (r9 ADVICE).
    if head.search(text) and re.search(r"\bwindow\b", text, re.I):
        raise TumbleUnsupported(
            "HOP rewrite reserves the identifier `window` for Spark's "
            "grouping struct; rename the conflicting column/alias")
    out, triples = text, set()
    while True:
        found = False
        for m, end, args in _gw_calls(out, head):
            kind = m.group(1).lower()
            if len(args) != 3:
                raise TumbleUnsupported(
                    f"{kind.upper()} takes (datetime, slide, size); the "
                    f"4-arg offset form is not supported "
                    f"(got {len(args)} args)")
            x = args[0].strip()
            s = _gw_micros(args[1], lits, kind.upper())
            z = _gw_micros(args[2], lits, kind.upper())
            if s > z:
                raise TumbleUnsupported(
                    f"{kind.upper()}: slide must not exceed size "
                    f"({s} > {z} micros)")
            triples.add((x.lower(), s, z))
            if len(triples) > 1:
                raise TumbleUnsupported(
                    "one HOP (datetime, slide, size) triple per "
                    f"statement, saw: {sorted(triples)}")
            if kind == "hop":
                repl = (f"window({x}, '{z} microseconds', "
                        f"'{s} microseconds')")
            elif kind == "hop_start":
                repl = "window.start"
            else:
                repl = "window.end"
            out = out[:m.start()] + repl + out[end:]
            found = True
            break
        if not found:
            return out


def _rewrite_session(text: str, lits: "list[str]") -> str:
    """``SESSION(ts, gap)`` / ``SESSION_START`` / ``SESSION_END`` —
    Calcite's $SESSION group-window family → Spark's native
    ``session_window(ts, gap)``: windows merge events whose gaps stay
    within ``gap`` per grouping-key combination, end = last event +
    gap (Calcite/Flink and Spark agree on the convention). SESSION →
    ``session_window(x, 'G microseconds')``, SESSION_START →
    ``session_window.start``, SESSION_END → ``session_window.end``.
    Same one-argument-pair-per-statement contract as _rewrite_hop."""
    head = re.compile(r"\b(session_start|session_end|session)\s*\(", re.I)
    # same loud-fail shadow guard as _rewrite_hop (r9 ADVICE)
    if head.search(text) and re.search(r"\bsession_window\b", text, re.I):
        raise TumbleUnsupported(
            "SESSION rewrite reserves the identifier `session_window` for "
            "Spark's grouping struct; rename the conflicting column/alias")
    out, pairs = text, set()
    while True:
        found = False
        for m, end, args in _gw_calls(out, head):
            kind = m.group(1).lower()
            if len(args) != 2:
                raise TumbleUnsupported(
                    f"{kind.upper()} takes (datetime, gap), got "
                    f"{len(args)} args")
            x = args[0].strip()
            g = _gw_micros(args[1], lits, kind.upper())
            pairs.add((x.lower(), g))
            if len(pairs) > 1:
                raise TumbleUnsupported(
                    "one SESSION (datetime, gap) pair per statement, "
                    f"saw: {sorted(pairs)}")
            if kind == "session":
                repl = f"session_window({x}, '{g} microseconds')"
            elif kind == "session_start":
                repl = "session_window.start"
            else:
                repl = "session_window.end"
            out = out[:m.start()] + repl + out[end:]
            found = True
            break
        if not found:
            return out


# ------------------------------------------------- grouping-function glue
# Calcite's GROUPING/GROUPING_ID accept ANY columns in ANY order
# (SqlStdOperatorTable GROUPING; agg.iq:616-690), while Spark's
# grouping_id() demands the exact grouping-column list. Expand to the
# always-legal per-column form: grouping_id(a1..ak) = Σ grouping(ai)·2^(k-1-i).
# GROUP_ID() distinguishes DUPLICATE grouping sets — but Calcite itself
# de-duplicates them and returns 0 (CALCITE-1824, pinned by
# agg.iq:858-871's expected table), so the faithful rewrite is the
# constant 0 plus de-duplication of the GROUPING SETS list (Spark would
# otherwise emit the duplicate rows Calcite suppresses).


_IVL_PROD = re.compile(
    rf"([A-Za-z_][\w.]*|\"[\w$]+\")\s*\*\s*interval\s+(-)?\s*"
    rf"'{_LIT_SENTINEL}(\d+){_LIT_SENTINEL}'\s+"
    r"(year|month|day|hour|minute|second)s?(?:\s+to\s+"
    r"(month|minute|second))?", re.I)

_IVL_BASE = {  # base unit each qualifier accumulates into
    ("year", "month"): 12, ("hour", "minute"): 60,
    ("minute", "second"): 60, ("day", None): 1, ("hour", None): 1,
    ("minute", None): 1, ("second", None): 1, ("year", None): 1,
    ("month", None): 1,
}


def _rewrite_interval_products(text: str, lits: "list[str]") -> str:
    """``col * INTERVAL [-]'[-]v' unit [TO unit]`` → Calcite's canonical
    interval RENDERING as a string column (CALCITE-922, misc.iq:1372).
    Calcite parses a sign both OUTSIDE the quotes (``interval -'3'
    hour``) and inside (``interval -'-4' hour`` = +4), multiplies by
    the integer operand, and prints the value in the literal's
    qualifier form with an explicit sign: ``+20`` (single field),
    ``-45:00`` (HOUR TO MINUTE), ``+12-06`` (YEAR TO MONTH). Spark's
    interval types render differently AND PySpark cannot collect
    YearMonthIntervalType at all, so the product is emulated as exact
    integer arithmetic over the base unit (months / minutes / the
    field itself) and formatted in pure column algebra — the same
    string-emulation contract as the engine's TIME type. A NULL
    operand propagates (concat is null-strict)."""
    pos = 0
    while True:
        m = _IVL_PROD.search(text, pos)
        if not m:
            return text
        term, outer_neg = m.group(1), bool(m.group(2))
        body = lits[int(m.group(3))].strip()
        unit = m.group(4).lower()
        to_unit = m.group(5).lower() if m.group(5) else None
        inner_neg = body.startswith("-")
        digits = body.lstrip("-")
        base = _IVL_BASE.get((unit, to_unit))
        if base is None:
            pos = m.end()
            continue
        if to_unit:
            dm = re.fullmatch(r"(\d+)[-:](\d+)", digits)
            if not dm:
                pos = m.end()
                continue
            units = int(dm.group(1)) * base + int(dm.group(2))
        else:
            if not digits.isdigit():
                pos = m.end()
                continue
            units = int(digits)
        if inner_neg != outer_neg:  # exactly one sign → negative
            units = -units
        v = f"(cast(({term}) as bigint) * {units})"
        sign = f"case when {v} < 0 then '-' else '+' end"
        a = f"abs({v})"
        if to_unit:
            sep = "-" if (unit, to_unit) == ("year", "month") else ":"
            repl = (f"concat({sign}, cast({a} div {base} as string), "
                    f"'{sep}', lpad(cast({a} % {base} as string), 2, '0'))")
        else:
            repl = f"concat({sign}, cast({a} as string))"
        text = text[:m.start()] + repl + text[m.end():]
        pos = m.start() + len(repl)


_PERIOD_CTOR = re.compile(r"\bperiod\s*\(", re.I)
_PERIOD_IVL = re.compile(
    rf"^\s*interval\s+(-)?\s*'{_LIT_SENTINEL}(\d+){_LIT_SENTINEL}'\s+"
    r"(year|month|day|hour|minute|second)s?\s*$", re.I)
_PERIOD_MS = {"day": 86_400_000, "hour": 3_600_000, "minute": 60_000,
              "second": 1_000}


def _rewrite_period_ctor(text: str, lits: "list[str]") -> str:
    """CALCITE-715's PERIOD(a, b) constructor is literally ROW(a, b)
    (Parser.jj:4139-4153 PeriodConstructor → SqlStdOperatorTable.ROW)
    and Enumerable rows render their INTERNAL component values — a
    DATE prints as days since epoch, a year-month interval as months,
    a day-time interval as milliseconds (misc.iq:623's ``{0, 12}`` /
    ``{null, 12}`` expected table). Reproduced as a struct of the same
    internals in pure column algebra: a DATE argument becomes its
    datediff day count, an interval literal its internal unit count.
    Periods CONSUMED by the CONTAINS/OVERLAPS operator family take the
    (start, end) pair path instead (queries/funcs.py period ops) —
    this rewrite covers only the bare constructor's rendering
    contract, which is all Calcite itself implements."""
    pos = 0
    while True:
        m = _PERIOD_CTOR.search(text, pos)
        if not m:
            return text
        close = partner(text, m.end() - 1)
        args = (split_depth0(text[m.end():close], ",")
                if close is not None else [])
        if len(args) < 2:
            pos = m.end()
            continue

        def comp(a: str) -> str:
            im = _PERIOD_IVL.match(a)
            if im:
                body = lits[int(im.group(2))].strip()
                n = int(body.lstrip("-"))
                neg = bool(im.group(1)) != body.startswith("-")
                unit = im.group(3).lower()
                v = (n * 12 if unit == "year" else n
                     if unit == "month" else n * _PERIOD_MS[unit])
                return str(-v if neg else v)
            return (f"cast(datediff(cast(({a}) as date), "
                    f"date '1970-01-01') as int)")

        repl = (f"struct({comp(','.join(args[:-1]).strip())}, "
                f"{comp(args[-1].strip())})")
        text = text[:m.start()] + repl + text[close + 1:]


_JSON_EXISTS = re.compile(r"\bjson_exists\s*\(", re.I)


def _rewrite_json_exists(text: str, lits: "list[str]") -> str:
    """``JSON_EXISTS(j, 'path' [mode ON ERROR])`` (SqlJsonExistsFunction;
    misc.iq:2098) → ``get_json_object(j, path) IS NOT NULL``. The
    ``strict``/``lax`` prefix is stripped (Spark's JSONPath has no mode
    keyword; both behave identically on the existence test for
    non-array paths). The ON ERROR mode is dropped: get_json_object
    yields NULL on malformed JSON, which reproduces Calcite's default
    FALSE ON ERROR — TRUE/UNKNOWN/ERROR modes on MALFORMED input are a
    documented divergence (the corpus case uses the default-equivalent
    FALSE). A JSON null value also reads as not-existing here (Spark
    renders it as SQL NULL) — same leniency family."""
    pos = 0
    while True:
        m = _JSON_EXISTS.search(text, pos)
        if not m:
            return text
        close = partner(text, m.end() - 1)
        parts = ([p.strip() for p in split_depth0(text[m.end():close], ",")]
                 if close is not None else [])
        if len(parts) != 2:
            pos = m.end()
            continue
        j, path = parts
        pm = re.match(
            rf"^'{_LIT_SENTINEL}(\d+){_LIT_SENTINEL}'"
            r"(?:\s+(true|false|unknown|error)\s+on\s+error)?$",
            path, re.I)
        if not pm:
            pos = m.end()
            continue
        body = re.sub(r"^\s*(strict|lax)\s+", "",
                      lits[int(pm.group(1))], flags=re.I)
        lits.append(body)
        newlit = f"'{_LIT_SENTINEL}{len(lits) - 1}{_LIT_SENTINEL}'"
        repl = f"(get_json_object({j}, {newlit}) is not null)"
        text = text[:m.start()] + repl + text[close + 1:]
        pos = m.start() + len(repl)


def _rewrite_grouping_funcs(text: str) -> str:
    text = re.sub(r"\bgroup_id\s*\(\s*\)", "0", text, flags=re.I)
    pat = re.compile(r"\b(grouping_id|grouping)\s*\(", re.I)
    pos = 0
    while True:
        m = pat.search(text, pos)
        if not m:
            return text
        close = partner(text, m.end() - 1)
        if close is None:
            pos = m.end()
            continue
        items = [a.strip() for a in split_depth0(text[m.end():close], ",")]
        if m.group(1).lower() == "grouping" and len(items) == 1:
            pos = m.end()  # native single-column grouping
            continue
        k = len(items)
        repl = "(" + " + ".join(
            f"grouping({a}) * {2 ** (k - 1 - i)}" if k - 1 - i else
            f"grouping({a})"
            for i, a in enumerate(items)) + ")"
        text = text[:m.start()] + repl + text[close + 1:]
        pos = m.start() + len(repl)


_HAVING_KW = re.compile(r"\bhaving\b", re.I)
_SELECT_KW = re.compile(r"\bselect\b(\s+distinct\b)?", re.I)
_FROM_KW = re.compile(r"\bfrom\b", re.I)
_TAIL_KW = re.compile(r"\border\s+by\b|\blimit\b|\boffset\b", re.I)


def _rewrite_having_grouping(text: str) -> str:
    """HAVING over GROUPING()/GROUPING_ID() ARITHMETIC (agg.iq:651/:683
    — ``having grouping(deptno) <= grouping_id(deptno, gender,
    deptno)``): Spark resolves grouping functions in HAVING only over
    columns visible in the output and rejects these with
    UNRESOLVED_COLUMN. Lift the condition into the projection of a
    subquery and filter outside — semantically identical (HAVING is a
    post-aggregate filter), and inside the projection Spark resolves
    grouping() against the GROUP BY natively. Requires every select
    item to be aliased or a bare column (the outer SELECT must be able
    to re-project by name); falls through verbatim otherwise."""
    having = next(iter(depth0_matches(text, _HAVING_KW)), None)
    if having is None:
        return text
    tail = next((m for m in depth0_matches(text, _TAIL_KW)
                 if m.start() > having.end()), None)
    cond_end = tail.start() if tail else len(text)
    cond = text[having.end():cond_end].strip()
    if not re.search(r"\bgrouping(_id)?\s*\(", cond, re.I):
        return text
    sel = next(iter(depth0_matches(text, _SELECT_KW)), None)
    if sel is None or sel.group(1):  # DISTINCT: extra column changes it
        return text
    frm = next((m for m in depth0_matches(text, _FROM_KW)
                if m.start() > sel.end()), None)
    if frm is None or frm.start() > having.start():
        return text
    outs = []
    for it in split_depth0(text[sel.end():frm.start()], ","):
        it = it.strip()
        ma = re.search(r"\s+as\s+(\w+)\s*$", it, re.I)
        if ma:
            outs.append(ma.group(1))
        elif re.fullmatch(r"[\w.]+", it):
            outs.append(it.split(".")[-1])
        else:
            return text
    if len(set(o.lower() for o in outs)) != len(outs):
        return text
    inner = (text[sel.start():frm.start()].rstrip()
             + f", ({cond}) as __hv "
             + text[frm.start():having.start()])
    return (text[:sel.start()]
            + f"select {', '.join(outs)} from ({inner}) __havg "
            + "where __hv"
            + (" " + text[cond_end:] if tail else ""))


_ORDER_BY_KW = re.compile(r"\border\s+by\b", re.I)
_LIMIT_KW = re.compile(r"\blimit\b|\boffset\b", re.I)
_GROUP_BY_KW = re.compile(r"\bgroup\s+by\b", re.I)


def _rewrite_orderby_grouping(text: str) -> str:
    """ORDER BY over GROUPING()/GROUPING_ID() (agg.iq:683 — ``group by
    rollup(deptno) order by grouping(deptno), c``): Spark resolves
    grouping functions only against the aggregate's own projection, so
    an ORDER BY key over a non-output column fails. Lift every
    grouping-bearing sort key into the projection of a subquery
    (``__ob{i}``), order outside, and re-project the original output
    columns — the sort is a post-aggregate operator, so the transform
    is exact. Same aliasable-select-list contract as the HAVING lift."""
    ob = next(iter(depth0_matches(text, _ORDER_BY_KW)), None)
    if ob is None:
        return text
    lim = next((m for m in depth0_matches(text, _LIMIT_KW)
                if m.start() > ob.end()), None)
    items_end = lim.start() if lim else len(text)
    items = split_depth0(text[ob.end():items_end], ",")
    if not any(re.search(r"\bgrouping(_id)?\s*\(", it, re.I)
               for it in items):
        return text
    sel = next(iter(depth0_matches(text, _SELECT_KW)), None)
    if sel is None or sel.group(1):
        return text
    gb = next((m for m in depth0_matches(text, _GROUP_BY_KW)
               if m.start() > sel.end() and m.start() < ob.start()), None)
    if gb is None:
        return text
    frm = next((m for m in depth0_matches(text, _FROM_KW)
                if m.start() > sel.end()), None)
    if frm is None or frm.start() > gb.start():
        return text
    outs = []
    for it in split_depth0(text[sel.end():frm.start()], ","):
        it = it.strip()
        ma = re.search(r"\s+as\s+(\w+)\s*$", it, re.I)
        if ma:
            outs.append(ma.group(1))
        elif re.fullmatch(r"[\w.]+", it):
            outs.append(it.split(".")[-1])
        else:
            return text
    if len(set(o.lower() for o in outs)) != len(outs):
        return text
    extra, order_items = [], []
    for it in items:
        m_dir = re.match(r"^(.*?)(\s+(?:asc|desc)"
                         r"(?:\s+nulls\s+(?:first|last))?)?\s*$",
                         it, re.I | re.S)
        expr, suffix = m_dir.group(1).strip(), m_dir.group(2) or ""
        if re.search(r"\bgrouping(_id)?\s*\(", expr, re.I):
            alias = f"__ob{len(extra)}"
            extra.append(f"({expr}) as {alias}")
            order_items.append(alias + suffix)
        else:
            order_items.append(expr + suffix)
    inner = (text[sel.start():frm.start()].rstrip()
             + ", " + ", ".join(extra) + " "
             + text[frm.start():ob.start()])
    return (text[:sel.start()]
            + f"select {', '.join(outs)} from ({inner}) __obg "
            + "order by " + ", ".join(order_items)
            + (" " + text[items_end:] if lim else ""))


def _rewrite_grouping_sets_dedup(text: str) -> str:
    pat = re.compile(r"\bgrouping\s+sets\s*\(", re.I)
    pos = 0
    while True:
        m = pat.search(text, pos)
        if not m:
            return text
        close = partner(text, m.end() - 1)
        if close is None:
            pos = m.end()
            continue
        seen, kept = set(), []
        for item in split_depth0(text[m.end():close], ","):
            key = re.sub(r"\s+", "", item).lower()
            if key in seen:
                continue
            seen.add(key)
            kept.append(item.strip())
        repl = "grouping sets (" + ", ".join(kept) + ")"
        text = text[:m.start()] + repl + text[close + 1:]
        pos = m.start() + len(repl)


# ------------------------------------------------------------- sequences
_SEQ_REF = re.compile(
    r"\b(next|current)\s+value\s+for\s+"
    r"((?:\"[\w$]+\"|\w+)(?:\s*\.\s*(?:\"[\w$]+\"|\w+))?)", re.I)


def _seq_name(ref: str) -> str:
    """Normalize a possibly schema-qualified, possibly dquoted sequence
    reference to the bare lowercase name (the flat registry key)."""
    last = ref.split(".")[-1].strip()
    return last.strip('"').lower()


def _rewrite_sequences(text: str) -> str:
    """NEXT VALUE FOR seq → start-offset + ROW_NUMBER (one value per
    produced row); CURRENT VALUE FOR seq → the last issued value as a
    literal. Counter state lives in catalog._SEQUENCES; calcite_sql
    advances it by the statement's RESULT row count (see catalog.py
    contract). Caveat that follows: a sequence reference inside the
    sub-query of an AGGREGATING statement drains only the aggregated
    row count — put the sequence in the top-level select and aggregate
    on the returned DataFrame for block semantics
    (queries/funcs.func_sequence_next shows the pattern). Unknown
    sequence → loud ValueError mirroring Calcite's 'Table not found'
    validation error (sequence.iq's !error cases)."""
    from drill_calcite_spark.catalog import get_sequence

    def sub(m: "re.Match[str]") -> str:
        kind = m.group(1).lower()
        name = _seq_name(m.group(2))
        seq = get_sequence(name)
        if seq is None:
            raise ValueError(
                f"calcite_sql: Table '{m.group(2)}' not found "
                f"(not a registered sequence)")
        base, inc = seq["next"], seq["inc"]
        if kind == "next":
            return (f"(CAST({base - inc} AS BIGINT) + "
                    f"CAST({inc} AS BIGINT) * "
                    f"row_number() OVER (ORDER BY 1))")
        return f"CAST({base - inc} AS BIGINT)"

    return _SEQ_REF.sub(sub, text)


# ------------------------------------------------------------------ JSON
# JSON_OBJECT('k': v, …) / JSON_OBJECTAGG(k: v) / JSON_ARRAYAGG(v …)
# (SqlStdOperatorTable JSON family; agg.iq:2586-2710). Calcite renders
# JSON objects from a java.util.HashMap, so KEY ORDER in its output is
# HashMap iteration order: bucket = (h ^ (h >>> 16)) & 15 over
# String.hashCode with the default capacity 16, insertion-ordered within
# a bucket. The rewrites reproduce that exactly — at REWRITE time for
# JSON_OBJECT (literal keys), at RUNTIME for JSON_OBJECTAGG (a stable
# array_sort over computed buckets; Spark's comparator sort is a stable
# mergesort, verified in tests). Values render through a one-field
# to_json so numeric/string/null quoting matches a real JSON writer.

_JSON_CALL = re.compile(
    r"\b(json_objectagg|json_arrayagg|json_object)\s*\(", re.I)


def _java_hash_bucket(key: str) -> int:
    """Python twin of Java's HashMap bucket for a String key (cap 16)."""
    h = 0
    for ch in key:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return ((h ^ (h >> 16)) & 0xFFFFFFFF) & 15


def _sql_bucket(key_expr: str) -> str:
    """SQL twin of ``_java_hash_bucket`` (bind h once via the
    one-element-transform trick to avoid macro duplication)."""
    h = (f"aggregate(split({key_expr}, ''), 0L, "
         f"(h, c) -> pmod(31*h + ascii(c), 4294967296L))")
    return (f"transform(array({h}), _h -> "
            f"pmod(CAST(_h ^ shiftright(_h, 16) AS BIGINT), 16))[0]")


def _sql_jv(val_expr: str) -> str:
    """Render one value as JSON text (quotes strings, bare numerics,
    ``null`` for NULL) via a single-field to_json."""
    j = (f"to_json(named_struct('a', {val_expr}), "
         f"map('ignoreNullFields', 'false'))")
    return (f"transform(array({j}), _j -> "
            f"substring(_j, 6, length(_j) - 6))[0]")


_NULL_CLAUSE = re.compile(r"\s+(null|absent)\s+on\s+null\s*$", re.I)
_FORMAT_JSON = re.compile(r"\s+format\s+json\s*$", re.I)
_ORDER_CLAUSE = re.compile(
    r"\s+order\s+by\s+(.+?)(\s+(asc|desc))?\s*$", re.I)
_LIT_REF = re.compile(f"^\\s*'{_LIT_SENTINEL}(\\d+){_LIT_SENTINEL}'\\s*$")


def _rewrite_json_calls(text: str, lits: "list[str]") -> str:
    """Rewrite the three JSON constructor/aggregate forms, innermost
    first. Runs on SHIELDED text: literal keys are placeholder refs
    resolved through ``lits``, and emitted string fragments are
    appended to ``lits`` so later pipeline passes cannot touch them."""
    def emit_lit(body: str) -> str:
        lits.append(body)
        return f"'{_LIT_SENTINEL}{len(lits) - 1}{_LIT_SENTINEL}'"

    def one(m: "re.Match[str]") -> "str | None":
        fn = m.group(1).lower()
        close = partner(text, m.end() - 1)
        if close is None:
            return None
        args = text[m.end():close]
        if _JSON_CALL.search(args):
            return None  # not innermost — recurse later
        if fn == "json_object":
            pairs = []
            for part in split_depth0(args, ","):
                k_txt, v_txt = split_depth0(part, ":")
                lm = _LIT_REF.match(k_txt)
                if not lm:
                    raise ValueError(
                        "calcite_sql: json_object keys must be string "
                        f"literals, got {k_txt!r}")
                key = lits[int(lm.group(1))]
                v_txt = v_txt.strip()
                fm = _FORMAT_JSON.search(v_txt)
                if fm:
                    v_txt = v_txt[:fm.start()]
                rendered = v_txt if fm else _sql_jv(v_txt)
                pairs.append((key, rendered))
            pairs.sort(key=lambda p: _java_hash_bucket(p[0]))  # stable
            body = " || ".join(
                f"{emit_lit(('' if n == 0 else ',') + '%s:' % _jq(k))}"
                f" || {v}" for n, (k, v) in enumerate(pairs))
            repl = f"(({emit_lit('{')} || {body}) || {emit_lit('}')})"
        elif fn == "json_objectagg":
            a = args
            nc = _NULL_CLAUSE.search(a)
            absent = bool(nc and nc.group(1).lower() == "absent")
            if nc:
                a = a[:nc.start()]
            k_txt, v_txt = split_depth0(a, ":")
            k_txt, v_txt = k_txt.strip(), v_txt.strip()
            guard = (f"({k_txt}) IS NOT NULL AND ({v_txt}) IS NOT NULL"
                     if absent else f"({k_txt}) IS NOT NULL")
            entries = (
                f"collect_list(CASE WHEN {guard} THEN "
                f"struct(({k_txt}) AS k, {_sql_jv(v_txt)} AS v) END)")
            sorted_ = (
                f"array_sort(transform({entries}, _e -> "
                f"struct({_sql_bucket('_e.k')} AS b, _e.k AS k, "
                f"_e.v AS v)), (l, r) -> CASE WHEN l.b < r.b THEN -1 "
                f"WHEN l.b > r.b THEN 1 ELSE 0 END)")
            dq = emit_lit('"')
            mid = emit_lit('":')
            repl = (f"(({emit_lit('{')} || concat_ws({emit_lit(',')}, "
                    f"transform({sorted_}, _e -> "
                    f"concat({dq}, _e.k, {mid}, _e.v)))) "
                    f"|| {emit_lit('}')})")
        else:  # json_arrayagg
            a = args
            nc = _NULL_CLAUSE.search(a)
            null_on_null = bool(nc and nc.group(1).lower() == "null")
            if nc:
                a = a[:nc.start()]
            oc = _ORDER_CLAUSE.search(a)
            order_expr = order_desc = None
            if oc:
                order_expr = oc.group(1).strip()
                order_desc = (oc.group(3) or "asc").lower() == "desc"
                a = a[:oc.start()]
            fm = _FORMAT_JSON.search(a)
            if fm:
                a = a[:fm.start()]
            v_txt = a.strip()
            rendered = v_txt if fm else _sql_jv(v_txt)
            sort_key = order_expr if order_expr else "0"
            entry = f"struct(({sort_key}) AS s, {rendered} AS v)"
            if not null_on_null:
                entry = (f"CASE WHEN ({v_txt}) IS NOT NULL "
                         f"THEN {entry} END")
            entries = f"collect_list({entry})"
            if order_expr:
                lo, hi = ("1", "-1") if order_desc else ("-1", "1")
                entries = (
                    f"array_sort({entries}, (l, r) -> "
                    f"CASE WHEN l.s < r.s THEN {lo} "
                    f"WHEN l.s > r.s THEN {hi} ELSE 0 END)")
            repl = (f"(({emit_lit('[')} || concat_ws({emit_lit(',')}, "
                    f"transform({entries}, _e -> _e.v))) "
                    f"|| {emit_lit(']')})")
        return text[:m.start()] + repl + text[close + 1:]

    guard_iters = 0
    while True:
        replaced = False
        for m in _JSON_CALL.finditer(text):
            new = one(m)
            if new is not None:
                text, replaced = new, True
                break
        if not replaced:
            return text
        guard_iters += 1
        if guard_iters > 50:
            raise ValueError("calcite_sql: json rewrite did not converge")


def _jq(key: str) -> str:
    """A JSON object key fragment: '"<key>":' minus the trailing colon
    handled by the caller."""
    return f'"{key}"'


def _rewrite_listagg(text: str) -> str:
    """listagg(expr) → listagg(expr, ',') when the call has exactly one
    top-level argument (Calcite's default comma separator)."""
    out, consumed = [], 0
    for m in re.finditer(r"\blistagg\s*\(", text, re.I):
        close = partner(text, m.end() - 1)
        if close is None or len(split_depth0(text[m.end():close], ",")) > 1:
            continue
        out.append(text[consumed:close])
        out.append(", ','")
        consumed = close
    out.append(text[consumed:])
    return "".join(out)


def _order_items(text: str, start: int) -> "list[tuple[int, int]]":
    """(item_start, item_end) spans of the ORDER BY list starting at
    ``start`` (just past 'by'), ending at a terminator keyword, an
    unbalanced ')', or end of text; surrounding whitespace trimmed."""
    body = text[start:]
    stop = next(iter(depth0_matches(body, _ORDER_STOP)), None)
    spans, pos = [], start
    for item in split_depth0(body[:stop.start() if stop else None], ","):
        if item.strip():
            spans.append((pos + len(item) - len(item.lstrip()),
                          pos + len(item.rstrip())))
        pos += len(item) + 1
    return spans


def _rewrite_nulls_high(text: str) -> str:
    """Append NULLS LAST (ASC) / NULLS FIRST (DESC) to every ORDER BY
    item lacking an explicit NULLS clause — Calcite's HIGH default."""
    mask = string_mask(text)
    edits: list[tuple[int, str]] = []
    for m in re.finditer(r"\border\s+by\b", text, re.I):
        if mask[m.start()]:
            continue
        for a, b in _order_items(text, m.end()):
            words = [w.lower() for w in _WORD.findall(text[a:b])]
            if "nulls" in words:
                continue
            direction = "desc" if words and words[-1] == "desc" else "asc"
            suffix = " NULLS FIRST" if direction == "desc" else " NULLS LAST"
            edits.append((b, suffix))
    for pos, suffix in sorted(edits, reverse=True):
        text = text[:pos] + suffix + text[pos:]
    return text


_ALIAS_STOPWORDS = {
    "as", "where", "join", "on", "using", "group", "order", "having",
    "limit", "union", "intersect", "except", "minus", "left", "right",
    "inner", "full", "cross", "natural", "fetch", "offset", "for",
    "window", "tablesample", "lateral", "and", "or",
}


def _rewrite_schema_refs(text: str, schema: str, prefix: str) -> str:
    """``"schema".tbl`` → ``prefix_tbl AS tbl`` — the implicit alias
    Calcite gives a schema-qualified table (queries then reference
    ``tbl.col``); the AS is suppressed when an explicit alias follows."""
    # schema may be quoted ("scott".emp) or bare (GEO."countries" —
    # spatial.iq addresses the geo catalog unquoted)
    pat = re.compile(
        rf'(?:"{re.escape(schema)}"|\b{re.escape(schema)}\b)'
        rf'\s*\.\s*(?:([A-Za-z_]\w*)|"(\w+)")', re.I)
    out, consumed = [], 0
    for m in pat.finditer(text):
        out.append(text[consumed:m.start()])
        tbl = m.group(1) or m.group(2)
        if text[m.end():].lstrip().startswith("."):
            # 3-part COLUMN reference (CALCITE-356: schema.table.column,
            # misc.iq:22) — resolve through the implicit table alias
            out.append(tbl)
            consumed = m.end()
            continue
        nxt = _word_at(text, m.end() + len(text[m.end():])
                       - len(text[m.end():].lstrip()))
        if nxt and nxt not in _ALIAS_STOPWORDS:
            out.append(f"{prefix}{tbl}")          # explicit alias follows
        elif nxt == "as":
            out.append(f"{prefix}{tbl}")
        else:
            out.append(f"{prefix}{tbl} AS {tbl}")
        consumed = m.end()
    out.append(text[consumed:])
    return "".join(out)


def _rewrite_dquote_idents(text: str) -> str:
    """Calcite lexes double-quoted tokens as IDENTIFIERS (Parser.jj
    DQID); Spark wants backticks. '...' string literals are untouched."""
    out, i, n = [], 0, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(text[i:j + 1])
            i = j + 1
        elif c == '"':
            j = i + 1
            body = []
            while j < n:
                if text[j] == '"':
                    if j + 1 < n and text[j + 1] == '"':
                        body.append('"')
                        j += 2
                        continue
                    break
                body.append(text[j])
                j += 1
            out.append("`" + "".join(body) + "`")
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _wrap_call(text: str, name: str, new_open: str, extra_close: str) -> str:
    """Replace ``name(args)`` with ``new_open args extra_close )`` keeping
    args balanced (e.g. fusion(x) → flatten(collect_list(x)))."""
    out, consumed = [], 0
    for m in re.finditer(rf"\b{name}\s*\(", text, re.I):
        close = partner(text, m.end() - 1)
        if close is None:
            continue
        out.append(text[consumed:m.start()])
        out.append(new_open)
        out.append(text[m.end():close])
        out.append(extra_close + ")")
        consumed = close + 1
    out.append(text[consumed:])
    return "".join(out)


# x > ANY(S): TRUE iff some non-null element is beaten; UNKNOWN when the
# verdict hinges on a NULL element or a NULL x; FALSE otherwise.
# Aggregate forms follow Calcite's SubQueryRemoveRule expansion
# (rules/SubQueryRemoveRule.java — min/max + count guards).
_QUANT_AGG = {("some", ">"): "min", ("some", ">="): "min",
              ("some", "<"): "max", ("some", "<="): "max",
              ("all", ">"): "max", ("all", ">="): "max",
              ("all", "<"): "min", ("all", "<="): "min"}


def _quant_case(lhs: str, op: str, quant: str, sub: str) -> str:
    agg = _QUANT_AGG[(quant, op)]
    cnt_all = f"(SELECT count(*) FROM ({sub}) AS __q(__c))"
    cnt_val = f"(SELECT count(__c) FROM ({sub}) AS __q(__c))"
    agg_val = f"(SELECT {agg}(__c) FROM ({sub}) AS __q(__c))"
    null = "CAST(NULL AS BOOLEAN)"
    if quant == "some":
        return (f"(CASE WHEN {cnt_all} = 0 THEN FALSE"
                f" WHEN ({lhs}) {op} {agg_val} THEN TRUE"
                f" WHEN {cnt_val} < {cnt_all} OR ({lhs}) IS NULL"
                f" THEN {null} ELSE FALSE END)")
    return (f"(CASE WHEN {cnt_all} = 0 THEN TRUE"
            f" WHEN NOT (({lhs}) {op} {agg_val}) THEN FALSE"
            f" WHEN {cnt_val} < {cnt_all} OR ({lhs}) IS NULL"
            f" THEN {null} ELSE TRUE END)")


_QUANT_PAT = re.compile(
    r"(=|<>|!=|<=|>=|<|>)\s*(any|some|all)\s*\(", re.I)

# words that signal the backward LHS scan landed on a construct it
# cannot capture (CASE ... END > ALL (...)); bail loudly-by-analysis
# rather than emit a silently wrong span
_QUANT_LHS_STOPWORDS = {"end", "then", "else", "when", "null", "and",
                        "or", "not", "in", "between"}


def _quant_lhs_span(text: str, op_start: int) -> "tuple[int, int] | None":
    """Scan LEFT from the comparison operator for the LHS operand:
    either a bare (possibly qualified/quoted) identifier or literal, or
    a balanced parenthesized expression with an optional function name
    — supports ``(a + b) > ALL (...)`` and ``abs(x) < SOME (...)``,
    which the old identifier-only pattern missed (round-8 fuzzer
    finding). Returns (start, end) of the LHS or None to skip."""
    j = op_start - 1
    while j >= 0 and text[j].isspace():
        j -= 1
    if j < 0:
        return None
    if text[j] == ")":
        k = partner(text, j)
        if k is None:
            return None
        # include a directly-attached function name, if any
        i = k - 1
        while i >= 0 and (text[i].isalnum() or text[i] in "_`\"."):
            i -= 1
        return (i + 1, j + 1)
    k = j
    while k >= 0 and (text[k].isalnum() or text[k] in "_`\".'"):
        k -= 1
    start = k + 1
    if start > j:
        return None
    if text[start:j + 1].lower() in _QUANT_LHS_STOPWORDS:
        return None
    return (start, j + 1)


_PROJ_IN_PAT = re.compile(r"\b(not\s+)?in\s*\(\s*(?=select\b|with\b)", re.I)
_CTX_KW = re.compile(r"\b(select|where|having|qualify|on|when)\b", re.I)

# The alias group must NOT consume a following keyword: `from t join u`
# used to capture "join" as t's alias (discarded as a keyword, but the
# characters were consumed, so `u` was never registered and every u.col
# looked like an outer ref — a conservative misfire found by the r11
# correlation-guard fuzzer, tests/test_correlation_guard.py seed 1104
# case 37).
_FROM_ITEM = re.compile(
    r"\b(?:from|join)\s+([A-Za-z_][\w.]*)(?:\s+(?:as\s+)?"
    r"(?!(?:join|on|where|group|order|having|left|right|inner|full|"
    r"cross|union|intersect|except|limit|offset|qualify|when|then)\b)"
    r"([A-Za-z_]\w*))?", re.I)
_DERIVED_ALIAS = re.compile(r"\)\s*(?:as\s+)?([A-Za-z_]\w*)", re.I)
_QUAL_REF = re.compile(r"\b([A-Za-z_]\w*)\s*\.\s*[A-Za-z_]\w*", re.I)
_SQL_KW = frozenset(
    "select from where group having order join inner left right full "
    "cross on and or not in exists case when then else end as by union "
    "all distinct values with limit offset".split())


def _subquery_has_outer_refs(sub: str) -> bool:
    """Heuristic correlation detector for the uncorrelated-only rewrites
    (_rewrite_projected_in_subquery / _rewrite_quantified): a qualified
    reference ``alias.col`` whose qualifier is not introduced by any
    FROM/JOIN item (table name, any schema-path component, or alias)
    inside the subquery text refers to an OUTER relation — expanding
    such a subquery into standalone scalar aggregates would change its
    semantics, so the caller must fall through and leave the predicate
    to Spark. Bare-column correlation is not detectable without a
    catalog and stays out of scope (as in Calcite's own
    RexSubQuery-decorrelation preconditions)."""
    mask = string_mask(sub)
    defined: "set[str]" = set()
    for m in _FROM_ITEM.finditer(sub):
        if mask[m.start()]:
            continue
        defined.update(p.lower() for p in m.group(1).split("."))
        if m.group(2) and m.group(2).lower() not in _SQL_KW:
            defined.add(m.group(2).lower())
    for m in _DERIVED_ALIAS.finditer(sub):
        if not mask[m.start()] and m.group(1).lower() not in _SQL_KW:
            defined.add(m.group(1).lower())
    for m in _QUAL_REF.finditer(sub):
        if mask[m.start()]:
            continue
        q = m.group(1).lower()
        if q not in defined and q not in _SQL_KW:
            return True
    return False


def _rewrite_projected_in_subquery(text: str) -> str:
    """Three-valued logic for ``[NOT] IN (subquery)`` used AS A VALUE
    (in the select list): Spark's InSubquery collapses UNKNOWN to false
    in projection context (``40 IN (10, 20, NULL)`` → false, standard
    says NULL) and yields NULL for ``NULL IN (empty)`` (standard says
    false) — both divergences pinned by the reference's own
    sub-query.iq project-IN battery. Expansion (uncorrelated subquery,
    the same contract as _rewrite_quantified):

        CASE WHEN (SELECT count(*) FROM sub) = 0       THEN false
             WHEN lhs IS NULL                          THEN NULL
             WHEN lhs IN (sub)                         THEN true
             WHEN (SELECT count(*) FROM sub WHERE v IS NULL) > 0
                                                       THEN NULL
             ELSE false END

    WHERE/HAVING/ON contexts are deliberately left to Spark: a filter
    treats UNKNOWN like false, so Spark's native (null-aware-anti-join)
    plan is both correct there and the scale path — this rewrite's
    scalar subqueries would cost two extra aggregations. Context is the
    nearest preceding clause keyword: SELECT → value context, rewrite;
    anything else → filter context, leave."""
    pos = 0
    while True:
        mask = string_mask(text)
        m = None
        for cand in _PROJ_IN_PAT.finditer(text, pos):
            if not mask[cand.start()]:
                m = cand
                break
        if m is None:
            return text
        span = _quant_lhs_span(text, m.start())
        if span is None:
            pos = m.end()
            continue
        lhs = text[span[0]:span[1]]
        neg = bool(m.group(1))
        close = partner(text, text.index("(", m.start()))
        if close is None:
            pos = m.end()
            continue
        sub, i = text[m.end():close], close + 1
        # rewrite in SELECT (value) context, and in ANY context when the
        # predicate's UNKNOWN-ness is OBSERVED by a following IS [NOT]
        # NULL (the IS UNKNOWN spelling, already rewritten above) —
        # Spark cannot even parse `x IN (sub) IS NULL`
        kws = [k for k in _CTX_KW.finditer(text, 0, m.start())
               if not mask[k.start()]]
        observed = re.match(r"\s*is\s+(not\s+)?null\b", text[i:], re.I)
        if (not kws or kws[-1].group(1).lower() != "select") \
                and not observed:
            pos = m.end()
            continue
        if _subquery_has_outer_refs(sub) and not observed:
            # correlated subquery in plain value context: leave it to
            # Spark (native InSubquery) rather than expanding. When the
            # predicate's UNKNOWN-ness is OBSERVED (`IN (sub) IS NULL`),
            # Spark cannot parse the form at all, so the expansion is
            # the only executable path — its pieces stay correlated
            # scalar subqueries over the same text, evaluated per outer
            # row (sub-query.iq:1869 pins this), and an unresolvable
            # correlation fails loudly at analysis.
            pos = m.end()
            continue
        case = (
            f"(CASE WHEN (SELECT count(*) FROM ({sub}) __in3c) = 0"
            f" THEN false"
            f" WHEN ({lhs}) IS NULL THEN CAST(NULL AS BOOLEAN)"
            f" WHEN ({lhs}) IN ({sub}) THEN true"
            f" WHEN (SELECT count(*) FROM ({sub}) __in3v(__v)"
            f" WHERE __v IS NULL) > 0 THEN CAST(NULL AS BOOLEAN)"
            f" ELSE false END)")
        repl = f"(NOT {case})" if neg else case
        text = text[:span[0]] + repl + text[i:]
        pos = span[0] + len(repl)


def _rewrite_row_in_nulllist(text: str) -> str:
    """Row-valued ``[NOT] IN`` over a literal tuple list with a NULL
    member (conditions.iq:262, CALCITE-2726 / HIVE-20617): Spark types
    ``(NULL, 'bb')`` as ``struct<void,string>`` and rejects the IN with
    DATATYPE_MISMATCH. Expand elementwise —

        (s, t) IN ((a1, b1), (a2, b2))
        → ((s=a1 AND t=b1) OR (s=a2 AND t=b2))

    — an EXACT three-valued-logic equivalence: SQL row equality is
    FALSE if any pair is FALSE else UNKNOWN if any pair is UNKNOWN
    (= AND), and IN is the OR over the list. Triggered only when a
    tuple member is a bare NULL literal; every other shape stays on
    Spark's native struct-IN."""
    pat = re.compile(r"\b(not\s+)?in\s*\(", re.I)
    pos = 0
    while True:
        m = pat.search(text, pos)
        if m is None:
            return text
        close = partner(text, m.end() - 1)
        if close is None:
            pos = m.end()
            continue
        body, i = text[m.end():close], close + 1
        if re.match(r"\s*(select|with|values)\b", body, re.I):
            pos = m.end()
            continue
        items = [it.strip() for it in split_depth0(body, ",")]
        if not items or not all(it.startswith("(") and it.endswith(")")
                                for it in items):
            pos = m.end()
            continue
        tuples = [[v.strip() for v in split_depth0(it[1:-1], ",")]
                  for it in items]
        if not any(re.fullmatch(r"null", v, re.I)
                   for tup in tuples for v in tup):
            pos = m.end()
            continue
        # LHS: the balanced paren group immediately before [NOT] IN
        j = m.start() - 1
        while j >= 0 and text[j].isspace():
            j -= 1
        k = partner(text, j) if j >= 0 and text[j] == ")" else None
        if k is None:
            pos = m.end()
            continue
        # the paren group must be a ROW CONSTRUCTOR, not a call's
        # argument list: `f(a, b) IN (...)` is a function whose name
        # sits directly before the open paren — identify the preceding
        # word and fall through unless it is a keyword/boundary
        b = k - 1
        while b >= 0 and text[b].isspace():
            b -= 1
        e_w = b
        while b >= 0 and (text[b].isalnum() or text[b] in '_"`'):
            b -= 1
        word = text[b + 1:e_w + 1].lower()
        if word and word not in ("where", "and", "or", "not", "when",
                                 "then", "else", "on", "having", "select",
                                 "by", "row"):
            pos = m.end()
            continue
        lhs = [v.strip() for v in split_depth0(text[k + 1:j], ",")]
        if len(lhs) < 2 or any(len(t) != len(lhs) for t in tuples):
            pos = m.end()
            continue
        ors = " or ".join(
            "(" + " and ".join(f"(({l}) = ({v}))"
                               for l, v in zip(lhs, tup)) + ")"
            for tup in tuples)
        repl = f"(not ({ors}))" if m.group(1) else f"({ors})"
        text = text[:k] + repl + text[i:]
        pos = k + len(repl)


def _rewrite_quantified(text: str) -> str:
    """Quantified comparisons over UNCORRELATED subqueries
    (SqlStdOperatorTable.java:404-440): ``= ANY`` → IN, ``<> ALL`` →
    NOT IN, ordered ops → Calcite's min/max + count-guard expansion
    (rules/SubQueryRemoveRule.java), preserving three-valued logic.
    The quidem some.iq corpus (NULL-element edge cases) is the check."""
    pos = 0
    while True:
        m = _QUANT_PAT.search(text, pos)
        if not m:
            return text
        close = partner(text, m.end() - 1)
        span = _quant_lhs_span(text, m.start())
        if close is None or span is None:
            pos = m.end()
            continue
        lhs = text[span[0]:span[1]]
        op, quant = m.group(1), m.group(2).lower()
        sub, i = text[m.end():close], close + 1
        if not re.match(r"\s*(select|with|values)\b", sub, re.I):
            # quantified over a VALUE LIST: x > ALL (a, b) — lift the
            # list into a VALUES subquery and reuse the same expansion
            items = ", ".join(f"({v.strip()})"
                              for v in split_depth0(sub, ","))
            sub = f"SELECT __v FROM (VALUES {items}) AS __t(__v)"
        quant_kind = "some" if quant in ("any", "some") else "all"
        if op == "=" and quant_kind == "some":
            repl = f"(({lhs}) IN ({sub}))"
        elif op in ("<>", "!=") and quant_kind == "all":
            repl = f"(({lhs}) NOT IN ({sub}))"
        elif (quant_kind, op) in _QUANT_AGG:
            if _subquery_has_outer_refs(sub):
                # the min/max + count-guard expansion turns the subquery
                # into standalone scalar aggregates — only valid
                # UNCORRELATED (the = ANY / <> ALL branches above are
                # pure syntactic equivalences and stay correlation-safe)
                pos = m.end()
                continue
            repl = _quant_case(lhs, op, quant_kind, sub)
        else:
            raise ValueError(
                f"calcite_sql: quantified {op} {quant.upper()} has no "
                "three-valued-logic-preserving rewrite here; use the "
                "builder API's quantified forms")
        text = text[:span[0]] + repl + text[i:]
        pos = 0


def _rewrite_initcap(text: str) -> str:
    """Calcite's INITCAP starts a new word after ANY non-alphanumeric
    character (runtime SqlFunctions.initcap: [A-Za-z0-9] are the word
    chars — 'nibh.enim@x' → 'Nibh.Enim@X', redshift.iq:1732); Spark's
    initcap splits on whitespace only. Per-character transform with a
    previous-char lookback — pure column algebra, no UDF."""
    pat = re.compile(r"\binitcap\s*\(", re.I)
    pos = 0
    while True:
        m = pat.search(text, pos)
        if m is None:
            return text
        close = partner(text, m.end() - 1)
        if close is None:
            pos = m.end()
            continue
        arg = text[m.end():close]
        repl = (
            f"array_join(transform(split({arg}, ''), (__c, __i) -> "
            f"CASE WHEN __i = 0 OR NOT substr({arg}, __i, 1) "
            f"rlike '[A-Za-z0-9]' THEN ucase(__c) ELSE lcase(__c) END), "
            f"'')")
        text = text[:m.start()] + repl + text[close + 1:]


def _rewrite_multiarg_count(text: str) -> str:
    """Calcite's composite COUNT(a, b, ...) counts rows where EVERY
    argument is non-null (SqlStdOperatorTable COUNT is multi-arg;
    agg.iq's "composite count" cases). Spark's COUNT takes one argument
    unless DISTINCT — rewrite to count(CASE WHEN ... THEN 1 END)."""
    out, consumed = [], 0
    for m in re.finditer(r"\bcount\s*\(", text, re.I):
        close = partner(text, m.end() - 1)
        if close is None:
            continue
        body = text[m.end():close]
        args = [a.strip() for a in split_depth0(body, ",")]
        if len(args) < 2 or re.match(r"\s*distinct\b", body, re.I):
            continue  # count(DISTINCT a, b) is native
        cond = " AND ".join(f"({a}) IS NOT NULL" for a in args)
        out.append(text[consumed:m.start()])
        out.append(f"count(CASE WHEN {cond} THEN 1 END)")
        consumed = close + 1
    out.append(text[consumed:])
    return "".join(out)


def _rewrite_array_literals(text: str) -> str:
    """ARRAY[a, b] / MULTISET[a, b] → array(a, b), innermost first."""
    pat = re.compile(r"\b(array|multiset)\s*\[", re.I)
    pos = 0
    while True:
        m = pat.search(text, pos)
        if not m:
            return text
        close = partner(text, m.end() - 1)
        if close is None:
            pos = m.end()  # unbalanced — leave untouched
            continue
        body = text[m.end():close]
        text = text[:m.start()] + "array(" + body + ")" + text[close + 1:]


_MSET_OP = re.compile(
    r"\bmultiset\s+(except|union|intersect)\b(?:\s+(all|distinct))?", re.I)


def _operand_back(text: str, end: int) -> int:
    """Start index of the expression ending just before ``end``: a
    balanced ``name(...)``/``(...)`` group or a (dotted) identifier."""
    i = end
    while i > 0 and text[i - 1].isspace():
        i -= 1
    if i > 0 and text[i - 1] == ")":
        open_at = partner(text, i - 1)
        i = 0 if open_at is None else open_at
        # include an attached function name
        j = i
        while j > 0 and (text[j - 1].isalnum() or text[j - 1] in "_."):
            j -= 1
        return j
    j = i
    while j > 0 and (text[j - 1].isalnum() or text[j - 1] in "_.`"):
        j -= 1
    return j


def _operand_fwd(text: str, start: int) -> int:
    """End index of the expression starting at/after ``start``."""
    i = start
    while i < len(text) and text[i].isspace():
        i += 1
    j = i
    while j < len(text) and (text[j].isalnum() or text[j] in "_.`"):
        j += 1
    while j < len(text) and text[j].isspace():
        j += 1
    if j < len(text) and text[j] == "(":
        close = partner(text, j)
        return len(text) if close is None else close + 1
    return j


def _mset_expr(op: str, qual: str, left: str, right: str) -> str:
    """MULTISET binary ops (SqlStdOperatorTable.java:113-143); the
    unqualified forms are ALL (bag semantics) — pinned by operator.iq's
    expected outputs. Bag forms count occurrences per distinct element
    (O(distinct x n) per row — same shape as the registered
    func_multiset_predicates battery)."""
    def cnt(arr):
        return f"size(filter({arr}, __x -> __x = __e))"

    if op == "union":
        base = f"concat({left}, {right})"
        return f"array_distinct({base})" if qual == "distinct" else base
    if op == "intersect":
        if qual == "distinct":
            return f"array_intersect({left}, {right})"
        return (f"flatten(transform(array_distinct({left}), __e -> "
                f"array_repeat(__e, least({cnt(left)}, {cnt(right)}))))")
    if qual == "distinct":
        return f"array_except({left}, {right})"
    return (f"flatten(transform(array_distinct({left}), __e -> "
            f"array_repeat(__e, greatest({cnt(left)} - {cnt(right)}, 0))))")


def _rewrite_multiset_binops(text: str) -> str:
    while True:
        m = _MSET_OP.search(text)
        if not m:
            return text
        lstart = _operand_back(text, m.start())
        rend = _operand_fwd(text, m.end())
        left = text[lstart:m.start()].strip()
        right = text[m.end():rend].strip()
        expr = _mset_expr(m.group(1).lower(),
                          (m.group(2) or "all").lower(), left, right)
        text = text[:lstart] + expr + text[rend:]


_VALUES_OPEN = re.compile(r"\(\s*values\b", re.I)
_VALUES_ALIAS = re.compile(
    r"\s*(?:as\s+)?([A-Za-z_]\w*)\s*\(([^)]*)\)", re.I)
_CALL_IN_CELL = re.compile(r"[A-Za-z_]\w*\s*\(")


def _rewrite_values_exprs(text: str) -> str:
    """Calcite evaluates arbitrary expressions inside a VALUES inline
    table; Spark's inline tables accept only foldable literals
    (INVALID_INLINE_TABLE.CANNOT_EVALUATE_EXPRESSION_IN_INLINE_TABLE —
    SQL-UDF calls like the spatial battery's ST_Buffer rows are
    rejected). Rewrite ``(VALUES (e1, e2), …) AS t(c1, c2)`` whose rows
    contain function calls into the equivalent
    ``(SELECT e1 AS c1, e2 AS c2 UNION ALL …) AS t``."""
    for m in reversed(list(_VALUES_OPEN.finditer(text))):
        end = partner(text, m.start())
        if end is None:
            continue
        alias = _VALUES_ALIAS.match(text, end + 1)
        if not alias:
            continue
        rows = [r.strip() for r in split_depth0(text[m.end():end], ",")]
        cols = [c.strip() for c in alias.group(2).split(",")]
        cells_by_row = []
        for r in rows:
            body = r[1:-1] if r.startswith("(") and r.endswith(")") else r
            cells_by_row.append([c.strip() for c in split_depth0(body, ",")])
        if not any(_CALL_IN_CELL.search(c)
                   for row in cells_by_row for c in row):
            continue  # plain literal rows: Spark handles them natively
        if any(len(row) != len(cols) for row in cells_by_row):
            continue
        selects = " UNION ALL ".join(
            "SELECT " + ", ".join(f"{cell} AS {col}"
                                  for cell, col in zip(row, cols))
            for row in cells_by_row)
        text = (text[:m.start()] + "(" + selects + ") AS "
                + alias.group(1) + text[alias.end():])
    return text


_RANKING_FNS = ("rank", "dense_rank", "row_number", "ntile",
                "percent_rank", "cume_dist")
_OVER_RE = re.compile(r"\bover\s*\(", re.I)


def _rewrite_unordered_windows(text: str) -> str:
    """Calcite permits ranking functions over an UNORDERED window;
    Spark requires an ORDER BY. For ROW_NUMBER-family functions append
    the constant ``order by 1`` (window-spec ordinals are constants in
    Spark, so every row stays a peer). RANK/DENSE_RANK over an
    unordered window return the PARTITION ROW COUNT in the reference's
    own runs — redshift.iq:685 expects 14 for every row from ``rank()
    over ()`` and the partition sizes from ``rank() over (partition by
    deptno)`` (:703) — i.e. every row ranks behind all its peers;
    ``count(*)`` over the same partition reproduces that exactly (and
    needs no ORDER BY)."""
    out, consumed = [], 0
    for m in _OVER_RE.finditer(text):
        close = partner(text, m.end() - 1)
        if close is None or m.start() < consumed:
            continue
        # ranking function call directly before OVER?
        head = text[:m.start()].rstrip()
        fn = re.search(r"([a-z_]+)\s*\(([^()]*)\)$", head, re.I)
        if not fn or fn.group(1).lower() not in _RANKING_FNS:
            continue
        spec = text[m.end():close]
        if re.search(r"\border\s+by\b", spec, re.I):
            continue
        name = fn.group(1).lower()
        out.append(text[consumed:fn.start()])
        if name in ("rank", "dense_rank"):
            out.append("count(*)")
            out.append(text[fn.end():close])
        else:
            out.append(f"{name}({fn.group(2)})")
            out.append(text[fn.end():close])
            out.append(" order by 1" if spec.strip() else "order by 1")
        consumed = close
    out.append(text[consumed:])
    return "".join(out)


def _rewrite_unary_minmax(text: str) -> str:
    """Calcite accepts 1-argument GREATEST/LEAST (identity;
    redshift.iq:859); Spark demands at least two arguments — unwrap the
    single-argument form."""
    pat = re.compile(r"\b(greatest|least)\s*\(", re.I)
    pos = 0
    while True:
        m = pat.search(text, pos)
        if m is None:
            return text
        close = partner(text, m.end() - 1)
        if close is None or len(split_depth0(text[m.end():close], ",")) > 1:
            pos = m.end()  # ≥ 2 args: leave it
            continue
        text = (text[:m.start()] + "(" + text[m.end():close].strip() + ")"
                + text[close + 1:])


_SEEDED_RAND = re.compile(
    r"(?<![\w.])rand(_integer)?\s*\(\s*(-?\d+)\s*(?:,\s*(-?\d+)\s*)?\)",
    re.I)


def _rewrite_seeded_rand(text: str) -> str:
    """RAND(seed) / RAND_INTEGER(seed, bound) with literal arguments —
    Calcite's seeded deterministic PRNG (RandomFunction.java:48-73: ONE
    java.util.Random per query, one draw per row, pinned by
    misc.iq:1878-1955). Spark's own rand(seed) is a different generator
    (per-partition XORShift streams), so the seeded forms rewrite to the
    exact 48-bit-LCG fold from functions/randfn.py; stream position =
    enumeration order via ``row_number() over (order by 1)``, a single
    stream exactly like the reference's single-threaded execution.
    Untouched: no-arg RAND() and one-arg RAND_INTEGER(bound) (unseeded,
    nondeterministic by contract — the sample_bernoulli convention) and
    non-literal seeds. Identical call sites produce identical values per
    row, matching Calcite's common-subexpression reuse of
    ``@Deterministic`` function instances."""
    from drill_calcite_spark.functions.randfn import (
        rand_integer_expr, rand_seed_expr)

    pos = "row_number() over (order by 1)"

    def int32(v: int) -> int:
        # both functions take Java int parameters (RandomFunction.java:
        # 48,67) — an out-of-range literal wraps like a Java int cast
        return ((v + 2**31) % 2**32) - 2**31

    def sub(m: "re.Match[str]") -> str:
        is_int, a, b = m.group(1), m.group(2), m.group(3)
        if is_int and b is not None:
            return rand_integer_expr(int32(int(a)), int(b), pos)
        if not is_int and b is None:
            return rand_seed_expr(int32(int(a)), pos)
        return m.group(0)  # unseeded RAND_INTEGER(bound): leave alone

    return _SEEDED_RAND.sub(sub, text)


def rewrite(text: str, *, schema_views: "dict[str, str] | None" = None,
            nulls_high: bool = True) -> str:
    """Apply the Calcite-dialect rewrites; returns plain Spark SQL."""
    text = text.rstrip().rstrip(";")
    # shield string-literal CONTENTS for the whole pipeline: no rewrite
    # below can see (or corrupt) keyword-looking text inside '...'
    # (round-8 fuzzer finding: 9 of 11 token rewrites matched inside
    # literals — 'has pi here' became 'has pi() here', etc.)
    text, _lits = _shield_literals(text)
    # JDBC escape syntax (Calcite Parser.jj JdbcFunctionCall /
    # date-time escapes; misc.iq:2098): {ts '...'} / {d '...'} /
    # {t '...'} are typed literals, {fn f(args)} unwraps to the call.
    # The literal bodies are already shielded — only the wrapper moves.
    if "{" in text:
        _JDBC_KW = {"ts": "timestamp", "d": "date", "t": "time"}
        text = re.sub(
            r"\{\s*(ts|d|t)\s+('[^']*')\s*\}",
            lambda m: f"{_JDBC_KW[m.group(1).lower()]} {m.group(2)}",
            text, flags=re.I)
        text = re.sub(r"\{\s*fn\s+([^{}]*)\}", r"\1", text, flags=re.I)
    # JSON constructors/aggregates first (they emit their own shielded
    # fragments and must see the original literal keys via _lits)
    if _JSON_CALL.search(text):
        text = _rewrite_json_calls(text, _lits)
    if _JSON_EXISTS.search(text):
        text = _rewrite_json_exists(text, _lits)
    if re.search(r"\*\s*interval\b", text, re.I):
        text = _rewrite_interval_products(text, _lits)
    if _PERIOD_CTOR.search(text):
        text = _rewrite_period_ctor(text, _lits)
    if _SEQ_REF.search(text):
        text = _rewrite_sequences(text)
    if re.search(r"\bgroup(ing)?_?", text, re.I):
        # GROUPING()/GROUPING_ID() over a PLAIN group by (no rollup/
        # cube/grouping sets): every argument is fully grouped, so the
        # value is the constant 0 (agg.iq:565) — Spark refuses the
        # functions outside multi-grouping queries, Calcite does not
        if not re.search(r"\b(rollup|cube|grouping\s+sets)\b", text, re.I) \
                and re.search(r"\bgroup\s+by\b", text, re.I):
            text = re.sub(r"\bgrouping(_id)?\s*\([^()]*\)", "0", text,
                          flags=re.I)
        text = _rewrite_having_grouping(text)
        text = _rewrite_orderby_grouping(text)
        text = _rewrite_grouping_funcs(text)
        text = _rewrite_grouping_sets_dedup(text)
    # (TABLE t) explicit-table operator → (SELECT * FROM t)
    text = re.sub(r"\(\s*table\s+([^)]+)\)", r"(select * from \1)", text,
                  flags=re.I)
    for schema, prefix in (schema_views or {}).items():
        text = _rewrite_schema_refs(text, schema, prefix)
    text = _rewrite_dquote_idents(text)
    # IS [NOT] UNKNOWN — for a BOOLEAN operand this is exactly IS [NOT]
    # NULL (SqlStdOperatorTable IS_UNKNOWN; sub-query.iq's project-IN
    # battery); Spark has no UNKNOWN spelling
    text = re.sub(r"\bis\s+not\s+unknown\b", "is not null", text,
                  flags=re.I)
    text = re.sub(r"\bis\s+unknown\b", "is null", text, flags=re.I)
    text = _rewrite_projected_in_subquery(text)
    text = _rewrite_quantified(text)
    text = _rewrite_row_in_nulllist(text)
    # Calcite's interval-qualifier cast on a parenthesized difference —
    # `(t1 - t2) SECOND` constructs INTERVAL SECOND (agg.iq's orinoco
    # 2-hour-window case). Spark's t1 - t2 is already a day-time
    # interval, so the qualifier is a no-op type ascription: drop it.
    # Anchored to a CLOSING paren, so EXTRACT(second FROM …) and
    # `AS second` aliases never match.
    text = re.sub(r"\)\s+second\b(?!\s*\()", ")", text, flags=re.I)
    # date-part predicates → sargable ranges BEFORE the generic
    # FLOOR-to-unit rewrite consumes the FLOOR comparison forms
    if re.search(r"\bextract\s*\(\s*(year|quarter|month)\b|\byear\s*\("
                 r"|\b(floor|ceil|ceiling)\s*\(", text, re.I):
        text = _rewrite_date_ranges(text, _lits)
    text = _rewrite_floor_to(text)
    if re.search(r"\btumble", text, re.I):
        text = _rewrite_tumble(text, _lits)
    if re.search(r"\bhop(_start|_end)?\s*\(", text, re.I):
        text = _rewrite_hop(text, _lits)
    if re.search(r"\bsession(_start|_end)?\s*\(", text, re.I):
        text = _rewrite_session(text, _lits)
    # SELECT DISTINCT ... ORDER BY <aggregate> (CALCITE-634, sort.iq:189):
    # Spark rejects ordering a DISTINCT by an expression not in the
    # output — when the identical expression is ALIASED in the select
    # list, order by the alias instead (same semantics, Spark-legal)
    sd = re.search(r"\bselect\s+distinct\b", text, re.I)
    if sd:
        # the STATEMENT-level ORDER BY is the depth-0 occurrence outside
        # string literals — `order by` inside an OVER clause or a
        # subquery sits at depth ≥ 1 and must not be touched
        obs = [m for m in depth0_matches(text, r"(?i)\border\s+by\s+")
               if m.start() > sd.end()]
        if obs:
            ob = obs[-1]
            # aliases live in the SELECT list: between DISTINCT and the
            # statement-level FROM
            fr = next((m for m in depth0_matches(text, _FROM_KW)
                       if m.start() > sd.end()), None)
            sel = text[sd.end():fr.start() if fr else ob.start()]
            parts = []
            for item in split_depth0(text[ob.end():], ","):
                m_dir = re.match(r"^(.*?)(\s+(?:asc|desc))?\s*$", item,
                                 re.I | re.S)
                expr = m_dir.group(1).strip()
                alias = re.search(
                    rf"(?<![\w.]){re.escape(expr)}\s+as\s+(\w+)\b",
                    sel, re.I) if expr else None
                parts.append((alias.group(1) if alias else expr)
                             + (m_dir.group(2) or ""))
            text = text[:ob.end()] + ", ".join(parts)
    text = _rewrite_listagg(text)
    # COLLECT(x) WITHIN GROUP (ORDER BY x|1 [ASC|DESC]) → sorted array
    # (agg.iq:2385-2509; Calcite sorts the multiset). Only the
    # self-ordered forms (order key = collected expr, or ordinal 1) map
    # onto sort_array — a foreign sort key has no array-function form
    # and is left for Spark to reject loudly. A trailing FILTER clause
    # moves inside the sort_array argument.
    def _collect_wg(m: "re.Match[str]") -> str:
        expr, key, direction = m.group(1), m.group(2).strip(), \
            (m.group(3) or "asc").lower()
        filt = m.group(4) or ""
        if key != "1" and re.sub(r"\s+", "", key.lower()) \
                != re.sub(r"\s+", "", expr.lower()):
            return m.group(0)
        asc = "true" if direction == "asc" else "false"
        return f"sort_array(collect_list({expr}){filt}, {asc})"

    text = re.sub(
        r"\bcollect\s*\(([^()]*)\)\s*within\s+group\s*\(\s*order\s+by\s+"
        r"(.+?)(?:\s+(asc|desc))?\s*\)(\s*filter\s*\([^()]*\))?",
        _collect_wg, text, flags=re.I)
    # COLLECT → collect_list; FUSION → flatten(collect_list(..))
    # (SqlStdOperatorTable.java:2165; FUSION multiset-union aggregate)
    text = re.sub(r"\bcollect\s*\(", "collect_list(", text, flags=re.I)
    text = _rewrite_initcap(text)
    # (s1, e1) OVERLAPS (s2, e2) — Calcite's convertlet normalizes each
    # pair (swap when start > end) and tests inclusive intersection
    # (StandardConvertletTable OVERLAPS expansion; misc.iq:2189-2204)
    text = re.sub(
        r"\(([^(),]+),([^(),]+)\)\s+overlaps\s+\(([^(),]+),([^(),]+)\)",
        r"(least(\1,\2) <= greatest(\3,\4)"
        r" and least(\3,\4) <= greatest(\1,\2))",
        text, flags=re.I)
    text = _wrap_call(text, "fusion", "flatten(collect_list(", ")")
    # GROUP BY () = the single global group
    text = re.sub(r"\bgroup\s+by\s+\(\)", "", text, flags=re.I)
    # ARRAY[..] / MULTISET[..] literal constructors → array(..)
    # (SqlStdOperatorTable.java:2038-2045; MULTISET = unordered ArrayType
    # per SURVEY §1.2 — the quidem comparator applies multiset equality)
    text = _rewrite_array_literals(text)
    # MAP[k, v, ...] literal constructor → map(k, v, ...)
    # (SqlStdOperatorTable MAP_VALUE_CONSTRUCTOR; winagg.iq:482)
    text = re.sub(r"\bmap\s*\[([^\]]*)\]", r"map(\1)", text, flags=re.I)
    # FROM-item UNNEST of a map → Spark's explode generator subquery
    # (Calcite's Uncollect over a MAP yields (KEY, VALUE) columns —
    # SqlUnnestOperator; winagg.iq:482 CALCITE-2271). Array unnest in
    # FROM stays out of scope for the token front door (the registry's
    # unnest battery covers the operator semantics).
    text = re.sub(
        r"\bunnest\s*\(\s*(map\([^)]*\))\s*\)\s+(\w+)",
        r"(select explode(\1) as (key, value)) \2", text, flags=re.I)
    # MULTISET EXCEPT/UNION/INTERSECT [ALL|DISTINCT] binary operators
    # (after the literal rewrite so operands are array(..) expressions)
    text = _rewrite_multiset_binops(text)
    # niladic PI — but not when `pi` is a column ALIAS (… AS pi;
    # redshift.iq:1475 `select atan2(2,2) * 4 as pi`). If ANY `as pi`
    # alias exists in the statement, later references (ORDER BY pi,
    # outer selects over the aliased sub-query) must stay column refs
    # too, so the niladic rewrite is suppressed statement-wide
    # (ADVICE r7 — the old guard only looked at the token right after
    # 'as').
    if not re.search(r"\bas\s+pi\b", text, flags=re.I):
        text = re.sub(r"(?<![\w.'])pi(?![\w('])", "pi()", text, flags=re.I)
    if re.search(r"\brand", text, flags=re.I):
        text = _rewrite_seeded_rand(text)
    # Spatial dialect glue (functions/geo_sqlfn.py): Calcite's GEOMETRY
    # type is this engine's ESRI-JSON string; Spark 4.1's native
    # st_setsrid/st_srid builtins cannot be replaced by SQL UDFs, so
    # the Calcite spellings map onto the '2'-suffixed registrations;
    # VALUES rows with function calls become UNION ALL selects.
    text = re.sub(r"\bas\s+geometry\b", "as string", text, flags=re.I)
    # Calcite accepts length-less VARCHAR in CAST (unbounded); Spark
    # demands VARCHAR(n) — map the bare form to STRING
    text = re.sub(r"\bas\s+varchar\s*\)", "as string)", text, flags=re.I)
    # TIME '...' literal → the engine's TIME emulation (§1.2: Spark has
    # no TimeType; TIME columns are 'HH:mm:ss' strings, so the literal
    # compares as a string — misc.iq:595 everyTypes). The literal body
    # is shielded at this point, so match the quoted placeholder; the
    # (?<!extract-from) guard is unnecessary because EXTRACT spells its
    # unit BEFORE 'from', never as `time '...'`.
    text = re.sub(r"\btime\s+(')", r"\1", text, flags=re.I)
    text = re.sub(r"\bst_setsrid\s*\(", "ST_SetSRID2(", text, flags=re.I)
    text = re.sub(r"\bst_srid\s*\(", "ST_SRID2(", text, flags=re.I)
    text = _rewrite_values_exprs(text)
    text = _rewrite_unordered_windows(text)
    text = _rewrite_unary_minmax(text)
    # ROW(a, b) value constructor → struct(a, b)
    # (SqlStdOperatorTable.java:1176; rendering stays Calcite's {a, b})
    text = re.sub(r"\brow\s*\(", "struct(", text, flags=re.I)
    text = _rewrite_multiarg_count(text)
    if nulls_high:
        text = _rewrite_nulls_high(text)
    # Spark inline tables (VALUES) reject non-foldable expressions such
    # as the lambda-based multiset rewrites — a single-row VALUES of one
    # expression is SELECT-without-FROM
    if re.match(r"\s*values\b", text, re.I) and "->" in text:
        if len(split_depth0(text, ",")) == 1:
            text = re.sub(r"^\s*values\b", "select", text, flags=re.I)
    return _unshield_literals(text, _lits)


def calcite_sql(spark: SparkSession, text: str, *,
                schema_views: "dict[str, str] | None" = None,
                nulls_high: bool = True,
                materializations=None) -> DataFrame:
    """The engine's SQL entry: Calcite-dialect text in, DataFrame out.

    Runs with ``spark.sql.groupByOrdinal=false`` for the duration of the
    parse: Calcite's default conformance does NOT read GROUP BY integers
    as ordinals (SqlConformance.isGroupByOrdinal() = false — ``GROUP BY
    1`` groups by the constant), while ORDER BY ordinals stay on
    (isSortByOrdinal() = true), matching Spark's separate conf.

    When ``materializations`` (a plans.materialized.MaterializedViews
    registry) is provided, the statement is first offered to the
    transparent MV substitution layer (plans/sql_substitution.py — the
    front-door port of Calcite's AbstractMaterializedViewRule wiring,
    plan/RelOptRules.java:189-197): a single-table GROUP-BY aggregate
    that a registered tile provably subsumes is served by rolling the
    tile up, never scanning the base table; anything the closed-world
    prover can't handle falls through to ``spark.sql`` unchanged."""
    from drill_calcite_spark.sql_match import (
        has_match_recognize, translate_match_recognize)

    if has_match_recognize(text):
        # row-pattern matching has no Spark SQL form: route the clause to
        # the distributed operator and the outer statement back through
        # this rewrite pipeline (sql_match.py)
        return translate_match_recognize(spark, text.rstrip().rstrip(";"))
    # Calcite's double-quoted identifiers are case-SENSITIVE; Spark's
    # default resolution is not, so a statement binding both "a" and "A"
    # (DRILL-3860, misc.iq:1255) hits AMBIGUOUS_REFERENCE. When two
    # quoted identifiers in the statement collide case-insensitively,
    # resolve THIS statement under spark.sql.caseSensitive=true — the
    # rewrite turns the quotes into backticks, which then resolve
    # byte-exactly like Calcite's DQIDs.
    mask = string_mask(text)
    dq = set()
    for m in re.finditer(r'"((?:[^"]|"")+)"', text):
        if mask[m.start()] and (m.start() == 0 or not mask[m.start() - 1]):
            dq.add(m.group(1))
    case_collide = len({d.lower() for d in dq}) != len(dq)
    prev = spark.conf.get("spark.sql.groupByOrdinal", "true")
    prev_cs = spark.conf.get("spark.sql.caseSensitive", "false")
    spark.conf.set("spark.sql.groupByOrdinal", "false")
    if case_collide:
        spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        stext = rewrite(text, schema_views=schema_views,
                        nulls_high=nulls_high)
        df = None
        if materializations is not None:
            from drill_calcite_spark.plans.sql_substitution import (
                try_substitute)
            df = try_substitute(spark, stext, materializations)
        if df is None:
            df = spark.sql(stext)
    finally:
        spark.conf.set("spark.sql.groupByOrdinal", prev)
        if case_collide:
            spark.conf.set("spark.sql.caseSensitive", prev_cs)
    # NEXT VALUE FOR drains one value per produced row: pre-count the
    # statement and advance each referenced sequence so the NEXT
    # statement sees fresh values. The returned df bakes the base as a
    # literal, so re-execution stays stable; the extra count pass is the
    # documented cost of session sequences (catalog.py contract).
    next_refs = [m for m in _SEQ_REF.finditer(text)
                 if m.group(1).lower() == "next"]
    if next_refs:
        from drill_calcite_spark.catalog import advance_sequence
        n = df.count()
        for name in {_seq_name(m.group(2)) for m in next_refs}:
            advance_sequence(name, n)
    return df
