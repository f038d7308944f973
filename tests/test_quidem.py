"""Replay the reference's own quidem conformance cases (tests/iq/*.iq)
against the engine's Calcite-dialect SQL front door.

Corpus provenance: every case in tests/iq/ is copied VERBATIM (SQL +
expected result table) from the reference's end-to-end scripts —
core/src/test/resources/sql/*.iq, server/src/test/resources/sql/*.iq,
babel/src/test/resources/sql/redshift.iq (Apache Calcite, Apache-2.0) —
the source file:line is recorded above each case. These are conformance
DATA — queries plus the answers the reference itself prints — used here
exactly as BASELINE.md prescribes: hold this engine to the reference's
results on the reference's own test queries. See tests/iq/README.md for
the selection and exclusion criteria.

Execution path: drill_calcite_spark.sql.calcite_sql (the dialect
rewrites are part of the product surface: nulls-high default collation,
LISTAGG default separator, FLOOR-to-unit), over the POST + Scott
fixtures of sources/test_schemas.py.
"""

from __future__ import annotations

import glob
import os
import re

import pytest

from tests.quidem import assert_rows_match, parse_iq

_IQ_DIR = os.path.join(os.path.dirname(__file__), "iq")


def _all_cases():
    cases = []
    for path in sorted(glob.glob(os.path.join(_IQ_DIR, "*.iq"))):
        cases.extend(parse_iq(path))
    return cases


_CASES = _all_cases()


@pytest.fixture(scope="module")
def quidem_schemas(spark):
    from drill_calcite_spark.functions.geo_sqlfn import register_geo_sql
    from drill_calcite_spark.sources.test_schemas import (
        register_catchall,
        register_geo,
        register_hr,
        register_post,
        register_scott,
    )

    register_post(spark)
    register_scott(spark)
    register_hr(spark)
    register_catchall(spark)
    register_geo(spark)
    register_geo_sql(spark)
    from drill_calcite_spark.sources.test_schemas import (
        register_foodmart, register_orinoco, register_seq,
    )
    register_seq(spark)
    register_foodmart(spark)
    register_orinoco(spark)
    yield


# per-file count of already-executed setup statements (the
# create-table/insert/view/schema preludes of blank.iq and the server
# DDL scripts run once, in order, as cases need them)
_SETUPS_DONE: dict[str, int] = {}

# Calcite server-DDL (server/src/main/codegen — CREATE [MATERIALIZED]
# VIEW / TABLE [AS] / SCHEMA) → Spark DDL. A materialized view executes
# as a real table (the precompute half of the contract; the engine's
# substitution/rewrite surface is plans/materialized.py, exercised by
# mv_* registry entries). CREATE TABLE AS with a column ALIAS list — a
# Calcite form Spark's CTAS grammar lacks — runs the query and saves it
# under the renamed columns.
_CREATE_RE = re.compile(
    r"\s*create\s+(or\s+replace\s+)?(materialized\s+view|table|view)\s+"
    r"(if\s+not\s+exists\s+)?([\w.]+)\s*"
    r"(\(((?:[^()]|\([^()]*\))*)\))?\s*(as\b(.*))?",
    re.I | re.S)


def _alias_select_items(query: str, collist: str) -> "str | None":
    """Rewrite ``select e1, e2 from …`` to ``select (e1) AS c1, … from
    …`` using the view's column alias list. Returns None (caller falls
    back to the native DDL) unless the query is a plain top-level
    SELECT whose item count matches the list."""
    from drill_calcite_spark.sqltext import depth0_matches, split_depth0

    m = re.match(r"(\s*select\s+)(.*)$", query, re.I | re.S)
    if not m:
        return None
    rest = m.group(2)
    frm = next(iter(depth0_matches(rest, re.compile(r"\bfrom ", re.I))),
               None)
    if frm is None:
        return None
    from_idx = frm.start()
    items = [it.strip() for it in split_depth0(rest[:from_idx], ",")]
    cols = [c.strip() for c in split_depth0(collist, ",")]
    if len(items) != len(cols):
        return None
    aliased = []
    for it, col in zip(items, cols):
        it = re.sub(r'\s+as\s+("[^"]+"|\w+)\s*$', "", it, flags=re.I)
        aliased.append(f"({it}) AS {col}")
    return m.group(1) + ", ".join(aliased) + " " + rest[from_idx:]


# CREATE TYPE name AS <type> (server/type.iq) — Calcite user-defined
# type aliases; column definitions substitute the Spark type text
_TYPE_ALIASES: dict[str, str] = {}


def _register_type(name: str, defn: str) -> None:
    defn = defn.strip().rstrip(";").strip()
    if defn.startswith("("):
        body = defn[1:-1]
        fields = []
        for f in body.split(","):
            toks = f.split()
            ftype = " ".join(t for t in toks[1:]
                             if t.lower() not in ("not", "null"))
            fields.append(f"{toks[0]}: {ftype}")
        _TYPE_ALIASES[name.lower()] = f"STRUCT<{', '.join(fields)}>"
    else:
        _TYPE_ALIASES[name.lower()] = defn


def _exec_setup(spark, stmt: str) -> None:
    from drill_calcite_spark.sql import calcite_sql

    if stmt.startswith("--seq-stateful--"):
        # replay a sequence-draining SELECT for its counter side effect
        # (calcite_sql pre-counts and advances internally)
        calcite_sql(spark, stmt.split("\n", 1)[1])
        return
    s = stmt.strip()
    m = re.match(r"\s*create\s+type\s+(\w+)\s+as\s+(.*)$", s,
                 re.I | re.S)
    if m:
        _register_type(m.group(1), m.group(2))
        return
    for alias, sparktype in _TYPE_ALIASES.items():
        s = re.sub(rf"\b{alias}\b", sparktype, s, flags=re.I)
    m = re.match(r"\s*create\s+(or\s+replace\s+)?schema\s+"
                 r"(if\s+not\s+exists\s+)?(\w+)", s, re.I)
    if m:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {m.group(3)}")
        return
    m = re.match(r"\s*drop\s+schema\s+(if\s+exists\s+)?(\w+)", s, re.I)
    if m:
        spark.sql(f"DROP DATABASE IF EXISTS {m.group(2)} CASCADE")
        return
    s = re.sub(r"\bdrop\s+materialized\s+view\b", "drop table", s,
               flags=re.I)
    m = _CREATE_RE.match(s)
    if m:
        or_replace, kind, if_not_exists, name, _, collist, as_kw, query = \
            m.groups()
        kind = "table" if "materialized" in kind.lower() else kind.lower()
        if not (if_not_exists or or_replace):
            # idempotent re-create (fresh in-file create; also guards
            # same-named objects created by OTHER corpus files, which
            # may be the OTHER kind — type.iq's table `v` vs view.iq's
            # view `v`); twice because the first DROP removes a
            # same-named fixture TEMP view when one shadows the real
            # object
            for _ in range(2):
                for cmd in ("DROP VIEW IF EXISTS", "DROP TABLE IF EXISTS"):
                    try:
                        spark.sql(f"{cmd} {name}")
                    except Exception:
                        pass  # wrong kind for this name — other cmd wins
        if kind == "view":
            # Spark's CREATE [OR REPLACE] VIEW natively takes the
            # optional column alias list and a VALUES query — but
            # unlike Calcite it still demands an explicit alias on
            # every select-list EXPRESSION (view.iq's `select i, i + 1`
            # under a column list), so push the list's names down as
            # aliases when the defining query is a plain select
            if collist and collist.strip():
                aliased = _alias_select_items(query or "", collist)
                if aliased is not None:
                    orr = "OR REPLACE " if or_replace else ""
                    calcite_sql(
                        spark,
                        f"CREATE {orr}VIEW {name} ({collist}) AS {aliased}")
                    return
            calcite_sql(spark, s)
            return
        if as_kw and query:
            if query.lstrip().lower().startswith("values"):
                query = f"select * from ({query})"
            if if_not_exists and spark.catalog.tableExists(name):
                return
            if collist and collist.strip():
                # strip optional declared types; Calcite keeps the
                # query's types (table_as.iq d7/d10)
                cols = [c.strip().split()[0].strip('"')
                        for c in collist.split(",")]
                calcite_sql(spark, query).toDF(*cols) \
                    .write.saveAsTable(name)
                return
            spark.sql(f"CREATE TABLE {name} AS {query}")
            return
        # plain column-defined CREATE TABLE: Spark's v1 parquet tables
        # reject column NOT NULL constraints — strip them — and Spark
        # ENFORCES varchar(n) length where Calcite does not
        # (table_as.iq inserts 'Engineering' into varchar(10)) — widen
        # to string to match the reference's leniency
        s = re.sub(r"\s+not\s+null\b", "", s, flags=re.I)
        s = re.sub(r"\bvarchar\s*\(\d+\)", "string", s, flags=re.I)
    calcite_sql(spark, s)


_CURRENT_FILE = [None]


def _run_setups(spark, case):
    if case["file"] != _CURRENT_FILE[0]:
        # file boundary: restore the data fixtures. The DDL scripts'
        # own `drop table dept` legitimately removes a same-named
        # fixture TEMP view (Spark's DROP TABLE drops temp views), and
        # their created tables must not leak into the next script's
        # unqualified name resolution — re-registering the temp views
        # re-shadows them.
        from drill_calcite_spark.sources.test_schemas import (
            register_catchall, register_geo, register_hr, register_post,
            register_scott,
        )

        register_post(spark)
        register_scott(spark)
        register_hr(spark)
        register_catchall(spark)
        register_geo(spark)
        from drill_calcite_spark.sources.test_schemas import (
            register_foodmart, register_orinoco, register_seq,
        )
        register_seq(spark)  # resets the my_seq counter per script
        register_foodmart(spark)
        register_orinoco(spark)
        if (case.get("use") or "").startswith("scott"):
            # scott-redshift / scott-babel address scott UNQUALIFIED
            # (redshift.iq's `select … from emp`): alias the scott
            # fixtures over the POST names for this file
            for t in ("emp", "dept", "salgrade"):
                spark.table(f"scott_{t}").createOrReplaceTempView(t)
        _CURRENT_FILE[0] = case["file"]
    setups = case.get("setup") or ()
    done = _SETUPS_DONE.get(case["file"], 0)
    for stmt in setups[done:]:
        _exec_setup(spark, stmt)
    _SETUPS_DONE[case["file"]] = max(done, len(setups))


@pytest.mark.parametrize(
    "case", _CASES, ids=[f'{c["file"]}:{c["line"]}' for c in _CASES])
def test_quidem_case(spark, quidem_schemas, case):
    from drill_calcite_spark.sql import calcite_sql

    _run_setups(spark, case)
    df = calcite_sql(spark, case["sql"],
                     schema_views={"scott": "scott_", "hr": "hr_",
                                   "GEO": "geo_", "metadata": "metadata_",
                                   "jdbc_scott": "scott_"})
    got = df.limit(2000).collect()
    if re.search(r"\bnext\s+value\s+for\b", case["sql"], re.I):
        # this statement's tagged setup-twin already ran as the case
        # itself (calcite_sql advanced the counter); skip the replay
        _SETUPS_DONE[case["file"]] = max(
            _SETUPS_DONE.get(case["file"], 0), len(case["setup"]) + 1)
    assert_rows_match(got, case["rows"], f'{case["file"]}:{case["line"]}')


def test_corpus_is_nonempty():
    assert len(_CASES) >= 618, f"quidem corpus shrank: {len(_CASES)} cases"
