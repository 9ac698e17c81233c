"""Engine SQL entry point: dialect translation + catalog introspection.

The reference enables DataFusion's ``information_schema`` so
``SELECT * FROM information_schema.tables / .columns`` works over the
session catalog (reference csvb_engine/src/lib.rs:22). Spark exposes
``SHOW TABLES`` / ``DESCRIBE`` natively but has no information_schema
views, so we emulate the two the reference surface reaches:

- ``information_schema.tables``  (table_catalog, table_schema,
  table_name, table_type)
- ``information_schema.columns`` (table_catalog, table_schema,
  table_name, column_name, ordinal_position, data_type, is_nullable)
- ``information_schema.views``   (table_catalog, table_schema,
  table_name, definition — NULL, like DataFusion's non-SQL views)
- ``information_schema.schemata`` (catalog_name, schema_name)
- ``information_schema.df_settings`` (name, value — the session's
  explicitly-set config, mirroring DataFusion's settings table)

Dotted names can't be temp-view names, so the translator rewrites
``information_schema.tables`` → ``information_schema_tables`` and this
module refreshes those views from the live catalog just before a query
that mentions them runs — introspection data is tiny (one row per
table/column), so rebuilding per query is free and never stale.

Every front-end (CLI exec, pgwire server) funnels through
``execute_sql``.
"""

from __future__ import annotations

import functools
import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_INFO_SCHEMA_RE = re.compile(
    r"\binformation_schema\s*\.\s*(tables|columns|views|schemata|df_settings)\b",
    re.I,
)


class RewriteBindError(ValueError):
    """A schema-aware rewrite (``* REPLACE``, ``COLUMNS('re')``)
    analyzed its FROM clause and found the construct CANNOT bind —
    a nonexistent replaced column, a zero-match pattern, duplicate
    output names. Raised instead of passing the original text to
    Spark (whose parser does not know these constructs and would
    report an unrelated syntax error) — the same targeted binder
    error DataFusion's sqlparser / DuckDB give. Bail-outs where the
    FROM clause merely can't be ANALYZED (temp functions, constructs
    the probe can't see) still fall through untouched, as before."""


_INT_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}
_DECIMAL_RE = re.compile(r"decimal\((\d+),\s*(-?\d+)\)")
_CHAR_RE = re.compile(r"(?:var)?char\((\d+)\)")


def _type_metadata(dt: str) -> tuple:
    """Derive the SQL-standard type-metadata columns from a Spark
    catalog type string — (character_maximum_length,
    numeric_precision, numeric_precision_radix, numeric_scale,
    datetime_precision, interval_type). Everything here is a property
    OF the type, not fabricated: decimals carry (p, s) radix 10, the
    fixed-width integers their bit width radix 2 scale 0, floats their
    IEEE mantissa bits, Spark timestamps are micros (precision 6),
    dates precision 0, and the two ANSI interval families report their
    qualifier. Unknown/complex types keep every column NULL."""
    t = dt.lower().strip()
    char_max = num_prec = num_radix = num_scale = dt_prec = None
    interval_type = None
    m = _DECIMAL_RE.fullmatch(t)
    if m:
        num_prec, num_radix, num_scale = int(m.group(1)), 10, int(m.group(2))
    elif t in _INT_BITS:
        num_prec, num_radix, num_scale = _INT_BITS[t], 2, 0
    elif t == "float":
        num_prec, num_radix = 24, 2
    elif t == "double":
        num_prec, num_radix = 53, 2
    elif t.startswith("timestamp"):
        dt_prec = 6  # Spark timestamps are microsecond-precision
    elif t == "date":
        dt_prec = 0
    elif t.startswith("interval"):
        qual = t[len("interval"):].strip().upper()
        interval_type = qual or None
    else:
        m = _CHAR_RE.fullmatch(t)
        if m:
            char_max = int(m.group(1))
    return (char_max, num_prec, num_radix, num_scale, dt_prec, interval_type)


_ARROW_SCALARS = {
    "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
    "bigint": "Int64", "float": "Float32", "double": "Float64",
    "string": "Utf8", "boolean": "Boolean", "binary": "Binary",
    "date": "Date32",
    # fixture parquet carries micros; Spark timestamps are micros
    "timestamp": "Timestamp(Microsecond, None)",
    "timestamp_ntz": "Timestamp(Microsecond, None)",
}

#: session flag: render information_schema.columns.data_type with
#: DataFusion/Arrow type names (Int64, Utf8) instead of Spark catalog
#: names (bigint, string). SET csvb.information_schema.arrow_types=true
ARROW_TYPES_CONF = "csvb.information_schema.arrow_types"


def _arrow_type_name(dt: str) -> str:
    """Spark catalog type string → the Arrow DataType name DataFusion's
    information_schema renders (strict-parity introspection mode).
    Scalar names are byte-exact vs arrow-rs Debug; List/Decimal render
    the same constructor with a COMPACT element (DataFusion prints the
    whole Field struct — reproducing its private Debug layout verbatim
    would pin this emulation to one arrow-rs version)."""
    t = dt.lower().strip()
    if t in _ARROW_SCALARS:
        return _ARROW_SCALARS[t]
    m = _DECIMAL_RE.fullmatch(t)
    if m:
        return f"Decimal128({int(m.group(1))}, {int(m.group(2))})"
    if t.startswith("array<") and t.endswith(">"):
        return f"List({_arrow_type_name(t[6:-1])})"
    m = _CHAR_RE.fullmatch(t)
    if m:
        return "Utf8"
    return dt  # maps/structs/intervals: keep the Spark rendering


@functools.lru_cache(maxsize=None)
def _ddl_json(schema: str) -> str:
    # the emulation schemas are module constants: parse each DDL
    # string once per process (the parse is a JVM round trip); the
    # cache holds the immutable JSON form, never a shared StructType
    return StructType.fromDDL(schema).json()


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver-built rows → a DataFrame that plans as an in-memory
    ``LocalRelation`` (``LocalTableScan``). Both catalog emulations
    (information_schema here, pg_catalog in ``server/pg_catalog.py``)
    build their views through this: ``createDataFrame(list)`` plans as
    ``Scan ExistingRDD``, and a join over such views runs shuffle and
    broadcast jobs even for a dozen rows (psql's ``\\dt``: ~9 jobs). A
    ``pyarrow.Table`` input always takes the Arrow path (a pandas input
    skips Arrow when empty and falls back to an RDD silently on error),
    and the JVM turns it into a LocalRelation without launching a job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromJson(json.loads(_ddl_json(schema)))
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def refresh_information_schema(spark: SparkSession) -> None:
    """(Re)build information_schema_{tables,columns} temp views from
    the live session catalog. With ``csvb.information_schema.
    arrow_types=true`` (session SET), data_type renders Arrow names
    (Int64, Utf8) for byte-parity with DataFusion's introspection."""
    arrow_types = (
        str(spark.conf.get(ARROW_TYPES_CONF, "false")).lower() == "true"
    )
    tables = []
    columns = []
    for t in spark.catalog.listTables():
        if t.name.startswith(("pg_catalog_", "information_schema_")):
            # both emulations' own backing temp views are machinery,
            # not user tables — a \dt that refreshed pg_catalog must
            # not make ~25 phantom rows appear here afterwards
            continue
        schema = t.namespace[0] if t.namespace else "default"
        kind = "VIEW" if t.tableType in ("TEMPORARY", "VIEW") else "BASE TABLE"
        # NOTE: the reference's federated table provider panics
        # (todo!()) when asked for its table type
        # (reference csvb_engine/src/union_table_provider.rs:79-82);
        # here every registered table answers.
        tables.append((t.catalog or "spark_catalog", schema, t.name, kind))
        # schema fields, not catalog.listColumns: the Column API erases
        # char/varchar to 'string', while the field METADATA keeps the
        # bounded type Spark actually enforces — which is what fills
        # character_maximum_length/octet_length (round 13)
        for i, fld in enumerate(spark.table(t.name).schema.fields, start=1):
            dt = (
                fld.metadata.get("__CHAR_VARCHAR_TYPE_STRING")
                or fld.dataType.simpleString()
            )
            columns.append(
                (
                    t.catalog or "spark_catalog",
                    schema,
                    t.name,
                    fld.name,
                    i,
                    _arrow_type_name(dt) if arrow_types else dt,
                    "YES" if fld.nullable else "NO",
                    *_type_metadata(dt),
                )
            )
    local_frame(
        spark,
        tables,
        "table_catalog string, table_schema string, table_name string, table_type string",
    ).createOrReplaceTempView("information_schema_tables")
    # Column layout pinned to DataFusion 44's information_schema.columns
    # (the reference enables it via csvb_engine/src/lib.rs:22): the full
    # 15-column SQL-standard shape, names and order. The type-DERIVED
    # metadata (character_maximum_length, numeric_precision/radix/
    # scale, datetime_precision, interval_type) is filled from the
    # catalog type string (_type_metadata — decimal (p,s), integer bit
    # widths, IEEE mantissa bits, micros timestamps, ANSI interval
    # qualifiers). character_octet_length = 4x the character maximum
    # (UTF-8's widest encoding — the postgres convention) for BOUNDED
    # char types, NULL for unbounded strings (verified convention:
    # DuckDB's information_schema NULLs it for plain VARCHAR too).
    # column_default stays NULL because it is CORRECT, not a gap: no
    # registrable table here carries a default (temp views over
    # files), and engines that do fill it (DuckDB, postgres) also
    # render absent defaults as NULL.
    local_frame(
        spark,
        columns,
        "table_catalog string, table_schema string, table_name string, "
        "column_name string, ordinal_position int, data_type string, "
        "is_nullable string, character_maximum_length bigint, "
        "numeric_precision bigint, numeric_precision_radix bigint, "
        "numeric_scale bigint, datetime_precision bigint, "
        "interval_type string",
    ).selectExpr(
        "table_catalog",
        "table_schema",
        "table_name",
        "column_name",
        "ordinal_position",
        "CAST(NULL AS STRING) AS column_default",
        "is_nullable",
        "data_type",
        "character_maximum_length",
        "character_maximum_length * 4L AS character_octet_length",
        "numeric_precision",
        "numeric_precision_radix",
        "numeric_scale",
        "datetime_precision",
        "interval_type",
    ).createOrReplaceTempView("information_schema_columns")
    views = [t for t in tables if t[3] == "VIEW"]
    local_frame(
        spark,
        [(c, s, n, None) for c, s, n, _ in views],
        "table_catalog string, table_schema string, table_name string, "
        "definition string",
    ).createOrReplaceTempView("information_schema_views")
    # schemata likewise pinned to DataFusion 44's 7-column layout; the
    # owner/charset/sql_path columns are NULL there too (DataFusion
    # fills them with NULL for every schema)
    local_frame(
        spark,
        [(d.catalog or "spark_catalog", d.name) for d in spark.catalog.listDatabases()]
        or [("spark_catalog", "default")],
        "catalog_name string, schema_name string",
    ).selectExpr(
        "catalog_name",
        "schema_name",
        "CAST(NULL AS STRING) AS schema_owner",
        "CAST(NULL AS STRING) AS default_character_set_catalog",
        "CAST(NULL AS STRING) AS default_character_set_schema",
        "CAST(NULL AS STRING) AS default_character_set_name",
        "CAST(NULL AS STRING) AS sql_path",
    ).createOrReplaceTempView("information_schema_schemata")
    # DataFusion's df_settings analogue: the session's explicit config
    # (Spark's `SET` command output, renamed to DataFusion's columns)
    spark.sql("SET").selectExpr("key AS name", "value").createOrReplaceTempView(
        "information_schema_df_settings"
    )




# SELECT * REPLACE (expr AS col, ...) — the wildcard-option sqlparser-rs
# (and DuckDB) accept alongside EXCLUDE. Spark has no native REPLACE and
# a pure-text rewrite cannot know the column list, so this lives at the
# execution layer where the catalog can resolve it: expand `*` to the
# FROM clause's output columns with the replaced expressions spliced
# in. The FROM clause is resolved by ANALYZING it (`SELECT * FROM
# <clause>` through the translator — planning only, no job), so aliased
# tables, multi-table joins, and subqueries all expand; sqlparser 0.53
# (the reference's parser) accepts the option anywhere a wildcard is
# legal. Bail → Spark raises on the original text — when the FROM
# clause does not analyze, the join output has duplicate column names
# (an expansion by bare name would be ambiguous), or the select item is
# a `tbl.*` qualified form.
_STAR_REPLACE_RE = re.compile(
    r"(?<![\w.])\*\s+REPLACE\s*\(", re.IGNORECASE
)
_SR_FROM_KW_RE = re.compile(r"\bFROM\b", re.IGNORECASE)
# depth-0 keywords that terminate a FROM clause
_SR_CLAUSE_RE = re.compile(
    r"\b(WHERE|GROUP\s+BY|HAVING|QUALIFY|WINDOW|ORDER\s+BY|LIMIT|OFFSET"
    r"|FETCH|UNION|INTERSECT|EXCEPT)\b|;",
    re.IGNORECASE,
)
_SR_IDENT_RE = re.compile(r"[A-Za-z_]\w*")


def _depth0_find(sql: str, pattern: re.Pattern, start: int) -> re.Match | None:
    """First match of ``pattern`` at paren depth 0 relative to
    ``start``; stops (None) at an unmatched ``)`` — the end of the
    enclosing subquery scope. (Named apart from translate.py's
    ``_depth0_search``, whose argument order differs.)"""
    depth = 0
    for i in range(start, len(sql)):
        c = sql[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                return None
            depth -= 1
        elif depth == 0:
            m = pattern.match(sql, i)
            if m:
                return m
    return None


def _from_clause_end(sql: str, start: int) -> int:
    """Index just past the FROM clause starting at ``start`` (the text
    after the FROM keyword): the first depth-0 clause keyword,
    unmatched ``)``, or end of string."""
    depth = 0
    i = start
    while i < len(sql):
        c = sql[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                return i
            depth -= 1
        elif depth == 0 and _SR_CLAUSE_RE.match(sql, i):
            return i
        i += 1
    return len(sql)


def _probe_from_columns(
    spark: SparkSession, from_text: str, literals: list[str] | None
) -> list[str] | None:
    """Output column names of ``SELECT * FROM <from_text>`` — analysis
    only (``.columns`` plans, never executes). None when the clause
    doesn't analyze."""
    from csvb_spark.functions.translate import _restore_literals, translate_sql

    if not from_text.strip():
        return None
    probe = "SELECT * FROM " + (
        _restore_literals(from_text, literals) if literals else from_text
    )
    try:
        return spark.sql(translate_sql(probe)).columns
    except Exception:
        return None


def _quote_ident(c: str) -> str:
    # backquote anything that isn't a plain identifier (Spark-side
    # only: the rewrite output never reaches the DuckDB oracle)
    return c if _SR_IDENT_RE.fullmatch(c) else "`" + c.replace("`", "``") + "`"


def _resolve_from(
    spark: SparkSession, sql: str, search_from: int, literals: list[str] | None
) -> list[str] | None:
    """Locate the depth-0 FROM clause after ``search_from`` and return
    its analyzed output columns — None (bail) when it can't be found
    or doesn't analyze. Case-insensitively duplicate output names
    RAISE ``RewriteBindError`` (a bare-name expansion would be
    ambiguous, and the construct cannot reach Spark either way)."""
    fm = _depth0_find(sql, _SR_FROM_KW_RE, search_from)
    if not fm:
        return None
    cols = _probe_from_columns(
        spark, sql[fm.end() : _from_clause_end(sql, fm.end())], literals
    )
    if cols is None:
        return None
    low = [c.lower() for c in cols]
    if len(set(low)) != len(low):
        dups = sorted({c for c in low if low.count(c) > 1})
        raise RewriteBindError(
            "cannot expand the wildcard option: the FROM clause has "
            f"duplicate output column name(s) {dups} — alias them apart "
            "before using * REPLACE / COLUMNS()"
        )
    return cols


def _rewrite_star_replace(
    spark: SparkSession, sql: str, literals: list[str] | None = None
) -> str:
    from csvb_spark.functions.translate import _scan_balanced, _split_args

    # expand every occurrence (outer query and subqueries may each
    # carry one), INNERMOST first: the last match textually is the one
    # whose FROM clause cannot contain another `* REPLACE`, so its
    # probe analyzes; each pass consumes exactly one match
    for _ in range(10):
        matches = list(_STAR_REPLACE_RE.finditer(sql))
        if not matches:
            return sql
        m = matches[-1]
        close = _scan_balanced(sql, m.end() - 1)
        if close < 0:
            return sql
        items = _split_args(sql[m.end() : close - 1])
        repl: dict[str, str] = {}
        for item in items:
            am = re.search(r"\s+AS\s+([A-Za-z_][\w]*)\s*$", item, re.IGNORECASE)
            if not am:
                return sql
            repl[am.group(1).lower()] = item[: am.start()].strip()
        cols = _resolve_from(spark, sql, close, literals)
        if cols is None:
            return sql
        missing = sorted(set(repl) - {c.lower() for c in cols})
        if missing:
            raise RewriteBindError(
                f"* REPLACE names column(s) {missing} that do not exist "
                f"in the FROM clause (available: {sorted(cols)})"
            )
        select_list = ", ".join(
            f"{repl[c.lower()]} AS {c}" if c.lower() in repl else _quote_ident(c)
            for c in cols
        )
        # splice the expansion over `* REPLACE (...)` only; any further
        # select items between the option and FROM are kept verbatim
        sql = sql[: m.start()] + select_list + sql[close:]
    return sql


# SELECT COLUMNS('regex') — DuckDB's columns-by-pattern selector.
# Same execution-layer treatment as REPLACE: analyze the FROM clause,
# keep columns whose name fully matches the pattern, expand to an
# explicit list. Scope: COLUMNS('...') select items over any FROM
# clause that analyzes with unique output names; non-literal arguments
# or zero matches bail. The pattern arrives either as a raw quoted
# literal or, when the caller pre-masked string literals (execute_sql
# does — see below), as a \x00LITn\x00 placeholder to resolve against
# the literal table.
_SR_COLUMNS_RE = re.compile(
    r"(?<![\w.])COLUMNS\s*\(\s*(?:'([^']*)'|\x00LIT(\d+)\x00)\s*\)",
    re.IGNORECASE,
)


def _rewrite_columns_selector(
    spark: SparkSession, sql: str, literals: list[str] | None = None
) -> str:
    # expand EVERY occurrence (a select list may use several
    # selectors), innermost (last) first so a selector inside a FROM
    # subquery resolves before the outer probe needs it; a bail leaves
    # the remainder untouched
    for _ in range(16):
        progressed = False
        for m in reversed(list(_SR_COLUMNS_RE.finditer(sql))):
            if m.group(1) is not None:
                pattern = m.group(1)
            else:
                if literals is None:
                    return sql
                lit = literals[int(m.group(2))]
                if len(lit) < 2 or lit[0] != "'" or lit[-1] != "'":
                    return sql
                pattern = lit[1:-1]
            cols = _resolve_from(spark, sql, m.end(), literals)
            if cols is None:
                return sql
            try:
                pat = re.compile(pattern)
            except Exception:
                return sql
            keep = [c for c in cols if pat.fullmatch(c)]
            if not keep:
                raise RewriteBindError(
                    f"COLUMNS({pattern!r}) matches no column of the FROM "
                    f"clause (available: {sorted(cols)})"
                )
            sql = (
                sql[: m.start()]
                + ", ".join(_quote_ident(c) for c in keep)
                + sql[m.end() :]
            )
            progressed = True
            break
        if not progressed:
            return sql
    return sql


_PG_CATALOG_REF_RE = re.compile(r"\bpg_catalog\s*\.")


def _references_pg_catalog(sql: str) -> bool:
    """True when the query carries a ``pg_catalog.``-qualified
    reference OUTSIDE string literals (tables, functions, operators,
    casts — everything psql emits is qualified)."""
    from csvb_spark.functions.translate import _protect_literals

    masked, _ = _protect_literals(sql)
    return bool(_PG_CATALOG_REF_RE.search(masked))


def execute_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Translate reference-dialect SQL and run it, emulating
    information_schema on demand."""
    from csvb_spark.functions.translate import translate_sql

    if _INFO_SCHEMA_RE.search(sql):
        refresh_information_schema(spark)
        sql = _INFO_SCHEMA_RE.sub(lambda m: f"information_schema_{m.group(1).lower()}", sql)
    if "pg_catalog" in sql and _references_pg_catalog(sql):
        # psql meta-commands (\dt, \d tbl, \l, \dn): refresh the
        # pg_catalog_pg_* views and strip the postgres-only syntax.
        # The trigger is a `pg_catalog.` QUALIFIED REFERENCE outside
        # string literals — a query that merely compares against the
        # string 'pg_catalog' (the classic BI `table_schema NOT IN
        # ('pg_catalog', ...)` shape) must NOT get the rewrite
        # battery, whose double-quote→backtick pass would flip
        # "quoted string" semantics to identifiers.
        from csvb_spark.server.pg_catalog import (
            refresh_pg_catalog,
            rewrite_pg_catalog_sql,
        )

        refresh_pg_catalog(spark)
        sql = rewrite_pg_catalog_sql(sql)
    # mask string literals before the schema-aware rewrites so text
    # that LOOKS like "* REPLACE (...)" or "COLUMNS('...')" inside a
    # quoted literal is never rewritten (translate.py does the same
    # for its own rewrites)
    from csvb_spark.functions.translate import (
        _protect_literals,
        _restore_literals,
    )

    masked, lits = _protect_literals(sql)
    masked = _rewrite_star_replace(spark, masked, lits)
    masked = _rewrite_columns_selector(spark, masked, lits)
    sql = _restore_literals(masked, lits)
    df = spark.sql(translate_sql(sql))
    if _DDL_RE.match(sql):
        # catalog epoch for pg_catalog's two-stage snapshot (see
        # server/pg_catalog.py): DDL through this surface — including
        # CREATE OR REPLACE under the SAME name, which changes no
        # table list — marks the catalog dirty so the next
        # introspection re-fingerprints column schemas. Spark executes
        # DDL eagerly inside spark.sql(), so the bump lands after the
        # change is live.
        spark._csvb_catalog_epoch = (  # noqa: SLF001 — session-scoped
            getattr(spark, "_csvb_catalog_epoch", 0) + 1
        )
    return df


#: statements that can mutate the catalog (the epoch trigger above);
#: INSERT/CTAS arrive as CREATE, view swaps as CREATE OR REPLACE
_DDL_RE = re.compile(r"^\s*(CREATE|DROP|ALTER)\b", re.IGNORECASE)
