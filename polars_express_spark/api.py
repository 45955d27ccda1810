"""The three reference endpoints, re-expressed Spark-first.

Reference routes (src/main.rs:309-319):
  GET  /data/:id/preview     → get_data_preview   (src/main.rs:106-121)
  GET  /data/:id/delays      → get_sorted_delays  (src/main.rs:260-306)
  POST /data/:id/regression  → run_regression     (src/main.rs:124-203)

These are transport-agnostic functions (the HTTP layer is trivial and
orthogonal); error semantics mirror the reference's 400 responses as
typed exceptions. The reference redoes all of a request's work on every
call (src/main.rs:106-203). Here each route's answer — the capped
`to_json` strings for preview, delays and /sql, the six moments for
regression — is computed once per dataset version and kept in the
lake's answer pool (`DataLake.answer`), keyed by route, parameters and
the file version of every dataset it reads. A repeat request stats the
files and answers from the pool: it builds no scan and runs no Spark
job, and no plan or shuffle output outlives the request that computed
it. Validation that depends on the data (a missing column, no delay
column) runs when an answer is computed; an answer exists only for a
request that passed it. /sql's read-only check runs on the parse tree
of the query text, kept per text, dataset ids and parser confs once the
check passed (`_checked`); a /sql answer is computed from that very
tree, with the lake's frames bound to their dataset names inside the
plan: /sql registers no temp view and reads none. A /sql answer is kept
only when a new plan would return it again (no random seed or current
time fixed at planning).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_express_spark.catalog import DataLake
from polars_express_spark.sinks import json_answer, to_json_rows_flagged


class BadRequest(ValueError):
    """Maps to the reference's StatusCode::BAD_REQUEST responses."""


class NotFound(KeyError):
    """Maps to the reference's 404 on unknown dataset ids."""


def _answer(lake: DataLake, route: tuple, data_id: str, compute):
    """The lake's answer of ``route`` over one dataset, ``compute(df)``
    on a miss; NotFound for an unknown id."""
    if not lake.dataset_exists(data_id):
        raise NotFound(data_id)
    return lake.answer(route, (data_id,), lambda df: (compute(df), True))


def get_data_preview(lake: DataLake, data_id: str, limit: int = 100) -> list[dict]:
    """First-N preview, default 100 (src/main.rs:116-117).

    The reference's head() is file-order positional; Spark's limit()
    without an order is whichever rows arrive first. For single-file CSV
    inputs (the reference's only case) this is file order in practice;
    callers needing a guaranteed order pass an explicit sort key via the
    delays/queries APIs (SURVEY.md §7.5.1).
    """
    return get_data_preview_flagged(lake, data_id, limit=limit)[0]


def get_data_preview_flagged(
    lake: DataLake, data_id: str, limit: int = 100
) -> tuple[list[dict], bool]:
    """get_data_preview plus the sink's truncation flag (True iff the
    MAX_SINK_ROWS cap, not the caller's limit, clamped the result) —
    the HTTP layer's variant, surfaced as the X-Truncated header."""
    return to_json_rows_flagged(
        _answer(lake, ("preview", limit), data_id, lambda df: json_answer(df, limit))
    )


def get_sorted_delays(
    lake: DataLake,
    data_id: str,
    descending: bool = False,
    limit: int | None = None,
) -> list[dict]:
    """Sort by every column whose name contains 'delay' (schema predicate,
    src/main.rs:272-283), uniform direction, optional limit
    (src/main.rs:284-297). 400 when no delay column exists
    (src/main.rs:272-274). Default direction is ASCENDING like the
    reference — descending only on explicit request
    (matches!(opts.sorting, Some(Desc)) in src/main.rs:277).

    sort+limit fuses to TakeOrderedAndProject — the same slice-pushdown
    top-k Polars' optimizer produces for the reference's lazy plan, but
    distributed.
    """
    return get_sorted_delays_flagged(lake, data_id, descending, limit)[0]


def get_sorted_delays_flagged(
    lake: DataLake,
    data_id: str,
    descending: bool = False,
    limit: int | None = None,
) -> tuple[list[dict], bool]:
    """get_sorted_delays plus the sink's truncation flag (see
    get_data_preview_flagged)."""

    def compute(df):
        delay_cols = [c for c in df.columns if "delay" in c]
        if not delay_cols:
            raise BadRequest(f"dataset {data_id!r} has no delay columns")
        order = [F.col(c).desc() if descending else F.col(c).asc() for c in delay_cols]
        # the sink pushes the limit (min(limit, MAX_SINK_ROWS)) into the plan
        return json_answer(df.orderBy(*order), limit)

    return to_json_rows_flagged(_answer(lake, ("delays", descending, limit), data_id, compute))


@dataclass
class RegressionResult:
    slope: float
    intercept: float
    r_squared: float | None
    n: int


def run_regression(lake: DataLake, data_id: str, x_col: str, y_col: str) -> RegressionResult:
    """OLS y ~ x with the reference's exact semantics (src/main.rs:124-203):
    cast both columns to double (400 on missing column), nulls treated as
    0.0 (src/main.rs:163-164), 400 on empty input or zero X variance
    (src/main.rs:151-153, 176-177), R² = None when SStot = 0.

    One distributed aggregate replaces the reference's two scalar
    passes (anti-pattern §4.3.2): Catalyst computes all moments in a
    single partial+final aggregation. A repeat request on an unchanged
    dataset reads the kept moments and runs no Spark job.
    """

    def moments(df):
        for c in (x_col, y_col):
            if c not in df.columns:
                raise BadRequest(f"column {c!r} not found")
        x = F.coalesce(F.col(x_col).cast("double"), F.lit(0.0))
        y = F.coalesce(F.col(y_col).cast("double"), F.lit(0.0))
        return tuple(
            df.agg(
                F.count(F.lit(1)), F.sum(x), F.sum(y), F.sum(x * y), F.sum(x * x), F.sum(y * y)
            ).collect()[0]
        )

    n, sx, sy, sxy, sxx, syy = _answer(lake, ("regression", x_col, y_col), data_id, moments)
    if n == 0:
        raise BadRequest("empty dataset")
    denom = n * sxx - sx * sx
    if denom == 0:
        raise BadRequest("zero variance in x")
    slope = (n * sxy - sx * sy) / denom
    intercept = (sy - slope * sx) / n
    ss_tot = n * syy - sy * sy
    r_squared = None if ss_tot == 0 else (n * sxy - sx * sy) ** 2 / (denom * ss_tot)
    return RegressionResult(slope=slope, intercept=intercept, r_squared=r_squared, n=n)


import re as _re

_SQL_IDENT = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
# Mutating / side-effecting PLAN NODE CLASS names a parsed tree must not
# contain. Spark's grammar allows CTE-prefixed DML ("WITH t AS (...)
# INSERT ..."), so a first-token SELECT/WITH check alone is bypassable —
# the parse-tree walk below is the binding guard. Matching happens
# against getSimpleName() of each tree node (a closed vocabulary the
# parser controls), NEVER against the rendered treeString — identifiers
# a user picks (a column "InsertedAt", a CTE "CommandLog") can appear in
# the tree string but can't change a node's class.
_SQL_FORBIDDEN_NODE = _re.compile(
    r"Insert|Command|Write|Create|Drop|Alter|Replace|Merge|Delete"
    r"|Update|Cache|Refresh|Load|Analyze|Truncate|Repair|Namespace"
    r"|Catalog|Identifier|Execute|Call|AddColumns|RenameColumn"
)
# Leaf plan nodes are the data sources; anything outside this set (a
# path-provider relation wrapper, time travel, EXECUTE IMMEDIATE, a
# future grammar addition) is rejected rather than trusted by default.
_SQL_SAFE_LEAVES = frozenset(
    {
        "OneRowRelation",        # SELECT 1
        "UnresolvedRelation",    # FROM t            (checked against datasets)
        "UnresolvedTableValuedFunction",  # FROM range(...) (allowlisted)
        "UnresolvedInlineTable", # FROM VALUES ...   (some Spark versions)
        "LocalRelation",         # FROM VALUES ...   (Spark 4 parses direct)
    }
)
# Table-valued functions that only generate/reshape rows already in the
# query — no file or catalog access.
_SQL_SAFE_TVFS = frozenset(
    {"range", "explode", "explode_outer", "posexplode", "posexplode_outer",
     "inline", "inline_outer", "stack"}
)
# Scalar functions that reach outside the query: JVM reflection executes
# arbitrary static methods (java.lang.System.getenv, ...); input_file_*
# leak server-local paths. Matched on the LAST name part so qualified
# spellings (system.builtin.reflect) can't slip through, AFTER stripping
# one "try_" prefix — Spark 4 ships try_-aliased variants with identical
# semantics (try_reflect invokes the same arbitrary static method; a
# verified bypass), and stripping covers future try_* aliases
# wholesale. Belt-and-braces: any name CONTAINING "reflect" or starting
# with "input_file" is also denied, so a renamed alias in a future Spark
# minor can't reopen the hole without tripping the substring net.
_SQL_FORBIDDEN_FNS = frozenset(
    {"reflect", "java_method", "input_file_name",
     "input_file_block_start", "input_file_block_length"}
)


def _fn_is_forbidden(name: str) -> bool:
    base = name.lower()
    base = base[4:] if base.startswith("try_") else base
    return (
        base in _SQL_FORBIDDEN_FNS
        or "reflect" in base
        or base.startswith("input_file")
    )
# single-quoted SQL strings ('' is the escaped quote) — blanked before
# the one-statement check so a literal ';' in data can't false-positive
_SQL_STR_LIT = _re.compile(r"'(?:[^']|'')*'")


def _jseq(s) -> list:
    """Materialize a py4j-wrapped Scala Seq."""
    return [s.apply(i) for i in range(s.size())]


def _walk_parsed(node, plans: list, exprs: list, subquery) -> None:
    """Collect every plan node and expression in a PARSED (unresolved)
    logical plan, descending into subquery expressions (scalar / EXISTS /
    IN / LATERAL hold a nested plan: each is an instance of the
    ``subquery`` class, PlanExpression) and into CTE definitions
    (Spark 4's UnresolvedWith keeps cteRelations OUT of children(), so a
    naive child walk never sees what a CTE body reads — the red-team
    case "WITH t AS (SELECT * FROM text.`/etc/passwd`) SELECT * FROM
    t")."""
    plans.append(node)
    if node.getClass().getSimpleName() == "UnresolvedWith":
        cr = node.cteRelations()
        for i in range(cr.size()):
            _walk_parsed(cr.apply(i)._2(), plans, exprs, subquery)
    for e in _jseq(node.expressions()):
        _walk_parsed_expr(e, plans, exprs, subquery)
    for c in _jseq(node.children()):
        _walk_parsed(c, plans, exprs, subquery)


def _walk_parsed_expr(e, plans: list, exprs: list, subquery) -> None:
    exprs.append(e)
    if subquery.isInstance(e):
        _walk_parsed(e.plan(), plans, exprs, subquery)
    for c in _jseq(e.children()):
        _walk_parsed_expr(c, plans, exprs, subquery)


@functools.lru_cache(maxsize=1)
def _plan_expression(jvm):
    """The class of Catalyst's expressions that hold a nested plan
    (PlanExpression), looked up once per JVM."""
    return jvm.org.apache.spark.sql.catalyst.expressions.PlanExpression._java_lang_class


def _check_read_only(spark, plan, datasets: set[str]) -> set[str]:
    """Reject any parsed plan that could mutate state, read outside the
    lake's datasets, or call out of the SQL sandbox; return the
    relation names it reads, lower-cased (a CTE's name included).

    Guard layers (a treeString regex was bypassable by
    direct-path relations and reflection functions, and false-positived
    on user identifiers):
    1. node CLASS names must not match the mutating-node vocabulary;
    2. every LEAF plan node must be a known-safe source class —
       unknown leaf = reject (default-deny for grammar we don't model);
    3. every UnresolvedRelation must be a single-part name resolving to
       one of the lake's datasets or a CTE defined in this query — so
       ``FROM parquet.`/path```` / ``FROM text.`/etc/passwd```` (a
       2-part path-provider identifier) and any catalog escape die here;
    4. table-valued functions must be on the generate-only allowlist;
    5. function names (last part) must not be reflection/file escapes.
    """
    plans: list = []
    exprs: list = []
    _walk_parsed(plan, plans, exprs, _plan_expression(spark._jvm))
    allowed = {v.lower() for v in datasets}
    named: set[str] = set()
    for p in plans:  # CTE names defined anywhere in the query are legal
        if p.getClass().getSimpleName() == "UnresolvedWith":
            cr = p.cteRelations()
            allowed.update(str(cr.apply(i)._1()).lower() for i in range(cr.size()))
    for p in plans:
        cls = p.getClass().getSimpleName()
        if _SQL_FORBIDDEN_NODE.search(cls):
            raise BadRequest("only read-only queries are accepted")
        if cls == "UnresolvedRelation":
            parts = [str(x) for x in _jseq(p.multipartIdentifier())]
            if len(parts) != 1 or parts[0].lower() not in allowed:
                raise BadRequest(f"unknown table {'.'.join(parts)!r}")
            named.add(parts[0].lower())
        elif cls == "UnresolvedTableValuedFunction":
            parts = [str(x) for x in _jseq(p.name())]
            if len(parts) != 1 or parts[0].lower() not in _SQL_SAFE_TVFS:
                raise BadRequest(f"table function {'.'.join(parts)!r} is not allowed")
        elif p.children().size() == 0 and cls not in _SQL_SAFE_LEAVES:
            raise BadRequest("only read-only queries are accepted")
    for e in exprs:
        if e.getClass().getSimpleName() == "UnresolvedFunction":
            parts = [str(x) for x in _jseq(e.nameParts())]
            if parts and _fn_is_forbidden(parts[-1]):
                raise BadRequest(f"function {parts[-1]!r} is not allowed")
    return named


def _repeatable(df) -> bool:
    """True when a /sql answer computed from ``df`` is kept for later
    requests: a new plan of its query would return it again. A plan that
    fixed a random seed or the current time at planning would not. The
    time test applies the rule with which Spark's optimizer fixes the
    current time (ComputeCurrentTime) to the analysed plan: the rule
    changes the plan exactly when the query, a subquery or a CTE calls a
    current-time function, however wide its select lists."""
    analyzed = df._jdf.queryExecution().analyzed()
    fix_time = df.sparkSession._jvm.org.apache.spark.sql.catalyst.optimizer.ComputeCurrentTime
    return analyzed.deterministic() and fix_time.apply(analyzed).fastEquals(analyzed)


# Session confs that change the tree Spark's SQL parser builds: part of a
# checked query's key (`_checked`)
_PARSER_CONFS = (
    "spark.sql.ansi.enabled",
    "spark.sql.ansi.enforceReservedKeywords",
    "spark.sql.ansi.doubleQuotedIdentifiers",
    "spark.sql.parser.escapedStringLiterals",
    "spark.sql.parser.quotedRegexColumnNames",
    "spark.sql.legacy.setopsPrecedence.enabled",
    "spark.sql.legacy.exponentLiteralAsDecimal.enabled",
    "spark.sql.variable.substitute",
)


@functools.lru_cache(maxsize=DataLake.PLAN_SLOTS)
def _checked(spark, q: str, datasets: tuple[str, ...], confs: tuple) -> tuple:
    """The parse tree of ``q`` and the ids of the ``datasets`` it reads,
    once `_check_read_only` passed the tree (``confs`` are the values of
    ``_PARSER_CONFS``). Kept per argument tuple, so a repeat request
    neither parses nor walks; a rejected query raises, which keeps
    nothing, so it is checked again on every request."""
    try:
        parsed = spark._jsparkSession.sessionState().sqlParser().parsePlan(q)
    except Exception as e:
        raise BadRequest(f"SQL error: {e}") from e
    named = _check_read_only(spark, parsed, set(datasets))
    data_ids = tuple(i for i in datasets if i.lower() in named)
    clash = [i for i in data_ids if [j.lower() for j in data_ids].count(i.lower()) > 1]
    if clash:
        raise BadRequest(f"ambiguous table: datasets {' and '.join(clash)} differ only in case")
    return parsed, data_ids


def _over_frames(spark, parsed, views: list) -> DataFrame:
    """The DataFrame of the parsed plan ``parsed`` with each ``(name,
    frame)`` of ``views`` bound to its name by a CTE around the query:
    the query's own CTEs still shadow a dataset of their name, and no
    name is registered in the session."""
    jvm = spark._jvm
    catalyst = jvm.org.apache.spark.sql.catalyst
    logical = catalyst.plans.logical
    ctes = [
        jvm.scala.Tuple3(
            name,
            logical.SubqueryAlias(catalyst.AliasIdentifier(name), df._jdf.logicalPlan()),
            jvm.scala.Option.empty(),
        )
        for name, df in views
    ]
    plan = logical.UnresolvedWith(parsed, jvm.PythonUtils.toSeq(ctes), False)
    dataset = jvm.org.apache.spark.sql.classic.Dataset
    return DataFrame(dataset.ofRows(spark._jsparkSession, plan), spark)


def run_sql(lake: DataLake, query: str, limit: int | None = None) -> list[dict]:
    """Ad-hoc SQL over the lake (engine-native surface beyond the
    reference's three routes): every dataset whose id is a valid SQL
    identifier can be named as a table, the query runs through Catalyst,
    and rows come back through the capped JSON sink (same
    driver-materialization bound as every other endpoint).

    Read-only AND lake-scoped by construction, enforced BEFORE
    execution, on every request: a first-token SELECT/WITH +
    single-statement check (string literals blanked first), then a
    parse-only pass whose tree is walked node-by-node (_check_read_only)
    — Spark's SQL entry point executes commands EAGERLY, so the parse
    must happen without it. Relations are pinned to the lake's
    datasets, so server-local file reads (``FROM text.`/etc/passwd````
    and friends) and JVM reflection calls are rejected with 400, not
    executed.

    A query that passed is not parsed or walked again while its text,
    the lake's SQL-nameable dataset ids and the parser confs stay the
    same (`_checked`); a rejected one is checked again on every request.
    Its answer is kept in the lake's pool, keyed by the text, the limit
    and the file version of each dataset it names, so a write to another
    dataset leaves it alone. An answer is computed from the tree the
    check walked, with each dataset it names bound to the lake's scan
    of it (`_over_frames`): no temp view is registered or
    read. Two dataset ids that differ only in case name one table, so a
    query naming both is rejected. A query whose plan fixes a random
    seed or the current time, or that names a conf as ``${name}``, is
    computed anew on every request.
    Analysis errors (unknown table/column, bad syntax) and failures to
    load or read a dataset map to 400."""
    q = query.strip().rstrip(";").strip()
    if ";" in _SQL_STR_LIT.sub("''", q):
        raise BadRequest("one statement per request")
    if not q or q.split(None, 1)[0].upper() not in ("SELECT", "WITH"):
        raise BadRequest("only SELECT/WITH queries are accepted")
    spark = lake.spark
    datasets = tuple(i for i in lake.list_datasets() if _SQL_IDENT.match(i))
    # ${...} is replaced by a session conf's value before the parse, so
    # such a query is checked and computed on every request
    volatile = "${" in q
    check = _checked.__wrapped__ if volatile else _checked
    confs = tuple(spark.conf.get(c) for c in _PARSER_CONFS)
    parsed, data_ids = check(spark, q, datasets, confs)

    def compute(*frames):
        df = _over_frames(spark, parsed, list(zip(data_ids, frames)))
        return json_answer(df, limit), not volatile and _repeatable(df)

    try:
        # a dataset removed or mid-rewrite since the listing, or one
        # whose files vanish under the collect, fails here: 400, not a
        # crashed handler
        return to_json_rows_flagged(lake.answer(("sql", q, limit, confs), data_ids, compute))[0]
    except BadRequest:
        raise
    except Exception as e:  # parse / analysis / execution → 400
        raise BadRequest(f"SQL error: {e}") from e
