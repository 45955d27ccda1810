"""The three reference endpoints, re-expressed Spark-first.

Reference routes (src/main.rs:309-319):
  GET  /data/:id/preview     → get_data_preview   (src/main.rs:106-121)
  GET  /data/:id/delays      → get_sorted_delays  (src/main.rs:260-306)
  POST /data/:id/regression  → run_regression     (src/main.rs:124-203)

These are transport-agnostic functions (the HTTP layer is trivial and
orthogonal); error semantics mirror the reference's 400 responses as
typed exceptions. Each call is a stateless, request-scoped computation
against the shared session, exactly like the reference's AppState model
(src/main.rs:60-73) — but loads are lazy scans, not eager whole-file
parses.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pyspark.sql import functions as F

from polars_express_spark.catalog import DataLake, file_version
from polars_express_spark.sinks import to_json_rows_flagged


class BadRequest(ValueError):
    """Maps to the reference's StatusCode::BAD_REQUEST responses."""


class NotFound(KeyError):
    """Maps to the reference's 404 on unknown dataset ids."""


def _load(lake: DataLake, data_id: str):
    if not lake.dataset_exists(data_id):
        raise NotFound(data_id)
    return lake.load(data_id)


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
    return to_json_rows_flagged(_load(lake, data_id), limit=limit)


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
    df = _load(lake, data_id)
    delay_cols = [c for c in df.columns if "delay" in c]
    if not delay_cols:
        raise BadRequest(f"dataset {data_id!r} has no delay columns")
    order = [F.col(c).desc() if descending else F.col(c).asc() for c in delay_cols]
    # the sink pushes the limit (min(limit, MAX_SINK_ROWS)) into the plan
    return to_json_rows_flagged(df.orderBy(*order), limit=limit)


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
    single partial+final aggregation.
    """
    df = _load(lake, data_id)
    for c in (x_col, y_col):
        if c not in df.columns:
            raise BadRequest(f"column {c!r} not found")
    x = F.coalesce(F.col(x_col).cast("double"), F.lit(0.0))
    y = F.coalesce(F.col(y_col).cast("double"), F.lit(0.0))
    m = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    ).collect()[0]
    n = m["n"]
    if n == 0:
        raise BadRequest("empty dataset")
    denom = n * m["sxx"] - m["sx"] * m["sx"]
    if denom == 0:
        raise BadRequest("zero variance in x")
    slope = (n * m["sxy"] - m["sx"] * m["sy"]) / denom
    intercept = (m["sy"] - slope * m["sx"]) / n
    ss_tot = n * m["syy"] - m["sy"] * m["sy"]
    r_squared = (
        None if ss_tot == 0 else (n * m["sxy"] - m["sx"] * m["sy"]) ** 2 / (denom * ss_tot)
    )
    return RegressionResult(slope=slope, intercept=intercept, r_squared=r_squared, n=n)


import re as _re

_SQL_IDENT = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
# Temp views are session-global: a view and the file version recorded
# for it in DataLake.sql_views are replaced together under this lock, so
# the record always names the files the view lists.
_SQL_VIEWS_LOCK = threading.Lock()
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
        "UnresolvedRelation",    # FROM t            (checked against views)
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


def _walk_parsed(node, plans: list, exprs: list) -> None:
    """Collect every plan node and expression in a PARSED (unresolved)
    logical plan, descending into subquery expressions (scalar / EXISTS /
    IN / LATERAL all hold a nested plan behind Expression.plan()) and
    into CTE definitions (Spark 4's UnresolvedWith keeps cteRelations
    OUT of children(), so a naive child walk never sees what a CTE body
    reads — the red-team case "WITH t AS (SELECT * FROM
    text.`/etc/passwd`) SELECT * FROM t")."""
    plans.append(node)
    if node.getClass().getSimpleName() == "UnresolvedWith":
        cr = node.cteRelations()
        for i in range(cr.size()):
            _walk_parsed(cr.apply(i)._2(), plans, exprs)
    for e in _jseq(node.expressions()):
        _walk_parsed_expr(e, plans, exprs)
    for c in _jseq(node.children()):
        _walk_parsed(c, plans, exprs)


def _walk_parsed_expr(e, plans: list, exprs: list) -> None:
    exprs.append(e)
    try:
        _walk_parsed(e.plan(), plans, exprs)
    except Exception:
        pass  # not a SubqueryExpression — no nested plan
    for c in _jseq(e.children()):
        _walk_parsed_expr(c, plans, exprs)


def _check_read_only(plan, allowed_views: set[str]) -> None:
    """Reject any parsed plan that could mutate state, read outside the
    registered temp views, or call out of the SQL sandbox.

    Guard layers (a treeString regex was bypassable by
    direct-path relations and reflection functions, and false-positived
    on user identifiers):
    1. node CLASS names must not match the mutating-node vocabulary;
    2. every LEAF plan node must be a known-safe source class —
       unknown leaf = reject (default-deny for grammar we don't model);
    3. every UnresolvedRelation must be a single-part name resolving to
       a registered temp view or a CTE defined in this query — so
       ``FROM parquet.`/path```` / ``FROM text.`/etc/passwd```` (a
       2-part path-provider identifier) and any catalog escape die here;
    4. table-valued functions must be on the generate-only allowlist;
    5. function names (last part) must not be reflection/file escapes.
    """
    plans: list = []
    exprs: list = []
    _walk_parsed(plan, plans, exprs)
    allowed = {v.lower() for v in allowed_views}
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


def run_sql(lake: DataLake, query: str, limit: int | None = None) -> list[dict]:
    """Ad-hoc SQL over the lake (engine-native surface beyond the
    reference's three routes): every dataset whose id is a valid SQL
    identifier is registered as a temp view (again whenever its files
    change), the query runs through Catalyst, and rows come back through
    the capped JSON sink (same driver-materialization bound as every
    other endpoint).

    Read-only AND lake-scoped by construction, enforced BEFORE
    execution: a first-token SELECT/WITH + single-statement check
    (string literals blanked first), then a parse-only pass whose tree
    is walked node-by-node (_check_read_only) — spark.sql() executes
    commands EAGERLY, so the parse must happen without it. Relations
    are pinned to the lake's registered temp views, so server-local
    file reads (``FROM text.`/etc/passwd```` and friends) and JVM
    reflection calls are rejected with 400, not executed.
    Analysis errors (unknown table/column, bad syntax) map to 400."""
    q = query.strip().rstrip(";").strip()
    if ";" in _SQL_STR_LIT.sub("''", q):
        raise BadRequest("one statement per request")
    if not q or q.split(None, 1)[0].upper() not in ("SELECT", "WITH"):
        raise BadRequest("only SELECT/WITH queries are accepted")
    spark = lake.spark
    resolved: set[str] = set()
    for data_id in lake.list_datasets():
        if not _SQL_IDENT.match(data_id):
            continue
        path = lake.dataset_path(data_id)
        version = file_version(path) if path else None
        if version is None:
            continue  # removed since the listing
        if lake.sql_views.get(data_id) != version:
            # a view holds the file listing made when it was built, so it
            # is rebuilt whenever the dataset's files have changed since
            try:
                df = lake.load(data_id)
            except Exception:  # noqa: BLE001
                # a dataset MID-OVERWRITE by a concurrent writer can be
                # momentarily unloadable (schema inference over a
                # half-written dir) — skip it; a query naming it now
                # gets a clean unknown-table 400 instead of a crashed
                # handler, and the next request tries again
                continue
            with _SQL_VIEWS_LOCK:
                df.createOrReplaceTempView(data_id)
                lake.sql_views[data_id] = version
        resolved.add(data_id)
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(q)
    except Exception as e:
        raise BadRequest(f"SQL error: {e}") from e
    _check_read_only(plan, resolved)
    try:
        # execution stays inside the guard too: a view over a since-
        # deleted path fails at collect time, and the caller should see
        # 400, not a crashed handler
        df = spark.sql(q)
        return to_json_rows_flagged(df, limit=limit)[0]
    except BadRequest:
        raise
    except Exception as e:  # parse / analysis / execution → 400
        raise BadRequest(f"SQL error: {e}") from e
