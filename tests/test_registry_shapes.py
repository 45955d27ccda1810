"""Registry-wide output-shape guard (VERDICT r7 next-step #3).

The external driver canonicalizes every query result through pandas
(``sort_values`` → ``factorize``), which throws ``unhashable type`` on
container cells — a query can be VALUE-correct yet driver-red purely on
output shape (r7's q_tokenize_ids: ``array<bigint>`` ids column). This
guard fails the build before the driver does: every registered query
must declare a schema of scalar-typed top-level columns only, and those
scalars must sort under a driver-style pandas canonicalization.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from tests.conftest import SF_DIR

_CONTAINERS = (ArrayType, MapType, StructType)

# one representative value pair per scalar Spark type family — enough to
# prove the dtype pandas materializes it to is sortable
_SAMPLES = {
    "string": ["b", "a"],
    "binary": [b"b", b"a"],
    "boolean": [True, False],
    "date": [pd.Timestamp("2020-01-02").date(), pd.Timestamp("2020-01-01").date()],
    "timestamp": [pd.Timestamp("2020-01-02"), pd.Timestamp("2020-01-01")],
    "timestamp_ntz": [pd.Timestamp("2020-01-02"), pd.Timestamp("2020-01-01")],
    "double": [2.5, 1.5],
    "float": [2.5, 1.5],
    "decimal": [2.5, 1.5],
    "tinyint": [2, 1],
    "smallint": [2, 1],
    "int": [2, 1],
    "bigint": [2, 1],
    "long": [2, 1],
}


def test_registry_output_shapes_are_driver_safe(spark):
    """Two assertions per registered query, from ONE plan build per
    query. The sweep is schema-only — no collect — for every query
    EXCEPT q_sql_surface, which is eager by design (it drives the real
    /sql endpoint, which collects JSON rows; see its docstring):

    1. no top-level array/map/struct column — the driver's pandas
       canonicalizer cannot sort or hash container cells; queries with
       genuinely nested results must stringify (q_tokenize_ids:
       F.array_join) — the string IS the contract;
    2. every declared scalar type sorts under a driver-style
       ``sort_values`` canonicalization, probed on a 2-row synthetic
       frame built from the declared types (data-volume independent).
    """
    from polars_express_spark.queries.registry import all_queries

    container_bad, unmodeled = [], []
    for name, fn in all_queries().items():
        df = fn(spark, SF_DIR)
        data = {}
        for f in df.schema.fields:
            if isinstance(f.dataType, _CONTAINERS):
                container_bad.append((name, f.name, f.dataType.simpleString()))
                continue
            vals = _SAMPLES.get(f.dataType.simpleString().split("(")[0])
            if vals is None:
                unmodeled.append((name, f.name, f.dataType.simpleString()))
                continue
            data[f.name] = list(vals)
        if data:
            try:
                pd.DataFrame(data).sort_values(by=list(data))
            except TypeError as e:  # pragma: no cover — the guard itself
                pytest.fail(f"{name}: driver canonicalizer would fail: {e}")
    assert not container_bad, (
        f"container-typed outputs (driver-incompatible): {container_bad}"
    )
    assert not unmodeled, f"unmodeled scalar types (extend _SAMPLES): {unmodeled}"


_SPARK_FAMILY = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "long": "int", "double": "float", "float": "float", "decimal": "float",
    "boolean": "bool", "date": "time", "timestamp": "time",
    "timestamp_ntz": "time", "string": "obj", "binary": "obj",
}


def _pd_family(dtype) -> str:
    s = str(dtype)
    if s.startswith(("int", "uint")):
        return "int"
    if s.startswith("float"):
        return "float"
    if s == "bool":
        return "bool"
    if s.startswith("datetime"):
        return "time"
    return "obj"


def test_every_query_has_an_oracle():
    """__spark_entry__'s docstring claims a DuckDB twin for EVERY
    registered query. Keep the claim LIVE instead of hardcoding a count
    in the docstring — the hardcoded number went stale twice (said
    165/165 for four rounds, then 191/191 against a 192-query registry;
    VERDICT r11 what's-wrong #1). A query registered with oracle=None
    would fall back to the driver's weaker rows-only check — fail here
    first so the demotion is a deliberate, reviewed choice."""
    from polars_express_spark.queries.registry import all_oracles, all_queries

    qs, osql = all_queries(), all_oracles()
    assert set(qs) == set(osql), (
        f"queries without oracles (rows-only fallback): {sorted(set(qs) - set(osql))}"
        f" / oracles without queries: {sorted(set(osql) - set(qs))}"
    )


def test_oracle_dtypes_match_spark_schema(spark, ddb):
    """Driver-canonicalizer dtype parity (r8): the oracle result's pandas
    dtype family must match the Spark schema's for every column — value
    equality alone is not enough, because e.g. DuckDB SUM(BIGINT) yields
    HUGEINT which pandas lifts to float64 while Spark emits int64; the
    values compare equal (5.0 == 5) but a dtype-sensitive external hash
    splits. Caught live on q_semdedup's bucket column before its first
    driver check. Spark side is schema-only (lazy); oracles execute at
    the suite SF. A nullable Spark int arriving as float64-with-NaN on
    the ORACLE side is also flagged — both engines must agree on how the
    column materializes."""
    from polars_express_spark.queries.registry import all_oracles, all_queries

    qs, osql = all_queries(), all_oracles()
    bad = []
    for name, sql in osql.items():
        sfam = {
            f.name: _SPARK_FAMILY.get(f.dataType.simpleString().split("(")[0], "obj")
            for f in qs[name](spark, SF_DIR).schema.fields
        }
        opdf = ddb.execute(sql).df()
        for c in opdf.columns:
            got = _pd_family(opdf[c].dtype)
            want = sfam.get(c)
            if want is not None and got != want:
                bad.append((name, c, f"spark={want}", f"oracle={opdf[c].dtype}"))
    assert not bad, f"oracle/Spark dtype-family splits: {bad}"


def test_registry_queries_register_no_temp_views(spark):
    """Building a query leaves the session's temp views as they were:
    frames reach SQL text through spark.sql's DataFrame arguments, and
    /sql binds the lake's frames inside its plan. Run on a new session
    (shared SparkContext, its own temp views), so views that other
    tests registered cannot hide one."""
    from polars_express_spark.queries.registry import all_queries

    qs = all_queries()
    session = spark.newSession()
    before = sorted(t.name for t in session.catalog.listTables())
    for name in ("q22c_grouping_sets", "q_udtf_links", "q_sql_surface"):
        assert qs[name](session, SF_DIR).columns
    assert sorted(t.name for t in session.catalog.listTables()) == before
