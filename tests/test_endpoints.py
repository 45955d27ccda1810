"""Endpoint-level e2e reproducing the reference's three routes
(SURVEY.md §5.2.4) on reference-shaped fixtures (FIXTURES.md §11-12):
preview default limit, delays sort + 400-on-no-delay-column
(src/main.rs:272-274), regression incl. null-as-0.0 semantics and the
400 error paths (src/main.rs:151-153, 176-177).
"""

from __future__ import annotations

import os

import pytest

from polars_express_spark import api
from polars_express_spark.catalog import DataLake

TRAINS_CSV = """train_id,scheduled_departure_time,departure_delay,arrival_delay,station
ICE1,480.0,5.0,7.5,Berlin
ICE2,490.0,,3.0,Hamburg
RE3,500.0,12.0,15.0,Berlin
RB4,510.0,1.0,,Bonn
ICE5,520.0,30.0,28.0,Munich
"""


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("lake")
    (d / "trains.csv").write_text(TRAINS_CSV)
    (d / "no_delay_cols.csv").write_text("a,b\n1,2\n3,4\n")
    (d / "trains_empty.csv").write_text(
        "train_id,scheduled_departure_time,departure_delay\n"
    )
    (d / "const_x.csv").write_text("x,y\n1.0,2.0\n1.0,3.0\n1.0,4.0\n")
    return DataLake(spark, str(d))


def test_preview_default_limit(lake):
    rows = api.get_data_preview(lake, "trains")
    assert len(rows) == 5
    assert set(rows[0]) == {
        "train_id",
        "scheduled_departure_time",
        "departure_delay",
        "arrival_delay",
        "station",
    }


def test_preview_limit_pushdown(lake):
    assert len(api.get_data_preview(lake, "trains", limit=2)) == 2


def test_preview_preserves_nulls(lake):
    """Reference emits explicit nulls (src/main.rs:224); so do we."""
    rows = api.get_data_preview(lake, "trains")
    ice2 = next(r for r in rows if r["train_id"] == "ICE2")
    assert ice2["departure_delay"] is None


def test_delays_multi_column_sort(lake):
    rows = api.get_sorted_delays(lake, "trains", descending=True)
    assert [r["train_id"] for r in rows] == ["ICE5", "RE3", "ICE1", "RB4", "ICE2"]
    asc = api.get_sorted_delays(lake, "trains", descending=False, limit=2)
    assert len(asc) == 2


def test_delays_default_direction_ascending(lake):
    """Reference default is ascending; desc only when explicitly asked
    (matches!(opts.sorting, Some(Desc)), src/main.rs:277)."""
    rows = api.get_sorted_delays(lake, "trains")
    assert [r["train_id"] for r in rows] == ["ICE2", "RB4", "ICE1", "RE3", "ICE5"]


def test_sink_row_cap(lake, spark):
    """limit=None must never materialize more than MAX_SINK_ROWS on the
    driver (100 TB design bound); explicit limits are clamped to the cap."""
    from polars_express_spark import sinks

    big = spark.range(25_000).withColumnRenamed("id", "some_delay")
    for limit, n in ((None, 100), (500, 100), (50, 50)):
        rows, _ = sinks.to_json_rows_flagged(sinks.json_answer(big, limit, max_rows=100))
        assert len(rows) == n


def test_sink_truncation_flag(lake, spark):
    """The flag fires ONLY when the cap (not the caller's own limit) cut
    rows off — a caller asking for 50 and getting 50 was not truncated,
    a caller asking for everything and getting max_rows was."""
    from polars_express_spark import sinks

    big = spark.range(25_000).withColumnRenamed("id", "some_delay")
    small = spark.range(40).withColumnRenamed("id", "some_delay")
    assert sinks.to_json_rows_flagged(sinks.json_answer(big, None, 100))[1] is True
    assert sinks.to_json_rows_flagged(sinks.json_answer(big, 500, 100))[1] is True
    assert sinks.to_json_rows_flagged(sinks.json_answer(big, 50, 100))[1] is False
    assert sinks.to_json_rows_flagged(sinks.json_answer(small, None, 100))[1] is False
    # exactly max_rows rows available: complete, not truncated
    exact = spark.range(100).withColumnRenamed("id", "some_delay")
    assert sinks.to_json_rows_flagged(sinks.json_answer(exact, None, 100))[1] is False


def test_delays_400_on_no_delay_column(lake):
    with pytest.raises(api.BadRequest):
        api.get_sorted_delays(lake, "no_delay_cols")


def test_delays_404_on_unknown_dataset(lake):
    with pytest.raises(api.NotFound):
        api.get_sorted_delays(lake, "ghost")


def test_regression_null_as_zero(lake):
    """ICE2's null delay counts as 0.0 (src/main.rs:163-164)."""
    r = api.run_regression(lake, "trains", "scheduled_departure_time", "departure_delay")
    assert r.n == 5
    # hand-computed on (480,5) (490,0) (500,12) (510,1) (520,30):
    # Σ(x-x̄)(y-ȳ)=510, Σ(x-x̄)²=1000 → slope 0.51; ȳ=9.6 → intercept -245.4
    assert r.slope == pytest.approx(0.51, abs=1e-9)
    assert r.intercept == pytest.approx(-245.4, abs=1e-9)


def test_regression_400_paths(lake):
    with pytest.raises(api.BadRequest):
        api.run_regression(lake, "trains", "nope", "departure_delay")
    with pytest.raises(api.BadRequest):
        api.run_regression(lake, "trains_empty", "scheduled_departure_time", "departure_delay")
    with pytest.raises(api.BadRequest):
        api.run_regression(lake, "const_x", "x", "y")


# ---- /sql guard fuzz (r7): class-name matching must never touch
# user-chosen identifiers, and relation pinning must hold for ANY
# multipart spelling ----

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# fragments straight out of the forbidden node vocabulary — an
# identifier BUILT from them is the worst case for a substring matcher
_NODEY = [
    "Insert", "Command", "Write", "Create", "Drop", "Alter", "Merge",
    "Delete", "Update", "Cache", "Refresh", "Load", "Analyze",
    "Truncate", "Namespace", "Catalog", "Identifier", "Execute",
    "Call", "Replace",
]
_ident = (
    st.lists(st.sampled_from(_NODEY), min_size=1, max_size=3)
    .map("".join)
    # suffix keeps single fragments from colliding with reserved words
    # (ANSI mode refuses bare INSERT/DELETE/... as identifiers)
    .map(lambda s: s + "edAt")
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_ident)
def test_sql_guard_ignores_nodey_identifiers(lake, name):
    """A CTE, column, and alias all named from forbidden-node fragments
    must execute — the guard reads node classes, never identifiers."""
    rows = api.run_sql(
        lake,
        f"WITH {name} AS (SELECT 1 AS {name}_c) "
        f"SELECT {name}_c AS v FROM {name} {name}_alias",
    )
    assert rows == [{"v": 1}]


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.sampled_from(["trains", "text", "parquet", "json", "csv", "spark_catalog", "x"]),
    st.sampled_from(["trains", "`/etc/passwd`", "`/tmp/x`", "y", "default"]),
)
def test_sql_guard_rejects_every_multipart_relation(lake, a, b):
    """No 2-part relation resolves — whatever the parts spell (data
    source providers, catalogs, quoted paths, even valid view names)."""
    with pytest.raises(api.BadRequest):
        api.run_sql(lake, f"SELECT * FROM {a}.{b}")
