"""UDTF correctness query (SURVEY.md §2.10 UDTF row).

Builds deterministic HTML fragments from `nation`, runs the Python
ExtractLinks UDTF via SQL LATERAL, and oracles the result against
DuckDB's regexp_extract_all + unnest — an independent replay of the same
extraction, proving the UDTF surface produces engine-equivalent rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.queries.registry import query


@query(
    "q_udtf_links",
    oracle="""
    WITH html AS (
      SELECT n_nationkey,
             '<a href="/nation/' || n_name || '">' || n_name
               || '</a> <a href=''https://example.org/r/'
               || CAST(n_regionkey AS VARCHAR) || '''>r</a>' AS h
      FROM nation
    )
    SELECT n_nationkey, u.link AS link
    FROM html, unnest(regexp_extract_all(h, 'href=["'']([^"'']+)["'']', 1)) u(link)
    ORDER BY n_nationkey, link
    """,
)
def q_udtf_links(spark, sf_dir):
    """Python UDTF via LATERAL join (§2.10): two links synthesized per
    nation row, exploded to (n_nationkey, link). The reference analog is
    scraper.rs's href extraction; here the table function runs inside the
    engine instead of a host loop."""
    from polars_express_spark.functions import udtf as udtf_mod

    udtf_mod.register(spark)
    n = load_table(spark, sf_dir, "nation")
    html = n.select(
        "n_nationkey",
        F.concat(
            F.lit('<a href="/nation/'),
            F.col("n_name"),
            F.lit('">'),
            F.col("n_name"),
            F.lit("</a> <a href='https://example.org/r/"),
            F.col("n_regionkey").cast("string"),
            F.lit("'>r</a>"),
        ).alias("h"),
    )
    return spark.sql(
        """
        SELECT n_nationkey, l.link AS link
        FROM {html}, LATERAL extract_links(h) l
        """,
        html=html,
    )
