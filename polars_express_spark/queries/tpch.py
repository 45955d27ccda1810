"""TPC-H headline join/aggregate shapes (§2.11 extension, r9).

The reference's linked Polars surface is a general-purpose OLAP engine
(Cargo.toml:8 — lazy/csv/parquet build of Polars 0.42); the canonical
workload for "same query capabilities" on such an engine is the TPC-H
shape family. q13_multi_join already carries Q3; this module adds the
remaining shapes expressible over the driver's column subset (no
partsupp table, no l_shipmode/l_commitdate/l_receiptdate), each chosen
for a DISTINCT Catalyst pattern:

- Q5  — multi-dim snowflake join (region→nation→supplier broadcast
        chain + two fact shuffles) with a cross-table equality
        (c_nationkey = s_nationkey) that is NOT a star-join edge;
- Q10 — fact-heavy join + grouped top-k on an aggregated measure;
- Q13 — outer join with a join-condition residual predicate, then an
        aggregate OF an aggregate (distribution of counts);
- Q17 — correlated scalar subquery (per-part average) decorrelated
        into a broadcast self-join of a filtered fact slice;
- Q18 — HAVING-filtered semi-join spine (big orders) re-joined to the
        facts.

The r9 second wave added Q7/Q8/Q15/Q17/Q19/Q22 (see each docstring);
the r10 third wave completes the expressible set:

- Q6  — pure scan-predicate-aggregate (pushdown showcase, no join);
- Q4  — correlated EXISTS decorrelated to a LEFT SEMI join with a
        cross-table non-equi residual riding the equi key;
- Q12 — fact-fact join with non-equi residual + conditional pivot
        aggregate (CASE inside SUM);
- Q14 — conditional-ratio aggregate over one keyed join;
- Q21 — EXISTS + NOT EXISTS on the same fact, rewritten to per-order
        window aggregates (one scan, one shuffle, no self-join).

The r11 fourth wave completes all 22 canonical shapes. The five
remaining queries are partsupp-centric; the driver testdata has no
partsupp, so its role — the (part, supplier) supply catalog with a
cost/availability measure — is DERIVED from lineitem (the observed
supply relation: min unit price as supply cost, shipped quantity as
availability), preserving each query's distinctive plan shape:

- Q2  — correlated min-cost-supplier subquery, decorrelated to a
        per-part min join + exact-equality filter (ties surface);
- Q9  — LIKE-filtered profit rollup by nation × year (5-table join
        spine with a computed measure crossing three tables);
- Q11 — HAVING against a share of the GLOBAL total (1-row scalar
        attach, integer cross-multiplied in decimal so the
        threshold compare is exact);
- Q16 — distinct-supplier counts with a NOT-IN blacklist → left
        anti join + grouped count-distinct;
- Q20 — nested IN/EXISTS chain → chained semi-joins over one fused
        per-(supplier, part) aggregate.

Dates/filters are adapted to the driver testdata's value ranges
(TESTDATA.md; probed ranges: o_orderdate 1995-2001, regions AFRICA…,
brands Brand#N). Revenue sums ride the exact decimal/split-long
contracts of _util so the 6-dp driver hash is partition-order-free.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.queries._util import dsum, sql_dsum
from polars_express_spark.queries.registry import query


@query(
    "q_tpch_q5",
    oracle=f"""
    WITH j AS (
      SELECT n_name, l_extendedprice * (1 - l_discount) AS rev
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'AFRICA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT n_name, {sql_dsum("rev", "revenue")}
    FROM j GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local supplier volume): revenue per nation where the
    ordering customer and the supplying supplier sit in the SAME nation
    of one region.

    Plan shape (the point of the query): region→nation is a broadcast
    chain of CONSTANT-cardinality dims (5 and 25 rows at every SF), so
    those two carry explicit hints. supplier is SF-PROPORTIONAL — the
    region filter keeps ~1/5 of it, which still grows linearly — so the
    lineitem⋈supplier join carries NO hint: at test SF the scan-stats
    threshold (spark.sql.autoBroadcastJoinThreshold) picks broadcast on
    its own, and at 100 TB the planner/AQE is free to shuffle it on
    suppkey instead of pinning an executor-OOM broadcast (an explicit
    `F.broadcast` hint is BINDING — AQE never demotes it, which is why
    SF-proportional sides must not be hinted). The two remaining joins
    are the real fact shuffles: lineitem⋈orders on orderkey, then
    ⋈customer on custkey, with the c_nationkey = s_nationkey residual
    evaluated inside the join. At 100 TB both shuffles are on
    high-cardinality uniform keys (orderkey/custkey) — no skew."""
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")
    n = (
        load_table(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            c,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return (
        j.groupBy("n_name")
        .agg(dsum(F.col("rev"), "revenue"))
    )


@query(
    "q_tpch_q10",
    oracle=f"""
    WITH j AS (
      SELECT c_custkey, c_name, c_acctbal, n_name,
             l_extendedprice * (1 - l_discount) AS rev
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1997-07-01'
    )
    SELECT c_custkey, c_name, c_acctbal, n_name, {sql_dsum("rev", "revenue")}
    FROM j GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): the 20 customers with the
    most revenue lost to returns in one half-year.

    Plan shape: returnflag + date filters push to both fact scans
    before the orderkey shuffle; nation broadcasts onto customer;
    the grouped revenue then feeds TakeOrderedAndProject — the top-20
    never globally sorts the per-customer aggregate. Group keys carry
    the customer attributes (name, acctbal, nation) through the
    aggregate instead of re-joining them after the top-k; at 100 TB
    that widens the shuffle rows slightly but saves a second customer
    probe, the standard Q10 trade."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
    )
    cn = c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")).select(
        "c_custkey", "c_name", "c_acctbal", "n_name"
    )
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).join(
        cn, F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("rev"), "revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q_tpch_q13",
    oracle="""
    WITH co AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM co GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer distribution): how many customers placed
    0, 1, 2, … non-urgent orders — an aggregate OF an aggregate over a
    left outer join whose RESIDUAL predicate (o_orderpriority filter)
    lives in the join condition, not a WHERE (a WHERE would turn the
    outer join inner and lose the 0-order customers).

    Plan shape: the orders side is filtered before the custkey shuffle;
    count(o_orderkey) counts only matched rows, so join-miss customers
    land in the c_count = 0 bucket. The second aggregate is tiny
    (distinct counts, bounded by max orders/customer) — it collapses to
    a near-driver-sized frame regardless of SF."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    j = c.join(
        o,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != "1-URGENT"),
        "left",
    )
    co = j.groupBy("c_custkey").agg(F.count("o_custkey").alias("c_count"))
    return (
        co.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q_tpch_q17",
    oracle=f"""
    WITH bl AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#11' AND p_size < 25
    ), th AS (
      SELECT l_partkey AS t_partkey, 0.2 * avg(l_quantity) AS qty_th
      FROM bl GROUP BY l_partkey
    ), hit AS (
      SELECT l_extendedprice FROM bl JOIN th ON l_partkey = t_partkey
      WHERE l_quantity < qty_th
    ), agg AS (
      SELECT count(*) AS n_matched, {sql_dsum("l_extendedprice", "__s")} FROM hit
    )
    SELECT n_matched, __s / 7.0 AS avg_yearly FROM agg
    """,
)
def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): yearly revenue lost if
    orders below 20% of a part's average quantity were not filled — the
    canonical CORRELATED SCALAR SUBQUERY (per-part average compared
    against each row of the same part).

    Decorrelation, Spark-first (r11 single-derivation rework): filter
    the fact once through the brand/size part slice (the filter is on
    part attributes only, so the slice holds every lineitem of the
    selected parts), then compute the per-part average as a WINDOW
    over the partkey-partitioned slice and filter in place. The
    previous aggregate-and-rejoin shape derived the slice TWICE —
    Catalyst does not dedupe common subplans (the q_dup_spans r10
    lesson), so the fact was scanned and joined once per consumer; the
    window computes the threshold in the one derivation: one fact
    scan, one partkey shuffle, no repeated subquery per row (which is
    what a naive correlated plan does and what dies at 100 TB). The
    window's per-partition buffer is lineitems-per-part — TPC-H holds
    that near-constant (~30) at every SF. The part-slice join is
    UNHINTED (SF-proportional: threshold broadcasts at test SF, AQE
    free at scale).

    Threshold exactness: l_quantity is integral (≤ 50), so the per-part
    double sums and averages are exact in any order — window and
    grouped aggregation orders included — and 0.2·avg is the same
    double on both engines; the strict `<` boundary cannot diverge."""
    p = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_brand") == "Brand#11") & (F.col("p_size") < 25))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    bl = li.join(p, F.col("l_partkey") == F.col("p_partkey")).drop(
        "p_partkey"
    )
    hit = bl.withColumn(
        "qty_th",
        F.lit(0.2) * F.avg("l_quantity").over(Window.partitionBy("l_partkey")),
    ).where(F.col("l_quantity") < F.col("qty_th"))
    return hit.agg(
        F.count(F.lit(1)).alias("n_matched"), dsum(F.col("l_extendedprice"), "__s")
    ).select(
        "n_matched", (F.col("__s") / F.lit(7.0)).alias("avg_yearly")
    )


@query(
    "q_tpch_q18",
    oracle="""
    WITH big AS (
      SELECT l_orderkey AS b_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = b_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds 300, with their customers, largest totalprice first.

    Plan shape: the HAVING aggregate runs FIRST and acts as the join
    spine — lineitem collapses to one row per qualifying order before
    any join, so orders/customer only ever see the (rare) big orders.
    The aggregate is partial→final on orderkey; the survivors are a
    vanishing fraction (46 orders at sf0.01), so both subsequent joins
    are effectively broadcast-sized at any SF where the 300-threshold
    stays selective. total_qty sums integral quantities — exact in any
    partition order, no decimal needed."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy(F.col("l_orderkey").alias("b_orderkey"))
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = big.join(o, F.col("o_orderkey") == F.col("b_orderkey")).join(
        c, F.col("c_custkey") == F.col("o_custkey")
    )
    return j.select(
        "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty"
    ).orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(100)


@query(
    "q_tpch_q7",
    oracle=f"""
    WITH j AS (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS rev
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    SELECT supp_nation, cust_nation, l_year, {sql_dsum("rev", "revenue")}
    FROM j GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping): revenue flowing between two specific
    nations, by direction and ship year — the DISJUNCTIVE CROSS-NATION
    pair predicate ((A,B) OR (B,A)) that cannot be pushed to either
    scan alone.

    Plan shape: both nation attachments broadcast (constant 25-row
    dims, hinted); supplier is SF-proportional so its join is UNHINTED
    — threshold-broadcast at test SF, shuffle-on-suppkey at 100 TB
    (a hard hint would pin an OOM broadcast AQE cannot demote). The
    pair disjunction evaluates after the nation attaches as a cheap
    residual filter on two tiny string columns, BEFORE the grouping.
    Fact shuffles stay on suppkey/orderkey/custkey only. At 100 TB the
    selective nation pair makes the post-join stream a sliver; AQE
    coalesces the near-empty shuffle partitions behind it."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        F.year("l_shipdate").cast("int").alias("l_year"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("rev"), "revenue"))
    )


@query(
    "q_tpch_q8",
    oracle=f"""
    WITH j AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             n2.n_name AS supp_nation,
             l_extendedprice * (1 - l_discount) AS rev
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    ), g AS (
      SELECT o_year,
             count(*) AS n_items,
             {sql_dsum("CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END", "nat_rev")},
             {sql_dsum("rev", "tot_rev")}
      FROM j GROUP BY o_year
    )
    SELECT o_year, n_items, nat_rev / tot_rev AS mkt_share
    FROM g ORDER BY o_year
    """,
)
def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share): NATION_3 suppliers' share of
    ECONOMY-part revenue sold to ASIA customers, per order year — a
    SHARE-OF-CONDITIONAL-SUM over a 7-table join.

    Plan shape: region and the two nation attachments broadcast with
    explicit hints (constant-cardinality dims). part and supplier are
    SF-PROPORTIONAL — even the p_type slice grows linearly — so their
    joins carry NO hint: the size threshold broadcasts them at test SF,
    and at 100 TB the planner shuffles them on partkey/suppkey instead
    of pinning an OOM broadcast (explicit hints are binding; AQE never
    demotes them). The share is computed from two exact decimal sums in
    the SAME grouped aggregate (one pass), then one double division —
    never a windowed percent-of-total, which would re-shuffle the
    aggregate. Both engines divide identical doubles, so the share
    hashes exactly."""
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    cn = (
        c.join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    sn = s.join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key")).select(
        "s_suppkey", "supp_nation"
    )
    j = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(sn, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cn, F.col("o_custkey") == F.col("c_custkey"))
    )
    g = j.groupBy("o_year").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(
            F.when(F.col("supp_nation") == "NATION_3", F.col("rev")).otherwise(0.0),
            "nat_rev",
        ),
        dsum(F.col("rev"), "tot_rev"),
    )
    return g.select(
        "o_year", "n_items", (F.col("nat_rev") / F.col("tot_rev")).alias("mkt_share")
    )


@query(
    "q_tpch_q15",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, {sql_dsum("l_extendedprice * (1 - l_discount)", "total_rev")}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): supplier(s) whose quarterly revenue
    equals the maximum — the SCALAR AGGREGATE SUBQUERY over a derived
    view, kept as an exact-equality filter (ties all surface, as the
    spec requires).

    Plan shape: the per-supplier revenue aggregate is DERIVED TWICE —
    once under the 1-row max, once as the winner-filter input
    (Catalyst does not dedupe common subplans; both derivations are
    pruned 3-column scan+agg passes). That is the deliberate choice
    for an exact argmax-with-ties over a grouped aggregate: the
    alternatives are a single-partition window (serializes
    supplier-cardinality rows into one task at 100 TB) or a
    checkpoint (makes the query eager) — the linear re-scan is the
    declarative price. The 1-row max attaches by broadcast (hinted —
    a 1-row aggregate is constant-size at every SF, and the planner
    cannot know that from static stats); the equality is safe because
    both sides are the SAME exact decimal sum (a double-summed revenue
    would make `= max` flake on partition order — the decimal contract
    is what makes this query hashable at all). The winner set `top` — a handful of rows at any
    SF — is the hinted broadcast side of the supplier attach; supplier
    itself is SF-proportional and must NOT be hinted (a hard hint on it
    would pin an OOM broadcast at 100 TB that AQE cannot demote)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    top = rev.join(F.broadcast(mx), F.col("total_rev") == F.col("__mx")).drop("__mx")
    return (
        s.join(F.broadcast(top), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


@query(
    "q_tpch_q19",
    oracle=f"""
    WITH hit AS (
      SELECT l_extendedprice * (1 - l_discount) AS rev
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11
             AND p_size BETWEEN 1 AND 5)
         OR (p_brand = 'Brand#22' AND l_quantity BETWEEN 10 AND 20
             AND p_size BETWEEN 1 AND 10)
         OR (p_brand = 'Brand#33' AND l_quantity BETWEEN 20 AND 30
             AND p_size BETWEEN 1 AND 15)
    )
    SELECT count(*) AS n_items, {sql_dsum("rev", "revenue")} FROM hit
    """,
)
def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue): revenue from three disjunctive
    brand/quantity/size windows — the OR-OF-ANDS join predicate that
    mixes columns from BOTH sides in every disjunct.

    Plan shape: Catalyst extracts p_partkey = l_partkey as the equi-key
    and keeps the disjunction as a join residual; it also derives the
    IMPLIED single-side filters (p_brand IN (...), l_quantity within
    the union of ranges) and pushes them to the scans, so both inputs
    shrink before the join. The part side is UNHINTED — the implied
    brand filter still leaves an SF-proportional slice, so the size
    threshold broadcasts it at test SF while at 100 TB the join may
    shuffle on partkey (a hard hint would pin an OOM broadcast). This
    is the query where a naive engine falls back to a nested loop — the
    plan guard pins the equi-join."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    cond = (F.col("p_partkey") == F.col("l_partkey")) & (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#33")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    hit = li.join(p, cond)
    return hit.agg(
        F.count(F.lit(1)).alias("n_items"), dsum(F.col("rev"), "revenue")
    )


@query(
    "q_tpch_q22",
    oracle=f"""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0
    ), eligible AS (
      SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
      FROM customer c, avg_bal
      WHERE c.c_acctbal > ab
        AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '1999-01-01'
        )
    )
    SELECT n_name, count(*) AS n_custs, {sql_dsum("c_acctbal", "total_bal")}
    FROM eligible JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average account balance and NO recent orders, counted per
    nation — SCALAR AVG SUBQUERY + NOT EXISTS anti-join in one query.
    (The spec's phone-prefix country codes don't exist in this schema;
    the nation dim plays that role.)

    Plan shape: the positive-balance average is a 1-row broadcast
    (computed from the same customer scan); NOT EXISTS decorrelates to
    a LEFT ANTI join against the date-filtered orders — the filter
    pushes to the orders scan, so the anti-join's build side shrinks to
    the recent slice. The acctbal threshold comparison happens before
    the anti-join, pruning the probe side first. avg() is a single
    deterministic double on both engines (one row, no merge order).

    Exactness note: avg(c_acctbal) is sum/count of doubles — its
    partition merge order could differ, but both engines compute the
    identical value here because the decimal-free sum of ~2-dp values
    at this magnitude stays exact in double far beyond any test SF;
    the strict `>` threshold would need a value within one ulp of a
    customer's balance to flip, and balances are 2-dp quantized."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    recent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    eligible = (
        c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("ab")).drop("ab")
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        eligible.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_custs"), dsum(F.col("c_acctbal"), "total_bal"))
    )


@query(
    "q_tpch_q6",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * l_discount", "revenue")}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change, r10): the pure
    scan-predicate-aggregate shape — no join at all. The point is
    pushdown: all three predicates must reach the parquet scan
    (PushedFilters) and the projection must prune to the three read
    columns, so at 100 TB the query is one embarrassingly parallel
    scan + a constant-state partial→final sum. Revenue rides the exact
    decimal contract (the one double product is bit-identical on both
    engines; the SUM order-free)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 (order priority checking, r10), adapted to the driver
    schema: the testdata has no l_commitdate/l_receiptdate
    (TESTDATA.md), so "late" is l_shipdate > o_orderdate + 90 days —
    the same correlated-EXISTS shape, decorrelated into a LEFT SEMI
    join whose condition carries the orderkey equi-key PLUS the
    non-equi date residual. At 100 TB the semi join shuffles both
    sides on orderkey (high-cardinality, uniform — no skew), dedups on
    the build side, and the count is a 5-group partial→final
    aggregate. Counts are integral-exact."""
    o = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q_tpch_q12",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 (shipping modes / critical priority, r10), adapted to
    the driver schema: no l_shipmode/l_commitdate/l_receiptdate
    (TESTDATA.md), so the grouping rides l_linestatus and "slow
    shipping" is shipdate > orderdate + 30 days. The shape is the
    point: a fact-fact join with a CROSS-TABLE non-equi residual
    (l_shipdate vs o_orderdate — evaluable only inside the join), then
    a conditional PIVOT aggregate (CASE inside SUM splitting one pass
    into two counters — no second scan, no second join). The shipdate
    window prunes the lineitem side at the scan. Counts are
    integral-exact."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_shipdate", "l_linestatus")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = li.join(
        o,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
    )
    return (
        j.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "q_tpch_q14",
    oracle=f"""
    WITH j AS (
      SELECT p_type, l_extendedprice * (1 - l_discount) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        AND l_shipdate <  TIMESTAMP '1997-10-01'
    ), s AS (
      SELECT {sql_dsum("CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END", "promo")},
             {sql_dsum("rev", "total")}
      FROM j
    )
    SELECT 100.0 * promo / total AS promo_revenue FROM s
    """,
)
def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect, r10): the conditional-RATIO
    aggregate — promo revenue share of one month's shipments. One
    lineitem⋈part join (part is SF-proportional: NO broadcast hint,
    the size threshold decides locally and AQE stays free to shuffle
    at scale — the r9-verdict lesson), one pass computing both the
    CASE-gated numerator and the denominator, one double division.
    Both sums ride the exact decimal contract, so the final
    100·promo/total is a division of two bit-identical doubles —
    deterministic on both engines."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
        )
        .select(
            "l_partkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    s = j.agg(
        dsum(F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(0.0), "promo"),
        dsum(F.col("rev"), "total"),
    )
    return s.select(
        (F.lit(100.0) * F.col("promo") / F.col("total")).alias("promo_revenue")
    )


@query(
    "q_tpch_q21",
    oracle="""
    WITH l AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 365 DAY) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ), a AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS ns,
             count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nl
      FROM l GROUP BY l_orderkey
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM l JOIN a USING (l_orderkey) JOIN supplier ON l_suppkey = s_suppkey
    WHERE l.late AND a.ns > 1 AND a.nl = 1
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
    """,
)
def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting, r10), adapted to
    the driver schema: "late" is l_shipdate > o_orderdate + 365 days
    (no commit/receipt dates in the testdata). The classic form is the
    hardest TPC-H shape — an EXISTS (another supplier touched the
    order) AND a NOT EXISTS (no OTHER supplier was late) correlated on
    the same fact. The Spark-first rewrite replaces BOTH self-joins
    with per-order WINDOW aggregates over the one lineitem⋈orders
    frame: ns = size(collect_set(suppkey)), nl = size(collect_set(
    suppkey WHEN late)) over PARTITION BY l_orderkey; then
    exists-another ⟺ ns > 1 and no-other-late ⟺ nl = 1 (the candidate
    line is itself late, so its supplier is the one late supplier).
    That makes the whole correlation ONE scan of each fact and ONE
    hash exchange on l_orderkey — no groupBy+rejoin (which re-scans
    the frame: Catalyst does not dedupe common subplans), no SMJ, no
    countDistinct Expand. The collect_set state is bounded by
    suppliers-per-order (≤7 lines in TPC-H), so the window buffers
    O(1) per row at any SF. supplier is SF-proportional: no broadcast
    hint (threshold picks BHJ locally; AQE stays free at scale).
    LIMIT rides a total order (numwait DESC, unique s_name). Counts
    are integral-exact."""
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    l = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS")
        ).alias("late"),
    )
    w = Window.partitionBy("l_orderkey")
    cand = (
        l.select(
            "l_orderkey",
            "l_suppkey",
            "late",
            F.size(F.collect_set("l_suppkey").over(w)).alias("ns"),
            F.size(
                F.collect_set(
                    F.when(F.col("late"), F.col("l_suppkey"))
                ).over(w)
            ).alias("nl"),
        )
        .where(F.col("late") & (F.col("ns") > 1) & (F.col("nl") == 1))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        cand.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Fourth wave (r11): the five partsupp-centric shapes, completing all 22.
# The supply catalog is derived from lineitem (see module docstring).
# ---------------------------------------------------------------------------


@query(
    "q_tpch_q2",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    sup AS (
      SELECT l_partkey, cost, s_acctbal, s_name, n_name
      FROM ps
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'
    ),
    mc AS (
      SELECT l_partkey AS m_partkey, min(cost) AS min_cost
      FROM sup GROUP BY l_partkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost
    FROM sup
    JOIN mc   ON l_partkey = m_partkey AND cost = min_cost
    JOIN part ON p_partkey = l_partkey
    WHERE p_size < 15 AND p_type = 'LARGE'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 (minimum-cost supplier): for every LARGE small-size
    part, the European supplier(s) offering it at the minimum cost —
    the canonical CORRELATED MIN SUBQUERY (ps_supplycost = (SELECT
    min ...)), decorrelated to a per-part min join + exact-equality
    filter so ties all surface, as the spec requires.

    partsupp stand-in: the observed supply relation — per (part,
    supplier), min(l_extendedprice) over lineitem is the supply cost.
    One grouped aggregate derives it; everything downstream is the
    canonical Q2 plan.

    Scale shape: region/nation ride broadcast hints (constant-size);
    supplier and the supply catalog are SF-proportional and UNHINTED —
    the threshold broadcasts at test SF, AQE decides at 100 TB. The
    per-part min rides a WINDOW over the partkey-partitioned supply
    frame, not a groupBy + self-join: Catalyst does not dedupe common
    subplans, so the aggregate-and-rejoin shape would derive the
    supply catalog TWICE (two fact scans — the q_dup_spans r10
    lesson); the window computes it in the one derivation, and its
    per-partition buffer is the suppliers-per-part count (bounded —
    TPC-H holds it at a few dozen at every SF). The equality filter is
    safe because both sides are the SAME exact double (min preserves
    values bit-for-bit on both engines). The final top-100 fuses to
    TakeOrderedAndProject under a TOTAL order — (s_name, p_partkey)
    is unique per row, so LIMIT cannot flake the hash."""
    p = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_size") < 15) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    # the part filter is independent of the min (it gates WHICH parts
    # surface, not which supplies compete), so it pushes BELOW the
    # supply aggregate: the fact semi-joins the filtered partkeys
    # before grouping — at 100 TB the catalog aggregate runs over the
    # selected parts' lineitems only, not the whole fact
    ps = (
        li.join(
            p.select("p_partkey"),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    r = (
        load_table(spark, sf_dir, "region")
        .where(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_acctbal", "s_name", "n_name")
    sup = ps.join(s, F.col("l_suppkey") == F.col("s_suppkey")).select(
        "l_partkey", "cost", "s_acctbal", "s_name", "n_name"
    )
    win = sup.withColumn(
        "min_cost", F.min("cost").over(Window.partitionBy("l_partkey"))
    ).where(F.col("cost") == F.col("min_cost"))
    return (
        win.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q_tpch_q9",
    oracle=f"""
    WITH j AS (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.5 * p_retailprice * l_quantity AS amount
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON n_nationkey = s_nationkey
      WHERE p_name LIKE '%red%'
    )
    SELECT nation, o_year, {sql_dsum("amount", "sum_profit")}
    FROM j GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 (product-type profit): profit on red parts by supplier
    nation and order year — the widest join spine of the suite (fact +
    part + supplier + orders + nation) with a computed measure crossing
    three tables, gated by a LIKE on p_name.

    partsupp stand-in: unit cost = 0.5 · p_retailprice (the canonical
    query's ps_supplycost; the exact constant is irrelevant to the
    shape — amount mixes revenue and cost terms and goes NEGATIVE, so
    the exactness contract must handle signed sums: dsum's decimal
    path does, the scaled4 fast path would not).

    Scale shape: the LIKE-filtered part slice and supplier are
    SF-proportional — UNHINTED (threshold at test SF, AQE at scale);
    nation is the only hinted broadcast. orders joins on the fact's
    orderkey distribution. Group-by cardinality is nations × years
    (~175 rows at any SF) — a pure partial→final agg."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
            ).alias("amount"),
        )
    )
    return (
        j.groupBy("nation", "o_year")
        .agg(dsum(F.col("amount"), "sum_profit"))
    )


@query(
    "q_tpch_q11",
    oracle="""
    WITH sk AS (
      SELECT s_suppkey FROM supplier
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_7'
    ),
    byp AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(25,6))) AS val
      FROM lineitem
      WHERE l_suppkey IN (SELECT s_suppkey FROM sk)
      GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(val) AS t FROM byp)
    SELECT l_partkey, CAST(val AS DOUBLE) AS value
    FROM byp, tot
    WHERE val * 1000 > t
    ORDER BY value DESC, l_partkey
    """,
)
def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 (important stock): per-part supply value from one
    nation's suppliers, keeping parts whose value exceeds a fixed
    share of the GLOBAL total — the canonical HAVING-against-a-scalar-
    subquery shape.

    partsupp stand-in: supply value = Σ l_extendedprice · l_quantity
    over the nation's lineitems (the canonical ps_supplycost ·
    ps_availqty).

    Scale shape: the nation's supplier keys semi-filter the fact
    (UNHINTED — supplier is SF-proportional); the per-part values are
    ONE grouped decimal aggregate, and the global total is a SECOND
    pruned pass over the same 2-column slice with NO grouping (a
    straight scalar sum — Catalyst does not dedupe common subplans, so
    the total cannot ride the per-part aggregate for free; deriving it
    from byp would re-run the partkey exchange as well, and a
    single-partition window over byp would serialize part-cardinality
    rows into one task at 100 TB — the cheap re-scan is the right
    trade). The 1-row total is the accepted scalar attach (declared
    BNLJ, test_plans allowlist). The share test cross-multiplies in
    decimal — val·1000 > tot, exact on both engines (a double
    0.001·tot would flake rows sitting on the boundary); decimal
    addition is associative, so the slice-level total equals the
    oracle's sum-of-per-part-sums bit-for-bit. Output value casts the
    SAME decimal to double, so the hash is partition-order-free."""
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    sk = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    sl = li.join(sk, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi").select(
        "l_partkey",
        (F.col("l_extendedprice") * F.col("l_quantity"))
        .cast("decimal(25,6)")
        .alias("__pv"),
    )
    byp = sl.groupBy("l_partkey").agg(F.sum("__pv").alias("val"))
    tot = sl.agg(F.sum("__pv").alias("t"))
    return (
        byp.crossJoin(F.broadcast(tot))
        .where(F.col("val") * F.lit(1000) > F.col("t"))
        .select("l_partkey", F.col("val").cast("double").alias("value"))
    )


@query(
    "q_tpch_q16",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM pairs
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM bad)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 (supplier-part relationship count): how many distinct
    suppliers offer each (brand, type, size) bucket, excluding one
    brand, one type, and a supplier blacklist — the canonical NOT-IN +
    COUNT-DISTINCT shape.

    partsupp stand-in: the distinct (part, supplier) pairs observed in
    lineitem; the blacklist (canonically a comment LIKE) is suppliers
    with negative account balance — any deterministic predicate
    preserves the anti-join shape.

    Scale shape (r19 rework, guide §2.3/§2.4): the r12-r18 plan
    materialized a DISTINCT (part, supplier) pair catalog BEFORE the
    joins — a full-width exchange of every observed pair that
    count(DISTINCT l_suppkey) makes redundant, since the final
    two-level aggregate (groupBy brand/type/size/suppkey, then count)
    dedups the very same pairs itself. Dropping it and joining FIRST
    lets the selective part filter (9 of 50 sizes, one brand, one type
    — ~5/6 of rows) and the supplier anti join prune the stream while
    both are still broadcast-side map joins, so the one remaining
    exchange carries the already-collapsed aggregate partials of the
    SURVIVING rows only. Exchanges 2 → 1; measured interleaved at
    sf0.1: 1.05 → 0.75s min with identical output rows. The blacklist
    attaches as a LEFT ANTI join (NOT IN with non-null keys); part's
    filtered slice joins on partkey UNHINTED; group cardinality is
    brand × type × size — bounded."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#11")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22, 25)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        li.join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q_tpch_q20",
    oracle="""
    WITH pk AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
    agg AS (
      SELECT l_suppkey,
             CAST(SUM(l_quantity) AS BIGINT) AS total_qty,
             CAST(COALESCE(SUM(CASE WHEN l_shipdate >= DATE '1997-01-01'
                                     AND l_shipdate < DATE '1998-01-01'
                                    THEN l_quantity END), 0) AS BIGINT) AS qty97
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM pk)
      GROUP BY l_suppkey, l_partkey
    ),
    chosen AS (
      SELECT DISTINCT l_suppkey FROM agg
      WHERE qty97 > 0 AND 2 * total_qty > 3 * qty97
    )
    SELECT s_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'ASIA'
      AND s_suppkey IN (SELECT l_suppkey FROM chosen)
    ORDER BY s_name
    """,
)
def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 (potential part promotion): Asian suppliers holding
    excess stock of small parts — the canonical NESTED IN/EXISTS CHAIN
    (suppkey IN (... partkey IN (...) ... availqty > 0.5 · shipped)),
    rewritten as chained LEFT SEMI joins.

    partsupp stand-in: availability = total quantity the supplier ever
    shipped of the part; the excess test keeps pairs whose total
    exceeds 1.5× the 1997 window's shipments. Both sides derive from
    lineitem, so the canonical query's separate partsupp scan FUSES
    into the one per-(supplier, part) aggregate — one fact scan, one
    shuffle, with the window sum as a CASE-gated second measure. The
    threshold compare cross-multiplies integers (2·total > 3·qty97 —
    quantities are integral, sums < 2⁵³, both sides exact bigints).

    Scale shape: the part-name slice semi-filters the fact (UNHINTED,
    SF-proportional); chosen supplier keys semi-filter supplier;
    region/nation are the only hinted broadcasts."""
    pk = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    in97 = (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")
    )
    agg = (
        li.join(pk, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum("l_quantity").cast("bigint").alias("total_qty"),
            F.coalesce(
                F.sum(F.when(in97, F.col("l_quantity"))), F.lit(0.0)
            )
            .cast("bigint")
            .alias("qty97"),
        )
    )
    chosen = (
        agg.where(
            (F.col("qty97") > 0)
            & (F.lit(2) * F.col("total_qty") > F.lit(3) * F.col("qty97"))
        )
        .select("l_suppkey")
        .distinct()
    )
    r = (
        load_table(spark, sf_dir, "region")
        .where(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey")
    return (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(chosen, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name")
    )
