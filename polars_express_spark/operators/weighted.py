"""Weighted quantiles — the order statistic Spark has no built-in for
(§2.4 family; percentile/median weight every row equally, but curation
pipelines constantly need "the median document BY TOKEN MASS", not by
document count).

Definition (lower weighted quantile): for rows (v, w) in a group, the
q-quantile is the smallest v whose cumulative weight — over rows
ordered by v — reaches q · Σw. Weights ride the exact 4-dp scaled-long
accumulator, so the crossing point is exact, the result is an ACTUAL
DATA VALUE (no interpolation), and it replays identically in SQL.

Shape (r7 rebuild, r10 crossing-bucket prune): pre-aggregate to
distinct (group, value) with map-side-combined weight sums — equal
values cross together, so this loses nothing and removes ties — then
range-bucket each group on its own value range (the grouped Blelloch
scan's first level, operators/prefix.py) and resolve the quantile from
per-bucket subtotals: exactly ONE bucket per group contains the
crossing, so only that bucket's rows get the intra-bucket running sum.
The previous shapes — ``SUM(w) OVER (PARTITION BY group ORDER BY
value)``, and the full grouped prefix scan — sort every group (resp.
every bucket); with a handful of groups (returnflags, languages,
splits) a 1000-executor cluster would do the former on ~3 cores. Now
no task ever sorts more than ~1/n_buckets of a group, and only one
bucket per group is sorted at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# weights ride the 4-dp scaled-long contract (_util.scaled4): exact for
# non-negative ≤4-dp weights, and the cumulative sums are primitive long
# window adds — the decimal(38,12) cumsum this replaced paid a
# BigDecimal allocation per row (measured ~3× the whole query)
WEIGHT_SCALE = 10_000


def weighted_quantile(
    df: DataFrame,
    group: str,
    value: str,
    weight: str,
    q_num: int = 1,
    q_den: int = 2,
    tiebreak: str | None = None,
    fast4: bool = True,
) -> DataFrame:
    """(group, wq_value, total_weight) — lower weighted q-quantile per
    group, q = q_num/q_den. Rows with null value or non-positive weight
    are ignored (they carry no mass). The crossing test is
    cum · q_den ≥ tot · q_num — long×small-integer products, exact on
    every engine (a decimal×decimal 0.5·tot would hit engine-specific
    precision/scale rules; a double cumsum is partition-order noise).
    ``tiebreak`` is accepted for API compatibility but has no effect:
    the operator pre-aggregates equal values (they cross together), so
    the internal order is total without it.

    Weight contract: the default ``fast4=True`` path rides the 4-dp
    scaled-long accumulator (_util.scaled4) — EXACT only for
    non-negative weights with ≤4 decimal places (token counts, prices,
    byte sizes). Weights with more precision are silently quantized to
    4 dp, which can move the crossing point. For arbitrary-precision
    weights pass ``fast4=False``: the sums run in decimal(38,12) —
    exact to 12 dp and still order-free, at the cost of a BigDecimal
    add per row (~3× on the scan stage). Headroom bound (fast4=False
    contract): the crossing test multiplies the decimal(38,12) sums by
    q_den/q_num, so total group weight must stay below ~10^25 / q_den
    — beyond that the product overflows decimal(38) and (non-ANSI)
    nulls out the predicate, silently dropping the group. Weights that
    large should be pre-scaled by the caller (they exceed any physical
    token/byte mass by orders of magnitude)."""
    from pyspark.sql import Window

    from polars_express_spark.queries._util import scaled4

    d = df.where(
        F.col(value).isNotNull() & F.col(weight).isNotNull() & (F.col(weight) > 0)
    )
    w_expr = (
        scaled4(F.col(weight))
        if fast4
        else F.col(weight).cast("decimal(38,12)")
    )
    # distinct (group, value) with combined mass: the partial→final agg
    # is the map-side combine a naive window never gets, and it makes
    # `value` a total order per group (the prefix-scan contract).
    dd = (
        d.select(group, value, w_expr.alias("__w"))
        .groupBy(group, value)
        .agg(F.sum("__w").alias("__w"))
        .localCheckpoint(eager=False)
    )
    # dd feeds FOUR consumers (bounds, bucketing, subtotals, the pruned
    # crossing-bucket pass). Catalyst does not dedupe common subplans
    # and exchange reuse needs canonically IDENTICAL subtrees — column
    # pruning makes each consumer's copy different, so without
    # materialization the raw input is scanned and re-aggregated once
    # per consumer (r11: measured four lineitem scans, zero
    # ReusedExchange; the r8 comment claiming AQE stage reuse here was
    # wrong). A LAZY localCheckpoint materializes dd on first touch —
    # the operator stays lazy, the input is scanned ONCE, and every
    # later stage runs over the deduped (group, value) frame, whose
    # size the dedup already bounds.
    # bounds/crossb are GROUP-CARDINALITY frames: tiny for the declared
    # uses (returnflags, languages, splits) but unbounded if a caller
    # groups by a high-cardinality key — so no binding F.broadcast hint
    # (the r9 tpch lesson): the size threshold picks BHJ when they fit
    # and AQE stays free to demote when they don't. test_plans.py pins
    # BHJ-by-threshold at test SF.
    n_buckets = 64
    bounds = dd.groupBy(group).agg(
        F.min(value).alias("__lo"), F.max(value).alias("__hi")
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(n_buckets)
    b = (
        dd.join(bounds, group)
        .withColumn(
            "__bkt",
            F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
                F.least(
                    F.lit(n_buckets - 1),
                    F.floor((F.col(value) - F.col("__lo")) / width).cast("int"),
                )
            ),
        )
        .drop("__lo", "__hi")
    )
    # Per-(group, bucket) mass subtotals, then offsets and group totals
    # over that TINY frame (≤ n_buckets rows per group). A single
    # quantile needs the full running sum in exactly ONE bucket per
    # group — the first whose through-end cumulative reaches q·Σw — so
    # unlike the general prefix scan (operators/prefix.py, which this
    # shape specializes), the intra-bucket window below runs over the
    # crossing bucket only: ~1/n_buckets of each group instead of all
    # of it. (r10; the full grouped_bucketed_cumsum sorted every bucket
    # to produce cumulative weights this predicate then discarded.)
    subtot = b.groupBy(group, "__bkt").agg(F.sum("__w").alias("__s"))
    # offsets and group totals share one window sort over the subtotal
    # frame (same partition + order, two frames)
    span = Window.partitionBy(group).orderBy("__bkt")
    ann = subtot.select(
        group,
        "__bkt",
        "__s",
        F.coalesce(
            F.sum("__s").over(span.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("__off"),
        F.sum("__s")
        .over(
            span.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .alias("__tot"),
    )
    # Crossing test everywhere: cum · q_den ≥ tot · q_num — long×small-
    # integer products, exact. Every group crosses somewhere (the last
    # bucket's through-end cum IS tot, and q ≤ 1), so min_by picks the
    # first crossing bucket; its offset and the group total ride along.
    crossb = (
        ann.where(
            (F.col("__off") + F.col("__s")) * F.lit(int(q_den))
            >= F.col("__tot") * F.lit(int(q_num))
        )
        .groupBy(group)
        .agg(F.min_by(F.struct("__bkt", "__off", "__tot"), "__bkt").alias("__cb"))
        .select(group, "__cb.__bkt", "__cb.__off", "__cb.__tot")
    )
    intra = (
        Window.partitionBy(group, "__bkt")
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pruned = b.join(crossb, [group, "__bkt"])
    crossed = pruned.withColumn(
        "__cum", F.col("__off") + F.sum("__w").over(intra)
    ).where(
        F.col("__cum") * F.lit(int(q_den)) >= F.col("__tot") * F.lit(int(q_num))
    )
    tot_out = (
        F.max("__tot").cast("double") / F.lit(float(WEIGHT_SCALE))
        if fast4
        else F.max("__tot").cast("double")
    )
    return crossed.groupBy(group).agg(
        F.min(value).alias("wq_value"),
        tot_out.alias("total_weight"),
    )
