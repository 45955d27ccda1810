"""Statistical-testing & association corpus (SURVEY.md §2.4 extensions).

The hypothesis-test / association shapes a warehouse is asked for once
the plain aggregates exist: two-sample KS (distribution drift), the
two-proportion z-test (A/B experiment readout), chi-squared contingency
(categorical independence), market-basket lift (co-occurrence
association), Benford first-digit audit (fraud/quality screening), PMI
collocations (corpus statistics for LLM data work), and a truncated
EWMA (time-series smoothing without sequential state).

Determinism strategy — every float the hash sees is either
(a) one IEEE operation over exact integers (a single division, sqrt or
log of an exactly-representable value is correctly rounded and thus
bit-identical across engines), or (b) a decimal-exact sum cast once to
double (see _util). No unordered float accumulation anywhere.

Reference analog: none of these exist in the reference surface
(src/main.rs exposes preview/delays/regression only); they extend the
linked-Polars Tier-L aggregate family the same way the sketch corpus
does.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.queries.registry import query

_KS_A, _KS_B = "1-URGENT", "5-LOW"


@query(
    "q_ks_test",
    oracle=f"""
    WITH ab AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderpriority = '{_KS_A}' THEN 1 ELSE 0 END AS a,
             CASE WHEN o_orderpriority = '{_KS_B}' THEN 1 ELSE 0 END AS b
      FROM orders
      WHERE o_orderpriority IN ('{_KS_A}', '{_KS_B}')
    ),
    per_v AS (SELECT v, SUM(a) AS sa, SUM(b) AS sb FROM ab GROUP BY v),
    cum AS (
      SELECT SUM(sa) OVER (ORDER BY v) AS ca,
             SUM(sb) OVER (ORDER BY v) AS cb
      FROM per_v
    ),
    tot AS (SELECT SUM(sa) AS na, SUM(sb) AS nb FROM per_v)
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(MAX(ABS(ca * nb - cb * na)) AS BIGINT) AS ks_scaled,
           CAST(MAX(ABS(ca * nb - cb * na)) AS DOUBLE)
             / CAST(na * nb AS DOUBLE) AS ks_d
    FROM cum, tot
    GROUP BY na, nb
    """,
)
def q_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov distance between the URGENT and LOW
    order-priority price distributions. D = max |F_A(x) − F_B(x)| over
    the pooled ECDFs; computed on cross-multiplied INTEGER counts
    (|ca·nb − cb·na|) so the max is exact, with one final division for
    the statistic. The global running counts go through the two-level
    bucketed prefix sum (operators/prefix.py) — a naive
    ``SUM() OVER (ORDER BY v)`` would serialize 100 TB through one
    window task; here every task sees ~1/32 of the distinct values."""
    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    ab = o.where(F.col("o_orderpriority").isin(_KS_A, _KS_B)).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == _KS_A, 1).otherwise(0).cast("long").alias("a"),
        F.when(F.col("o_orderpriority") == _KS_B, 1).otherwise(0).cast("long").alias("b"),
    )
    # per_v (the deduped ECDF support) feeds the prefix scan's three
    # internal passes plus the totals; Catalyst does not dedupe common
    # subplans, so without materialization the orders scan + dedup
    # aggregation re-ran once per consumer (r11: measured five scans).
    # Distinct-value-bounded — safe to pin lazily.
    per_v = (
        ab.groupBy("v")
        .agg(F.sum("a").alias("sa"), F.sum("b").alias("sb"))
        .localCheckpoint(eager=False)
    )
    from polars_express_spark.operators.prefix import bucketed_cumsum

    cum = bucketed_cumsum(per_v, "v", ["sa", "sb"], n_buckets=32)
    tot = per_v.agg(F.sum("sa").alias("n_a"), F.sum("sb").alias("n_b"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(
            F.max(
                F.abs(F.col("cum_sa") * F.col("n_b") - F.col("cum_sb") * F.col("n_a"))
            ).alias("ks_scaled")
        )
        .select(
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("ks_scaled").cast("bigint").alias("ks_scaled"),
            (
                F.col("ks_scaled").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("ks_d"),
        )
    )


@query(
    "q_ab_ztest",
    oracle="""
    WITH pu AS (
      SELECT user_id,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                     > SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      FROM pu
    )
    SELECT n_a, n_b, conv_a, conv_b,
           CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
           CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
           CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN NULL
           ELSE
             (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / SQRT(
                 (CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                 * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                 * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))
               )
           END AS z
    FROM g
    """,
)
def q_ab_ztest(spark, sf_dir):
    """Two-proportion z-test for an A/B experiment readout: users are
    deterministically assigned an arm (even/odd user_id here; salted
    xxhash64 buckets in production — modulo keeps the oracle exactly
    replayable), conversion = more purchases than errors, and
    z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b)); a degenerate pooled
    rate (0 or 1) yields NULL instead of ±∞. One partial→final per-user
    aggregate + one global conditional-count aggregate; every float is
    a single IEEE op over exact integers (division and sqrt are
    correctly rounded → bit-identical across engines)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    pu = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            > F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)),
            1,
        )
        .otherwise(0)
        .alias("conv")
    )
    arm0 = F.col("user_id") % 2 == 0
    g = pu.agg(
        F.sum(F.when(arm0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(~arm0, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(arm0, F.col("conv")).otherwise(0)).cast("bigint").alias("conv_a"),
        F.sum(F.when(~arm0, F.col("conv")).otherwise(0)).cast("bigint").alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    p_b = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n_a").cast("double") + F.lit(1.0) / F.col("n_b").cast("double"))
    )
    degenerate = (F.col("conv_a") + F.col("conv_b") == 0) | (
        F.col("conv_a") + F.col("conv_b") == F.col("n_a") + F.col("n_b")
    )
    return g.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise((p_a - p_b) / se)
        .alias("z"),
    )


@query(
    "q_chi2",
    oracle="""
    WITH cells AS (
      SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS obs
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    rt AS (SELECT l_returnflag, SUM(obs) AS r FROM cells GROUP BY l_returnflag),
    ct AS (SELECT l_linestatus, SUM(obs) AS c FROM cells GROUP BY l_linestatus),
    n AS (SELECT SUM(obs) AS n FROM cells),
    x AS (
      SELECT cells.l_returnflag, cells.l_linestatus, obs,
             CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
             (CAST(obs AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(obs AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE)) AS contrib
      FROM cells JOIN rt USING (l_returnflag) JOIN ct USING (l_linestatus), n
    )
    SELECT l_returnflag, l_linestatus, obs, expected, contrib,
           CAST(SUM(CAST(ROUND(contrib, 8) AS DECIMAL(38,12))) OVER () AS DOUBLE)
             AS chi2
    FROM x
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_chi2(spark, sf_dir):
    """Chi-squared independence test over the l_returnflag ×
    l_linestatus contingency table: observed counts, expected counts
    under independence (row·col/N), per-cell contributions, and the
    χ² total. One partial→final count per cell plus two tiny margin
    aggregates broadcast back. The total sums per-cell contributions
    AFTER rounding to 8 dp and casting to decimal, so the few-term
    float sum is order-free; per-cell floats are single-division
    expressions over exact integers. Cell count is bounded by category
    cardinality, so the unpartitioned total window is O(cells), not
    O(rows)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    rt = cells.groupBy("l_returnflag").agg(F.sum("obs").alias("r"))
    ct = cells.groupBy("l_linestatus").agg(F.sum("obs").alias("c"))
    n = cells.agg(F.sum("obs").alias("n"))
    expected = (F.col("r") * F.col("c")).cast("double") / F.col("n").cast("double")
    contrib = (
        (F.col("obs").cast("double") - expected)
        * (F.col("obs").cast("double") - expected)
        / expected
    )
    x = (
        cells.join(F.broadcast(rt), "l_returnflag")
        .join(F.broadcast(ct), "l_linestatus")
        .crossJoin(F.broadcast(n))
        .select(
            "l_returnflag",
            "l_linestatus",
            "obs",
            expected.alias("expected"),
            contrib.alias("contrib"),
        )
    )
    total = (
        F.sum(F.round(F.col("contrib"), 8).cast("decimal(38,12)"))
        .over(Window.partitionBy())
        .cast("double")
    )
    return x.select(
        "l_returnflag", "l_linestatus", "obs", "expected", "contrib", total.alias("chi2")
    )


@query(
    "q_market_basket",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    norders AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
    pairs AS (
      SELECT x.pk AS p1, y.pk AS p2
      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
    ),
    pc AS (SELECT p1, p2, CAST(count(*) AS BIGINT) AS pair_cnt FROM pairs GROUP BY p1, p2),
    tk AS (SELECT * FROM pc ORDER BY pair_cnt DESC, p1, p2 LIMIT 20),
    ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY pk)
    SELECT p1, p2, pair_cnt,
           i1.c AS c1, i2.c AS c2,
           CAST(pair_cnt AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
           CAST(pair_cnt * n_orders AS DOUBLE) / CAST(i1.c * i2.c AS DOUBLE) AS lift
    FROM tk JOIN ic i1 ON i1.pk = tk.p1 JOIN ic i2 ON i2.pk = tk.p2, norders
    ORDER BY pair_cnt DESC, p1, p2
    """,
)
def q_market_basket(spark, sf_dir):
    """Market-basket association rules: the 20 most frequent co-purchased
    part pairs with support and lift = P(p1,p2)/(P(p1)·P(p2)).

    Scale shape (r8 rework): pairs come from ONE shuffle — group the
    line items into a sorted distinct basket per order
    (``collect_set`` → ``array_sort``), then expand the ascending pairs
    with an expression-level nested ``transform``/``slice`` (codegen'd,
    no Python). Baskets are small (TPC-H ≤7 items → ≤21 pairs), so the
    expansion is bounded per row; the r5–r7 version's self equi-join on
    the order key shuffled AND sorted both sides for the same result.
    The basket frame is memoized and feeds pair counts, per-item counts
    (baskets are distinct, so explode-and-count is exact), and the
    order total. Top-k fuses to TakeOrderedAndProject before the
    (broadcast) item-frequency joins, so only 20 pairs ever reach the
    lift arithmetic — single divisions of exact integer products."""
    from polars_express_spark.queries._memo import FRAMES

    def _build():
        # r19 note: a hash-repartition on ok before the collect_set was
        # measured FASTER on the isolated warm-session build (2.64 →
        # 1.81s median) but a WASH in the bench's own metric (fresh
        # process, min of 2 passes: old mins 1.44-1.86 vs new 1.30-1.90
        # over 3 alternations) with the cold pass-1 consistently slower
        # — lineitem is orderkey-clustered, so the map-side partial
        # collect_set already collapses 600k rows to ~basket rows and
        # the extra exchange only helps a path min() never reports.
        # Reverted to the plain shape (guide §1: keep only wins the
        # target metric confirms).
        return (
            load_table(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
            .groupBy("ok")
            .agg(F.array_sort(F.collect_set("pk")).alias("items"))
        )

    baskets = FRAMES.get(spark, (sf_dir, "basket_items"), _build)
    norders = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) ->"
                " transform(slice(items, i + 2, size(items)), y ->"
                " struct(x AS p1, y AS p2))))"
            )
        ).alias("pr")
    ).select("pr.p1", "pr.p2")
    pc = pairs.groupBy("p1", "p2").agg(F.count(F.lit(1)).cast("bigint").alias("pair_cnt"))
    tk = pc.orderBy(F.col("pair_cnt").desc(), "p1", "p2").limit(20)
    ic = (
        baskets.select(F.explode("items").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    i1 = ic.select(F.col("pk").alias("p1"), F.col("c").alias("c1"))
    i2 = ic.select(F.col("pk").alias("p2"), F.col("c").alias("c2"))
    return (
        F.broadcast(tk)
        .join(i1, "p1")
        .join(i2, "p2")
        .crossJoin(F.broadcast(norders))
        .select(
            "p1",
            "p2",
            "pair_cnt",
            "c1",
            "c2",
            (F.col("pair_cnt").cast("double") / F.col("n_orders").cast("double")).alias(
                "support"
            ),
            (
                (F.col("pair_cnt") * F.col("n_orders")).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double")
            ).alias("lift"),
        )
    )


@query(
    "q_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders
    ),
    g AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY digit)
    SELECT digit, cnt,
           CAST(cnt AS DOUBLE)
             / CAST(SUM(cnt) OVER () AS DOUBLE) AS share,
           LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS benford_expected
    FROM g ORDER BY digit
    """,
)
def q_benford(spark, sf_dir):
    """Benford first-significant-digit audit over order totals — the
    classic data-quality / fraud screen. The digit is extracted through
    exact integer cents (round(price·100) → bigint → first char), never
    by formatting a double to a string (engine float formatting
    differs); shares are single divisions of exact counts against the
    log10(1+1/d) Benford expectation. One groupBy onto ≤9 rows."""
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    d = o.select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
    g = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = F.sum("cnt").over(Window.partitionBy())
    return g.select(
        "digit",
        "cnt",
        (F.col("cnt").cast("double") / tot.cast("double")).alias("share"),
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")).alias(
            "benford_expected"
        ),
    )


@query(
    "q_pmi",
    oracle="""
    WITH toks AS (
      SELECT list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS l
      FROM documents
    ),
    bg AS (
      SELECT l[s.i] AS w1, l[s.i + 1] AS w2
      FROM toks, unnest(generate_series(1, len(l) - 1)) s(i)
      WHERE len(l) >= 2
    ),
    pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_cnt FROM bg GROUP BY w1, w2),
    r AS (SELECT w1, SUM(pair_cnt) AS w1_cnt FROM pc GROUP BY w1),
    s AS (SELECT w2, SUM(pair_cnt) AS w2_cnt FROM pc GROUP BY w2),
    n AS (SELECT SUM(pair_cnt) AS n_pairs FROM pc),
    x AS (
      SELECT pc.w1, pc.w2, pair_cnt,
             CAST(w1_cnt AS BIGINT) AS w1_cnt, CAST(w2_cnt AS BIGINT) AS w2_cnt,
             CAST(pair_cnt * n_pairs AS DOUBLE)
               / CAST(w1_cnt * w2_cnt AS DOUBLE) AS ratio
      FROM pc JOIN r USING (w1) JOIN s USING (w2), n
      WHERE pair_cnt >= 5
    )
    SELECT w1, w2, pair_cnt, w1_cnt, w2_cnt, LN(ratio) AS pmi
    FROM x ORDER BY ratio DESC, w1, w2 LIMIT 15
    """,
)
def q_pmi(spark, sf_dir):
    """Pointwise-mutual-information collocations over token bigrams —
    the corpus-statistics signal (beside TF-IDF and the bigram LM) that
    surfaces multiword expressions for tokenizer/vocab decisions.
    pmi = ln(c(x,y)·N / (c(x·)·c(·y))), min pair count 5, top 15. The
    ranking key is the RATIO (one division of exact integer products —
    bit-identical across engines), not the log of it, so ordering can
    never be perturbed by libm; ln() is applied only to the surviving
    15 rows. Same arrays_zip self-shift bigram generation as the LM
    table — two partial→final counts, margins joined back. (At extreme
    corpus sizes c·N would outgrow exact-long range — there the ratio
    is computed as (c/r)·(N/s); at any driver SF the exact form holds.)"""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    t2 = d.select(toks.alias("l")).where(F.size("l") >= 2)
    pairs = t2.select(
        F.explode(
            F.arrays_zip(
                F.slice("l", 1, F.size("l") - 1).alias("w1"),
                F.expr("slice(l, 2, size(l) - 1)").alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # pc feeds FOUR consumers (both margins, the total, the filtered
    # join input); Catalyst does not dedupe common subplans, so without
    # materialization the corpus explode and pair aggregation ran once
    # per consumer (r11: measured four documents scans). The frame is
    # vocab²-bounded — safe to pin; a lazy localCheckpoint keeps the
    # query lazy and the input is exploded ONCE.
    pc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_cnt"))
        .localCheckpoint(eager=False)
    )
    r = pc.groupBy("w1").agg(F.sum("pair_cnt").cast("bigint").alias("w1_cnt"))
    s = pc.groupBy("w2").agg(F.sum("pair_cnt").cast("bigint").alias("w2_cnt"))
    n = pc.agg(F.sum("pair_cnt").alias("n_pairs"))
    ratio = (F.col("pair_cnt") * F.col("n_pairs")).cast("double") / (
        F.col("w1_cnt") * F.col("w2_cnt")
    ).cast("double")
    x = (
        pc.where(F.col("pair_cnt") >= 5)
        .join(r, "w1")
        .join(s, "w2")
        .crossJoin(F.broadcast(n))
        .select("w1", "w2", "pair_cnt", "w1_cnt", "w2_cnt", ratio.alias("ratio"))
    )
    return (
        x.orderBy(F.col("ratio").desc(), "w1", "w2")
        .limit(15)
        .select("w1", "w2", "pair_cnt", "w1_cnt", "w2_cnt", F.log("ratio").alias("pmi"))
    )


_EWMA_K = 8  # truncation depth; weight of the dropped tail is 2^-8 < 0.4%


def _ewma_weight(k: int) -> str:
    # 2^-(k+1) is exact in decimal — 0.5, 0.25, ... 0.00390625
    from decimal import Decimal

    return str(Decimal(1) / (2 ** (k + 1)))


@query(
    "q_ewma",
    oracle=f"""
    WITH v AS (
      SELECT user_id, ts, event_id, CAST(value AS DECIMAL(18,6)) AS vd
      FROM events
    ),
    l AS (
      SELECT user_id, ts, event_id, vd,
             {", ".join(
               f"lag(vd, {k}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l{k}"
               for k in range(1, _EWMA_K)
             )},
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
               AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
      FROM v
    )
    SELECT user_id, n_events,
           CAST(
             (vd * CAST({_ewma_weight(0)} AS DECIMAL(12,9))
              {" ".join(
                f"+ COALESCE(l{k} * CAST({_ewma_weight(k)} AS DECIMAL(12,9)),"
                f" CAST(0 AS DECIMAL(30,15)))"
                for k in range(1, _EWMA_K)
              )}) AS DOUBLE)
           / CAST(
             (CAST({_ewma_weight(0)} AS DECIMAL(12,9))
              {" ".join(
                f"+ CASE WHEN l{k} IS NULL THEN CAST(0 AS DECIMAL(12,9))"
                f" ELSE CAST({_ewma_weight(k)} AS DECIMAL(12,9)) END"
                for k in range(1, _EWMA_K)
              )}) AS DOUBLE) AS ewma
    FROM l WHERE rn = 1 ORDER BY user_id
    """,
)
def q_ewma(spark, sf_dir):
    """Truncated exponentially-weighted moving average (α = 1/2, depth
    8) of each user's event values at their latest event — time-series
    smoothing WITHOUT sequential state: the recurrence is unrolled into
    a fixed lag window, so it is one partitioned window pass instead of
    a per-key sequential fold (the shape that scales; the dropped tail
    carries < 0.4% of the mass). Weights 2^-(k+1) are exact decimals
    and values are cast to decimal(18,6), so the weighted sum is exact
    and order-free; missing lags (short histories) renormalize the
    denominator. One double division at the end."""
    from decimal import Decimal

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vd = F.col("value").cast("decimal(18,6)")
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        vd.alias("vd"),
        *[F.lag(vd, k).over(w).alias(f"l{k}") for k in range(1, _EWMA_K)],
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        )
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .cast("bigint")
        .alias("n_events"),
    )
    zero_num = F.lit(Decimal("0")).cast("decimal(30,15)")
    zero_den = F.lit(Decimal("0")).cast("decimal(12,9)")
    num = F.col("vd") * F.lit(Decimal(_ewma_weight(0))).cast("decimal(12,9)")
    den = F.lit(Decimal(_ewma_weight(0))).cast("decimal(12,9)")
    for k in range(1, _EWMA_K):
        wk = F.lit(Decimal(_ewma_weight(k))).cast("decimal(12,9)")
        num = num + F.coalesce(F.col(f"l{k}") * wk, zero_num)
        den = den + F.when(F.col(f"l{k}").isNull(), zero_den).otherwise(wk)
    return (
        base.where(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            (num.cast("double") / den.cast("double")).alias("ewma"),
        )
    )


@query(
    "q_token_entropy",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                        x -> x <> '')) AS tok
      FROM documents
    ),
    tc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY doc_id, tok),
    agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             SUM(CAST(ROUND(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)), 8)
                      AS DECIMAL(38,12))) AS s
      FROM tc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           LN(CAST(n_tokens AS DOUBLE))
             - CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS entropy
    FROM agg ORDER BY doc_id
    """,
)
def q_token_entropy(spark, sf_dir):
    """Per-document Shannon entropy of the token distribution — the
    gibberish/boilerplate screen beside repetition ratio and quality
    score: near-zero entropy is one token repeated, high entropy is
    natural text. H = ln(n) − Σ c·ln c / n. Each c·ln c term is rounded
    to 8 dp and summed as DECIMAL, so the per-doc accumulation is
    order-free (an unordered double sum over a hash aggregate would be
    run-to-run nondeterministic); the remaining ops are single IEEE
    expressions. Two partial→final hash aggregates keyed on doc_id —
    no shuffle wider than the (doc, token) pairs."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    tc = (
        d.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    term = F.round(F.col("c").cast("double") * F.log(F.col("c").cast("double")), 8)
    agg = tc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(term.cast("decimal(38,12)")).alias("s"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (
            F.log(F.col("n_tokens").cast("double"))
            - F.col("s").cast("double") / F.col("n_tokens").cast("double")
        ).alias("entropy"),
    )


_ZIPF_TOP = 200


@query(
    "q_zipf_fit",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
    top AS (SELECT tok, c FROM tf ORDER BY c DESC, tok LIMIT {_ZIPF_TOP}),
    xy AS (
      SELECT LN(CAST(row_number() OVER (ORDER BY c DESC, tok) AS DOUBLE)) AS x,
             LN(CAST(c AS DOUBLE)) AS y
      FROM top
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(x, 10) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ROUND(y, 10) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ROUND(x * y, 10) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(ROUND(x * x, 10) AS DECIMAL(38,12))) AS DOUBLE) AS sxx
      FROM xy
    )
    SELECT n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx) AS zipf_slope,
           (sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n AS DOUBLE) AS intercept
    FROM m
    """,
)
def q_zipf_fit(spark, sf_dir):
    """Zipf-law exponent of the corpus: OLS slope of ln(freq) on
    ln(rank) over the top-200 tokens (natural text sits near −1;
    strong deviation flags templated or synthetic corpora). Top-k
    fuses to TakeOrderedAndProject before the 200-row rank window, so
    the global window only ever sees the bounded frame; the moment
    sums round each term to 10 dp and accumulate as DECIMAL (the same
    order-free trick as the regression corpus), then the closed form
    is a fixed tree of IEEE ops."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    tf = (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    top = tf.orderBy(F.col("c").desc(), "tok").limit(_ZIPF_TOP)
    xy = top.select(
        F.log(
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), "tok"))
            .cast("double")
        ).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )

    def dmom(e):
        return F.sum(F.round(e, 10).cast("decimal(38,12)")).cast("double")

    m = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dmom(F.col("x")).alias("sx"),
        dmom(F.col("y")).alias("sy"),
        dmom(F.col("x") * F.col("y")).alias("sxy"),
        dmom(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "n",
        slope.alias("zipf_slope"),
        ((F.col("sy") - slope * F.col("sx")) / nd).alias("intercept"),
    )


@query(
    "q_winsorize",
    oracle="""
    WITH th AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           lo, hi,
           CAST(SUM(CAST(ROUND(LEAST(GREATEST(o_totalprice, lo), hi), 6)
                         AS DECIMAL(25,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS win_mean
    FROM orders o JOIN th USING (o_orderpriority)
    GROUP BY o.o_orderpriority, lo, hi
    ORDER BY o.o_orderpriority
    """,
)
def q_winsorize(spark, sf_dir):
    """Winsorized mean per order priority: clip at the exact per-group
    5th/95th percentiles, then average — the robust-statistics
    companion to the median/MAD outlier screen (tail-resistant KPIs).

    Thresholds AND the clipped mean come from ONE ``winsorized_mean``
    call (operators/quantile.py, r19 optimization round): the clipped
    sum's region partials ride the same two bracketed bounded-memory
    passes that produce the exact quantiles, so the r18 shape's THIRD
    full scan (broadcast-join the thresholds back and re-aggregate)
    disappears — 3 orders scans → 2, one join + one exchange fewer
    (guide §6 scan-sharing). Values are unchanged by the operator's
    contract: lo/hi bit-equal to ``F.percentile`` / DuckDB
    ``quantile_cont``, win_mean the same exact order-free decimal sum
    of round(clip(v),6) divided once at the end
    (tests/test_quantile.py pins both against the unfused shape)."""
    from polars_express_spark.operators.quantile import winsorized_mean

    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    return (
        winsorized_mean(
            o, "o_totalprice", 0.05, 0.95, group=["o_orderpriority"]
        )
        .select("o_orderpriority", "n", "lo", "hi", "win_mean")
    )


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_pairs():
    cols = _CORR_COLS
    return [
        (cols[i], cols[j]) for i in range(len(cols)) for j in range(i + 1, len(cols))
    ]


def _corr_sql() -> str:
    from polars_express_spark.queries._util import sql_split4

    aggs, combs = ["CAST(count(*) AS BIGINT) AS n"], ["n"]
    for c in _CORR_COLS:
        a, k = sql_split4(c, f"s_{c}")
        aggs.append(a)
        combs.append(k)
        a, k = sql_split4(f"{c} * {c}", f"ss_{c}")
        aggs.append(a)
        combs.append(k)
    for x, y in _corr_pairs():
        a, k = sql_split4(f"{x} * {y}", f"sp_{x}_{y}")
        aggs.append(a)
        combs.append(k)
    corr = ", ".join(
        f"(nd * sp_{x}_{y} - s_{x} * s_{y})"
        f" / SQRT((nd * ss_{x} - s_{x} * s_{x}) * (nd * ss_{y} - s_{y} * s_{y}))"
        f" AS corr_{x}_{y}"
        for x, y in _corr_pairs()
    )
    return f"""
    WITH m AS (SELECT {", ".join(aggs)} FROM lineitem),
    r AS (SELECT {", ".join(combs)} FROM m)
    SELECT n, {corr} FROM (SELECT *, CAST(n AS DOUBLE) AS nd FROM r)
    """


@query("q_corr_matrix", oracle=_corr_sql())
def q_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix over four lineitem measures
    in ONE scan and ONE partial→final aggregate (the profiling rollup a
    feature-engineering pass runs before model training — 4 columns →
    6 pairs, still a single aggregate). Built-in corr() accumulates
    floats in partition order and is run-to-run nondeterministic
    distributed; a decimal-sum version is exact but ~20× slower than a
    long sum. Here every moment rides the split-long exact accumulator
    (_util.split4_aggs): the exact 4-dp product becomes a scaled long,
    its three 20-bit words are summed as plain longs (associative ⇒
    order-free; ANSI raises loudly on overflow far beyond 100 TB row
    counts), and one per-group reconstruction recovers the exact sum —
    decimal exactness at long-sum speed. The closed form is then a
    fixed IEEE tree, bit-identical to the replay."""
    from polars_express_spark.queries._util import combine4, scaled4, split4_aggs

    li = load_table(spark, sf_dir, "lineitem").select(*_CORR_COLS)
    moments = []
    for c in _CORR_COLS:
        moments.append((f"s_{c}", scaled4(F.col(c))))
        moments.append((f"ss_{c}", scaled4(F.col(c) * F.col(c))))
    for x, y in _corr_pairs():
        moments.append((f"sp_{x}_{y}", scaled4(F.col(x) * F.col(y))))
    pre = li.select(*[v.alias(f"__v_{n}") for n, v in moments])
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    combs = [F.col("n")]
    for n, _ in moments:
        aggs += split4_aggs(F.col(f"__v_{n}"), n, scaled=True)
        combs.append(combine4(n))
    r = pre.agg(*aggs).select(*combs)
    nd = F.col("n").cast("double")
    out = [F.col("n")]
    for x, y in _corr_pairs():
        num = nd * F.col(f"sp_{x}_{y}") - F.col(f"s_{x}") * F.col(f"s_{y}")
        den = F.sqrt(
            (nd * F.col(f"ss_{x}") - F.col(f"s_{x}") * F.col(f"s_{x}"))
            * (nd * F.col(f"ss_{y}") - F.col(f"s_{y}") * F.col(f"s_{y}"))
        )
        out.append((num / den).alias(f"corr_{x}_{y}"))
    return r.select(*out)
