"""Scale corpus: runtime-filter join pruning, count-min sketch,
time-series gap fill, Z-order layout — round-6 additions to the
100 TB-shaped operator surface (SURVEY.md §2 extensions; the temporal
shapes mirror the linked polars upsample/group_by_dynamic surface of
the reference, Cargo.toml:8).

Determinism notes per query live on the query; the corpus-wide rules
(total orders before limits, decimal-exact float sums, identical
aliases both engines) are registry.py's.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.queries._util import dsum, sql_dsum
from polars_express_spark.queries.registry import query

_GAP_STEP_S = 21600  # 6-hour slots over the 30-day events table
_GAP_STEP_US = _GAP_STEP_S * 1_000_000
_Z_SHIFT = 12  # z-cells per layout bucket = 2^12
_CMS_D, _CMS_W = 4, 2048
_CMS_TOPK = 20


@query(
    "q_bloom_prune",
    oracle=f"""
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           {sql_dsum("l.l_extendedprice", "sum_price")},
           {sql_dsum("o.o_totalprice", "sum_order_total")}
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
)
def q_bloom_prune(spark, sf_dir):
    """Fact⋈dim join behind a Bloom runtime filter (§2.3 scale family):
    urgent orders build a kilobyte bitmap that drops non-matching
    lineitem rows AT THE SCAN, before the join shuffle — the row-level
    runtime filter production Spark injects only for large shuffle
    joins, here explicit. No false negatives + exact join after, so the
    result is IDENTICAL to the plain join and the oracle is the plain
    join — a full value hash, not an invariant."""
    from polars_express_spark.operators.bloom import bloom_pruned_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_totalprice")
    )
    j = bloom_pruned_join(li, orders, "l_orderkey", "o_orderkey")
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum("l_extendedprice", "sum_price"),
            dsum("o_totalprice", "sum_order_total"),
        )
    )


@query(
    "q_cms_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT t.token AS t FROM documents,
             unnest(string_split_regex(text, '\\s+')) t(token)
      WHERE t.token <> ''
    ),
    cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    top AS (
      SELECT t, c, row_number() OVER (ORDER BY c DESC, t ASC) AS rn FROM cnt
    )
    SELECT t AS token, CAST(c AS BIGINT) AS exact_count,
           TRUE AS no_underestimate
    FROM top WHERE rn <= {_CMS_TOPK} ORDER BY token
    """,
)
def q_cms_tokens(spark, sf_dir):
    """Count-min sketch point queries (§2.4 sketch family): fold the
    token stream into a fixed d×w counter table (one partial→final
    aggregate — ≤ d·w rows however large the corpus), then estimate the
    exact top-{_CMS_TOPK} tokens' frequencies from it. The CM guarantee
    estimate ≥ truth holds ALWAYS (collisions only over-count), so it
    is hash-checked here; the ε-upper bound is probabilistic and lives
    in tests/test_scale_ops.py at fixed SF. exact_count values are
    oracle-recomputed, so the emitted row is mostly exact data, not
    just a boolean."""
    from polars_express_spark.operators.cms import cms_estimate, cms_update

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", r"\s+")).alias("t")).where(
        F.col("t") != ""
    )
    sketch = cms_update(tok, "t", depth=_CMS_D, width=_CMS_W)
    top = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("t").asc())
        .limit(_CMS_TOPK)
    )
    est = cms_estimate(sketch, top, "t", depth=_CMS_D, width=_CMS_W)
    return est.select(
        F.col("t").alias("token"),
        F.col("c").cast("bigint").alias("exact_count"),
        (F.col("est") >= F.col("c")).alias("no_underestimate"),
    )


@query(
    "q_gapfill",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id, value,
             CAST(floor(epoch_us(ts) / {float(_GAP_STEP_US)}) AS BIGINT) AS b
      FROM events
    ),
    picks AS (
      SELECT user_id, b, value FROM (
        SELECT user_id, b, value,
               row_number() OVER (PARTITION BY user_id, b
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM e
      ) WHERE rn = 1
    ),
    bounds AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM e GROUP BY user_id),
    grid AS (
      SELECT user_id, s.b FROM bounds, unnest(generate_series(lo, hi)) s(b)
    )
    SELECT g.user_id AS user_id,
           make_timestamp(g.b * {_GAP_STEP_US}) AS slot_ts,
           last_value(p.value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
    FROM grid g LEFT JOIN picks p ON p.user_id = g.user_id AND p.b = g.b
    ORDER BY user_id, slot_ts
    """,
)
def q_gapfill(spark, sf_dir):
    """Regular-grid resample + forward fill (§2.5 temporal family, the
    polars upsample shape): per user, 6-hour slots spanning that user's
    [first, last] event, each slot taking its LAST event's value
    (ties broken on event_id) and empty slots carrying the previous
    slot forward. Values pass through unaggregated — exact doubles on
    both engines — and every stage partitions on user_id."""
    from polars_express_spark.operators.resample import resample_ffill

    e = load_table(spark, sf_dir, "events")
    out = resample_ffill(
        e, key="user_id", ts="ts", value="value",
        step_seconds=_GAP_STEP_S, tie_col="event_id",
    )
    return out


def _sql_zkey() -> str:
    from polars_express_spark.operators.zorder import sql_morton2

    return sql_morton2("l_partkey", "l_suppkey")


@query(
    "q_zorder",
    oracle=f"""
    WITH z AS (
      SELECT l_partkey, l_suppkey,
             ({_sql_zkey()} >> {_Z_SHIFT}) AS bucket
      FROM lineitem
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS cnt,
           CAST(min(l_partkey) AS BIGINT) AS min_part,
           CAST(max(l_partkey) AS BIGINT) AS max_part,
           CAST(min(l_suppkey) AS BIGINT) AS min_supp,
           CAST(max(l_suppkey) AS BIGINT) AS max_supp
    FROM z GROUP BY bucket ORDER BY bucket LIMIT 40
    """,
)
def q_zorder(spark, sf_dir):
    """Z-order layout buckets (§2.1 lake family): Morton-interleave
    (l_partkey, l_suppkey), group rows into z-curve segments of 2^{_Z_SHIFT}
    cells, and emit each segment's (partkey, suppkey) min/max envelope —
    exactly the footer stats a z-ordered file would carry, and visibly
    RECTANGULAR (both spans small), which is what makes two-column
    min/max skipping work. Pure integer bit arithmetic, bit-identical
    in the SQL replay; bucket is unique per group so ORDER BY + LIMIT
    is total. The write-side pass itself (repartitionByRange on the
    Morton key) is zorder_layout(), span-tested in tests/test_scale_ops."""
    from polars_express_spark.operators.zorder import morton2

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bucket = F.shiftright(morton2("l_partkey", "l_suppkey"), _Z_SHIFT).alias("bucket")
    return (
        li.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.min("l_partkey").cast("bigint").alias("min_part"),
            F.max("l_partkey").cast("bigint").alias("max_part"),
            F.min("l_suppkey").cast("bigint").alias("min_supp"),
            F.max("l_suppkey").cast("bigint").alias("max_supp"),
        )
        .orderBy("bucket")
        .limit(40)
    )


@query(
    "q_merge_on_read",
    oracle="""
    WITH log AS (
      SELECT c_custkey AS k, 1 AS seq, c_acctbal + 100 AS v, 'upsert' AS op
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 1, 500.0, 'upsert'
      FROM customer WHERE c_custkey % 97 = 0
      UNION ALL
      SELECT c_custkey, 2, NULL, 'delete'
      FROM customer WHERE c_custkey % 13 = 0
    ),
    all_rows AS (
      SELECT c_custkey AS k, CAST(NULL AS BIGINT) AS seq, c_acctbal AS v,
             'upsert' AS op
      FROM customer
      UNION ALL SELECT * FROM log
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY k ORDER BY seq DESC NULLS LAST) AS rn
      FROM all_rows
    )
    SELECT k AS c_custkey, v AS acctbal
    FROM ranked WHERE rn = 1 AND op <> 'delete' ORDER BY c_custkey
    """,
)
def q_merge_on_read(spark, sf_dir):
    """Merge-on-read CDC view (§2.1 lake family, the READ-side twin of
    q_scd2_merge's write-side upsert): the current snapshot of customer
    plus two unapplied change batches (seq-1 upserts + inserts, seq-2
    deletes) resolved at read time — union + ONE per-key latest-wins
    window, no base rewrite, the Iceberg/Delta MOR shape. Values pass
    through unaggregated, exact hash."""
    from polars_express_spark.operators.scd2 import merge_on_read

    c = load_table(spark, sf_dir, "customer")
    base = c.select(F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("v"))
    log = (
        c.where(F.col("c_custkey") % 7 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.lit(1).alias("seq"),
            (F.col("c_acctbal") + 100).alias("v"),
            F.lit("upsert").alias("op"),
        )
        .unionByName(
            c.where(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 1000000).alias("k"),
                F.lit(1).alias("seq"),
                F.lit(500.0).alias("v"),
                F.lit("upsert").alias("op"),
            )
        )
        .unionByName(
            c.where(F.col("c_custkey") % 13 == 0).select(
                F.col("c_custkey").alias("k"),
                F.lit(2).alias("seq"),
                F.lit(None).cast("double").alias("v"),
                F.lit("delete").alias("op"),
            )
        )
    )
    return (
        merge_on_read(base, log, key="k", seq="seq", val="v")
        .select(F.col("k").alias("c_custkey"), F.col("v").alias("acctbal"))
    )


@query(
    "q_interval_overlap",
    oracle=f"""
    WITH iv AS (
      SELECT d AS iv_id,
             TIMESTAMP '2024-01-01' + d * INTERVAL '1 day' + INTERVAL '6 hours' AS w_start,
             TIMESTAMP '2024-01-01' + d * INTERVAL '1 day' + INTERVAL '18 hours' AS w_end
      FROM generate_series(0, 29) s(d)
    ),
    spans AS (
      SELECT user_id, min(ts) AS u_start,
             max(ts) + INTERVAL 1 MICROSECOND AS u_end
      FROM events GROUP BY user_id
    )
    SELECT iv.iv_id, CAST(count(*) AS BIGINT) AS n_users
    FROM iv JOIN spans s ON s.u_start < iv.w_end AND iv.w_start < s.u_end
    GROUP BY iv.iv_id ORDER BY iv.iv_id
    """,
)
def q_interval_overlap(spark, sf_dir):
    """Interval×interval overlap join (§2.3 non-equi family, the second
    range shape beside point-in-interval): per-user activity spans
    against the 30 daytime maintenance windows. Bucketed equi-join with
    each overlapping pair emitted in exactly ONE canonical bucket (the
    overlap's left edge) — no dedup shuffle, no nested loop
    (operators/range_join.py:bucketed_interval_join)."""
    from polars_express_spark.operators.range_join import bucketed_interval_join
    from polars_express_spark.queries.advanced import daytime_intervals

    e = load_table(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(
        F.min("ts").alias("u_start"),
        F.timestamp_micros(F.unix_micros(F.max("ts")) + 1).alias("u_end"),
    )
    iv = daytime_intervals(spark)
    j = bucketed_interval_join(
        spans, iv, "u_start", "u_end", "w_start", "w_end", bucket_seconds=43200
    )
    return (
        j.groupBy("iv_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


@query(
    "q_snapshot_diff",
    oracle="""
    WITH newsnap AS (
      SELECT c_custkey AS k,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
                  ELSE c_acctbal END AS v
      FROM customer WHERE c_custkey % 13 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, 500.0
      FROM customer WHERE c_custkey % 97 = 0
    ),
    oldsnap AS (SELECT c_custkey AS k, c_acctbal AS v FROM customer),
    j AS (
      SELECT o.k AS ok, n.k AS nk, o.v AS old_val, n.v AS new_val
      FROM oldsnap o FULL JOIN newsnap n ON o.k = n.k
    )
    SELECT COALESCE(ok, nk) AS c_custkey,
           CASE WHEN ok IS NULL THEN 'insert'
                WHEN nk IS NULL THEN 'delete'
                WHEN old_val IS DISTINCT FROM new_val THEN 'update'
           END AS change,
           old_val, new_val
    FROM j
    WHERE ok IS NULL OR nk IS NULL OR old_val IS DISTINCT FROM new_val
    ORDER BY c_custkey
    """,
)
def q_snapshot_diff(spark, sf_dir):
    """Change-data-feed derivation (§2.1 lake family, third leg of the
    CDC triptych): diff the customer snapshot against a modified twin
    (every 7th balance bumped, every 13th row deleted, net-new keys
    inserted) into the exact (insert/update/delete) batch that
    transforms one into the other — output scales with change volume,
    not table size. One full outer key join; exact value passthrough."""
    from polars_express_spark.operators.scd2 import snapshot_diff

    c = load_table(spark, sf_dir, "customer")
    old = c.select(F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("v"))
    new = (
        c.where(F.col("c_custkey") % 13 != 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100)
            .otherwise(F.col("c_acctbal"))
            .alias("v"),
        )
        .unionByName(
            c.where(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 1000000).alias("k"),
                F.lit(500.0).alias("v"),
            )
        )
    )
    return (
        snapshot_diff(old, new, key="k", val="v")
        .select(F.col("k").alias("c_custkey"), "change", "old_val", "new_val")
    )


_PROFILE_COLS = (
    ("c_custkey", "num"),
    ("c_nationkey", "num"),
    ("c_acctbal", "num"),
    ("c_name", "str"),
    ("c_mktsegment", "str"),
)


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn = f"CAST(min({c}) AS DOUBLE)"
            mx = f"CAST(max({c}) AS DOUBLE)"
            ms = "CAST(NULL AS VARCHAR)"
            xs = "CAST(NULL AS VARCHAR)"
        else:
            mn = "CAST(NULL AS DOUBLE)"
            mx = "CAST(NULL AS DOUBLE)"
            ms = f"min({c})"
            xs = f"max({c})"
        parts.append(
            f"""SELECT '{c}' AS col_name,
            CAST(count(*) FILTER (WHERE {c} IS NULL) AS BIGINT) AS n_nulls,
            CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
            {mn} AS min_num, {mx} AS max_num, {ms} AS min_str, {xs} AS max_str
            FROM customer"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


@query("q_profile", oracle=_profile_oracle())
def q_profile(spark, sf_dir):
    """Column-profile summary (§2.4 profiling family beside
    q_histogram): per-column null count, exact distinct count, and
    min/max envelope for the customer dimension — the table-stats pass
    every catalog/optimizer needs. ONE scan, one aggregate (Spark plans
    the multi-distinct via Expand), then an explode-unpivot to one row
    per column; no per-column rescans. All outputs are exact integers,
    exact doubles (no sums), or strings."""
    c = load_table(spark, sf_dir, "customer")
    aggs = []
    for col, kind in _PROFILE_COLS:
        aggs.append(F.sum(F.col(col).isNull().cast("bigint")).alias(f"{col}__nn"))
        aggs.append(F.countDistinct(col).alias(f"{col}__nd"))
        aggs.append(F.min(col).alias(f"{col}__mn"))
        aggs.append(F.max(col).alias(f"{col}__mx"))
    prof = c.agg(*aggs)
    rows = []
    for col, kind in _PROFILE_COLS:
        is_num = kind == "num"
        rows.append(
            F.struct(
                F.lit(col).alias("col_name"),
                F.col(f"{col}__nn").alias("n_nulls"),
                F.col(f"{col}__nd").cast("bigint").alias("n_distinct"),
                (
                    F.col(f"{col}__mn").cast("double")
                    if is_num
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.col(f"{col}__mx").cast("double")
                    if is_num
                    else F.lit(None).cast("double")
                ).alias("max_num"),
                (
                    F.col(f"{col}__mn")
                    if not is_num
                    else F.lit(None).cast("string")
                ).alias("min_str"),
                (
                    F.col(f"{col}__mx")
                    if not is_num
                    else F.lit(None).cast("string")
                ).alias("max_str"),
            )
        )
    return (
        prof.select(F.explode(F.array(*rows)).alias("m"))
        .select("m.*")
    )


@query(
    "q_group_sample",
    oracle="""
    SELECT lang,
           CAST(LEAST(5, count(*)) AS BIGINT) AS n_sampled,
           CAST(count(*) AS BIGINT) AS n_total
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q_group_sample(spark, sf_dir):
    """Exactly-k-per-stratum sampling (§2.10 curation family beside the
    fraction-based stratified sampler): keep the 5 smallest-hash docs
    per language. Membership is hash-derived (not SQL-replayable), but
    the CARDINALITY is exact — n_sampled ≡ LEAST(k, n_lang) — so unlike
    the binomial-bound samplers this one gets a fully exact oracle.
    One hash-ordered window per stratum, the distributed reservoir
    shape."""
    from polars_express_spark.operators.sampling import exact_k_sample

    d = load_table(spark, sf_dir, "documents")
    kept = (
        exact_k_sample(d, "lang", k=5, key_cols=["doc_id"])
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sampled"))
        .withColumnRenamed("lang", "__k_lang")
    )
    totals = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    # eqNullSafe so a NULL-lang stratum still matches its kept count
    # (same NULL-stratum contract as the fraction-based samplers)
    return (
        totals.join(kept, F.col("lang").eqNullSafe(F.col("__k_lang")), "left")
        .select("lang", F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"), "n_total")
    )


@query(
    "q_incr_agg",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           {sql_dsum("l_quantity", "sum_qty")},
           {sql_dsum("l_extendedprice", "sum_price")}
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_incr_agg(spark, sf_dir):
    """Incremental materialized-view refresh (§2.4 warehouse family):
    the stored per-returnflag aggregate state (built from shipments
    before 1996) folded with one new batch (1996 onward) via the delta
    rule — one batch-sized aggregate + one key-partitioned merge, no
    base recompute. Counts and decimal-exact sums are associative, so
    the maintained state equals the full recompute EXACTLY — which is
    the oracle: a plain recompute over all of lineitem.

    The sums stay DECIMAL through the merge and cast to double ONCE at
    the end: casting each half first and adding doubles diverges from
    the recompute in the last ulp (double(S1)+double(S2) ≠
    double(S1+S2)) — invisible at sf0.01, caught by the sf0.1 oracle
    sweep."""
    from polars_express_spark.operators.incremental import merge_agg_states
    from polars_express_spark.queries._util import DEC_SUM

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_shipdate"
    )
    cutoff = F.lit("1996-01-01").cast("timestamp")

    def agg(df):
        return df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("l_quantity").cast(DEC_SUM)).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC_SUM)).alias("sum_price"),
        )

    state = agg(li.where(F.col("l_shipdate") < cutoff))
    delta = agg(li.where(F.col("l_shipdate") >= cutoff))
    merged = merge_agg_states(
        state, delta, keys=["l_returnflag"], agg_cols=["n_rows", "sum_qty", "sum_price"]
    )
    return merged.select(
        "l_returnflag",
        "n_rows",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_price").cast("double").alias("sum_price"),
    )


@query(
    "q_hll_union",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS est_ok, TRUE AS union_ok
    FROM events GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_hll_union(spark, sf_dir):
    """Mergeable HLL sketches (§2.4 sketch family — the datasketches
    twin of approx_count_distinct): one HLL per event_type, then the
    corpus-wide distinct-user estimate from UNIONING the per-type
    sketches — the partitioned-rollup pattern that lets a 100 TB
    pipeline keep per-partition sketches and answer any grouping by
    merge, never re-scanning. Registered row: exact per-type distincts
    (oracle-recomputed) + est_ok (per-type estimate within 5% of exact,
    lgK=12 ⇒ σ≈1.6%) + union_ok (the merged estimate is within 5% of
    the exact GLOBAL distinct — a wrong merge or double-count breaks
    it)."""
    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    # sk feeds the union aggregate AND the final per-type projection;
    # Catalyst does not dedupe common subplans, so without pinning the
    # sketch-building scan ran twice (r11 single-derivation audit).
    # n_types rows × kilobyte sketches — safe to pin lazily. The exact
    # GLOBAL distinct below keeps its own scan: users overlap types, so
    # it cannot derive from the per-type frame, and it is the exact
    # side the union invariant is compared against.
    sk = (
        e.groupBy("event_type")
        .agg(
            F.hll_sketch_agg("user_id").alias("hll"),
            F.countDistinct("user_id").cast("bigint").alias("exact_users"),
        )
        .localCheckpoint(eager=False)
    )
    merged = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("g_est")
    )
    g_exact = e.agg(F.countDistinct("user_id").cast("double").alias("g_exact"))
    est_ok = (
        F.abs(F.hll_sketch_estimate("hll") - F.col("exact_users"))
        <= F.lit(0.05) * F.col("exact_users") + F.lit(2)
    )
    union_ok = F.abs(F.col("g_est") - F.col("g_exact")) <= F.lit(0.05) * F.col(
        "g_exact"
    ) + F.lit(2)
    return (
        sk.crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(g_exact))
        .select(
            "event_type",
            "exact_users",
            est_ok.alias("est_ok"),
            union_ok.alias("union_ok"),
        )
    )


@query(
    "q_radius_join",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT user_id,
             (CAST(user_id AS BIGINT) * 48271) % 10000 AS x,
             (CAST(user_id AS BIGINT) * 69621) % 10000 AS y
      FROM events
    )
    SELECT a.user_id AS a_user, b.user_id AS b_user,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
    FROM pts a JOIN pts b
      ON a.user_id < b.user_id
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 400 * 400
    ORDER BY a_user, b_user
    """,
)
def q_radius_join(spark, sf_dir):
    """Planar radius self-join (§2.3 spatial family): all user pairs
    whose derived grid positions (a pure integer function of user_id,
    replayable in SQL — no hash) lie within 400 units. Runs through
    grid_radius_join — cell equi-join with a 3×3 neighbor explode on
    one side, never a cartesian (plan-guarded); squared distances are
    exact int64 arithmetic, so the emitted pairs hash bit-exactly
    against the O(n²) predicate replay."""
    from polars_express_spark.operators.geo import grid_radius_join

    e = load_table(spark, sf_dir, "events")
    pts = e.select("user_id").distinct().select(
        "user_id",
        ((F.col("user_id").cast("bigint") * 48271) % 10000).alias("x"),
        ((F.col("user_id").cast("bigint") * 69621) % 10000).alias("y"),
    )
    a = pts.select(
        F.col("user_id").alias("a_user"), F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    b = pts.select(
        F.col("user_id").alias("b_user"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    j = grid_radius_join(a, b, "ax", "ay", "bx", "by", radius=400)
    return (
        j.where(F.col("a_user") < F.col("b_user"))
        .select("a_user", "b_user", "dist2")
    )


@query(
    "q_weighted_median",
    oracle="""
    WITH d AS (
      SELECT l_returnflag, l_extendedprice AS v, l_quantity AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND l_quantity > 0
    ),
    c AS (
      SELECT l_returnflag, v,
             SUM(CAST(floor(w * 10000.0 + 0.5) AS BIGINT)) OVER (
               PARTITION BY l_returnflag ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(CAST(floor(w * 10000.0 + 0.5) AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS tot
      FROM d
    )
    SELECT l_returnflag, min(v) AS wq_value,
           CAST(max(tot) AS DOUBLE) / 10000.0 AS total_weight
    FROM c WHERE cum * 2 >= tot * 1
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_weighted_median(spark, sf_dir):
    """Weighted median (§2.4 — the order statistic Spark's percentile
    can't express): the median order line BY QUANTITY MASS per
    returnflag, i.e. the price below which half the shipped units sit —
    how a curation pipeline asks "the median document by token mass".
    Decimal-exact cumulative weights make the crossing row exact; the
    answer is an actual data value, no interpolation
    (operators/weighted.py)."""
    from polars_express_spark.operators.weighted import weighted_quantile

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_quantile(
        li, group="l_returnflag", value="l_extendedprice", weight="l_quantity"
    )


@query(
    "q_skyline",
    oracle="""
    WITH pts AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS x,
             CAST(epoch_us(o_orderdate) AS DOUBLE) AS y,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1, 2
    )
    SELECT x, y, n_rows FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y)
    )
    ORDER BY x
    """,
)
def q_skyline(spark, sf_dir):
    """Skyline / Pareto frontier (§2.6, the multi-criteria twin of
    top-k): orders not dominated on (totalprice, recency) — no other
    order is at least as expensive AND at least as recent with one
    strictly better. Distributed local-then-global scan
    (operators/skyline.py — skyline is a reduction, so per-partition
    frontiers union into one bounded global pass); the oracle is the
    O(n²) NOT EXISTS definition over distinct points. Coordinates are
    exact doubles from exact integers, counts exact."""
    from polars_express_spark.operators.skyline import skyline2d

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("price"),
        # o_orderdate is TIMESTAMP_NTZ; the UTC session makes the cast
        # agree exactly with DuckDB's naive epoch_us
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("recency"),
    )
    return skyline2d(o, "price", "recency")
