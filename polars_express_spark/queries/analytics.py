"""Product-analytics corpus: ordered funnel conversion and cohort
retention over the events stream table (SURVEY.md §2.4/§2.5 extensions
— the classic event-analytics shapes every OLAP engine is asked for).

Both are exact-integer queries (counts of users and exact-int ratios),
so the cross-engine hash has no FP surface at all.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.queries._memo import FRAMES
from polars_express_spark.queries.registry import query

_FUNNEL = ("view", "click", "purchase")


@query(
    "q_funnel",
    oracle=f"""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = '{_FUNNEL[0]}' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN t1 USING (user_id)
      WHERE e.event_type = '{_FUNNEL[1]}' AND e.ts > t1.t1 GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN t2 USING (user_id)
      WHERE e.event_type = '{_FUNNEL[2]}' AND e.ts > t2.t2 GROUP BY e.user_id
    )
    SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n_users,
           (SELECT CAST(count(*) AS BIGINT) FROM t1) AS n_stage1,
           (SELECT CAST(count(*) AS BIGINT) FROM t2) AS n_stage2,
           (SELECT CAST(count(*) AS BIGINT) FROM t3) AS n_stage3,
           (SELECT CAST(count(*) AS DOUBLE) FROM t3)
             / (SELECT count(*) FROM t1) AS conv_full
    """,
)
def q_funnel(spark, sf_dir):
    """Strictly-ordered funnel conversion (view → click → purchase):
    a user advances to stage k+1 only with an event STRICTLY AFTER
    their stage-k time — the product-analytics query (Amplitude/GA
    shape) that plain per-type counts get wrong. Three conditional
    min-aggregates chained by user_id equi-joins; every stage
    partitions on user_id, so at 100 TB the three shuffles co-locate
    and AQE collapses the later (shrinking) stages. All outputs are
    exact integers + one exact int ratio."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    t1 = (
        ev.where(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.where(F.col("event_type") == _FUNNEL[1])
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.where(F.col("event_type") == _FUNNEL[2])
        .join(t2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n_users = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    c1 = t1.agg(F.count(F.lit(1)).cast("bigint").alias("n_stage1"))
    c2 = t2.agg(F.count(F.lit(1)).cast("bigint").alias("n_stage2"))
    c3 = t3.agg(F.count(F.lit(1)).cast("bigint").alias("n_stage3"))
    return (
        n_users.crossJoin(c1)
        .crossJoin(c2)
        .crossJoin(c3)
        .select(
            "n_users",
            "n_stage1",
            "n_stage2",
            "n_stage3",
            (F.col("n_stage3").cast("double") / F.col("n_stage1")).alias("conv_full"),
        )
    )


@query(
    "q_retention",
    oracle="""
    WITH cohort AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS c_week
      FROM events GROUP BY user_id
    )
    SELECT c.c_week AS cohort_week,
           CAST(datediff('day', c.c_week, CAST(date_trunc('week', e.ts) AS TIMESTAMP)) // 7 AS BIGINT)
             AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e JOIN cohort c USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by their first-seen week
    (ISO Monday truncation, identical in both engines), counted
    distinct in each subsequent activity week — the (cohort, offset)
    triangle every retention dashboard draws. One groupBy(user) for
    cohorts, one user-key join back, one partial→final distinct count;
    offsets are exact day-diffs of week-truncated timestamps divided
    by 7 (always integral)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("c_week")
    )
    return (
        ev.join(cohort, "user_id")
        .select(
            F.col("c_week").alias("cohort_week"),
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("c_week"))
                / F.lit(7)
            )
            .cast("bigint")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
    )


@query(
    "q_text_search",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, t.token AS t FROM documents,
             unnest(string_split_regex(text, '\\s+')) t(token)
      WHERE t.token <> ''
    ),
    dfq AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    chosen AS (
      SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY c DESC, t ASC) AS rn FROM dfq
      ) WHERE rn IN (2, 3)
    )
    SELECT doc_id FROM tok
    WHERE t IN (SELECT t FROM chosen)
    GROUP BY doc_id HAVING count(DISTINCT t) = 2
    ORDER BY doc_id
    """,
)
def q_text_search(spark, sf_dir):
    """Boolean AND retrieval over an inverted-index token frame (§2.10
    text family): find every document containing BOTH query terms —
    here the corpus's 2nd and 3rd most-common tokens, derived from the
    data so the query is self-contained and deterministic. The
    distinct (doc, token) frame IS the inverted index (token-keyed,
    memoizable/bucketable at 100 TB); retrieval is a 2-row broadcast
    semi-join + per-doc distinct-term count — posting-list intersection
    in its join form, which scales where driver-side array intersection
    of hot-term postings would not."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", r"\s+")).alias("t"))
        .where(F.col("t") != "")
        .distinct()
    )
    dfq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window as W

    chosen = (
        dfq.withColumn(
            "rn", F.row_number().over(W.orderBy(F.col("c").desc(), F.col("t").asc()))
        )
        .where(F.col("rn").isin(2, 3))
        .select("t")
    )
    return (
        tok.join(F.broadcast(chosen), "t")
        .groupBy("doc_id")
        .agg(F.countDistinct("t").alias("__hits"))
        .where(F.col("__hits") == 2)
        .select("doc_id")
    )


@query(
    "q_fk_audit",
    oracle="""
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_lineitem,
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        AS orphan_order_fk,
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        AS orphan_part_fk,
      (SELECT CAST(count(*) AS BIGINT) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        AS orphan_cust_fk
    """,
)
def q_fk_audit(spark, sf_dir):
    """Referential-integrity audit (§2.1 lake governance): orphan
    foreign-key counts across the star schema via left-anti joins —
    the data-quality gate a lakehouse runs after every ingest batch.
    Anti joins broadcast the (smaller) key side; counts are exact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    cust = load_table(spark, sf_dir, "customer")
    n = li.agg(F.count(F.lit(1)).cast("bigint").alias("n_lineitem"))
    a1 = (
        li.join(orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("orphan_order_fk"))
    )
    a2 = (
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("orphan_part_fk"))
    )
    a3 = (
        orders.join(cust.select("c_custkey"), orders.o_custkey == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("orphan_cust_fk"))
    )
    return n.crossJoin(a1).crossJoin(a2).crossJoin(a3)


@query(
    "q_bpe_pairs",
    oracle="""
    WITH tok AS (
      SELECT t.token AS w FROM documents,
             unnest(string_split_regex(text, '\\s+')) t(token)
      WHERE len(t.token) >= 2
    ),
    pairs AS (
      SELECT substr(w, s.i, 2) AS pair FROM tok,
             unnest(generate_series(1, len(w) - 1)) s(i)
    ),
    cnt AS (SELECT pair, count(*) AS c FROM pairs GROUP BY pair)
    SELECT pair, CAST(c AS BIGINT) AS cnt FROM (
      SELECT pair, c, row_number() OVER (ORDER BY c DESC, pair ASC) AS rn
      FROM cnt
    ) WHERE rn <= 10 ORDER BY pair
    """,
)
def q_bpe_pairs(spark, sf_dir):
    """First BPE merge-step statistics (§2.10 tokenizer-training
    primitive): count every adjacent character pair inside every
    corpus token and rank the top 10 — exactly the argmax the byte-pair
    encoding trainer takes per merge round, here as one
    sequence+transform row generation (JVM-side, no Python) and one
    partial→final count. At 100 TB this per-round aggregate IS the
    BPE training loop's cost model; pair/count outputs are
    integer-exact."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", r"\s+")).alias("w")).where(
        F.length("w") >= 2
    )
    pair = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        )
    )
    pairs = tok.select(pair.alias("pair"))
    cnt = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window as W

    top = (
        cnt.withColumn(
            "rn", F.row_number().over(W.orderBy(F.col("c").desc(), F.col("pair").asc()))
        )
        .where(F.col("rn") <= 10)
        .select("pair", F.col("c").cast("bigint").alias("cnt"))
    )
    return top


@query(
    "q_lang_centroid",
    oracle="""
    WITH el AS (
      SELECT d.lang, s.i - 1 AS j, CAST(e.embedding[s.i] AS DOUBLE) AS x
      FROM embeddings e
      JOIN documents d ON d.doc_id = e.vec_id,
      unnest(generate_series(1, 8)) s(i)
    )
    SELECT lang, CAST(j AS INTEGER) AS j,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mean_x
    FROM el GROUP BY lang, j ORDER BY lang, j
    """,
)
def q_lang_centroid(spark, sf_dir):
    """Per-class embedding centroid (§2.10 embedding ops): the mean
    vector per language over the first 8 dimensions — the prototype
    computation behind nearest-class-mean classifiers and per-domain
    drift monitors. One key join (embeddings⋈documents), one
    posexplode, one partial→final aggregate with decimal-exact sums so
    the per-dimension means hash-match the replay to the bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    from polars_express_spark.queries._util import DEC_MOM, dsum

    el = (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .select("lang", F.posexplode(F.col("embedding")).alias("j", "xf"))
        .where(F.col("j") < 8)
        .select("lang", F.col("j").cast("int").alias("j"), F.col("xf").cast("double").alias("x"))
    )
    return (
        el.groupBy("lang", "j")
        .agg(
            (
                F.sum(F.col("x").cast(DEC_MOM)).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_x")
        )
    )


@query(
    "q_bigram_lm",
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
    pc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
    uc AS (SELECT w1, sum(c) AS n FROM pc GROUP BY w1),
    top1 AS (
      SELECT w1, n, row_number() OVER (ORDER BY n DESC, w1 ASC) AS rw FROM uc
    ),
    best AS (
      SELECT pc.w1, pc.w2, pc.c,
             row_number() OVER (PARTITION BY pc.w1 ORDER BY pc.c DESC, pc.w2 ASC) AS rn
      FROM pc
    )
    SELECT t.w1, b.w2 AS next_w, CAST(b.c AS BIGINT) AS pair_cnt,
           CAST(t.n AS BIGINT) AS w1_cnt
    FROM top1 t JOIN best b ON b.w1 = t.w1 AND b.rn = 1
    WHERE t.rw <= 10 ORDER BY t.w1
    """,
)
def q_bigram_lm(spark, sf_dir):
    """Bigram language-model table (§2.10 text family): for the 10 most
    frequent context tokens, the most likely next token with its pair
    and context counts — the conditional-probability argmax an n-gram
    LM trainer computes per context (used for perplexity-style quality
    scoring and fast draft generation). Bigrams come from slicing the
    token array against its own shift (arrays_zip, pure JVM row
    generation); two partial→final counts + one per-context window.
    All-integer outputs."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    t2 = d.select(toks.alias("l")).where(F.size("l") >= 2)
    pairs = t2.select(
        F.explode(
            F.arrays_zip(
                F.slice("l", 1, F.size("l") - 1).alias("w1"),
                F.expr("slice(l, 2, size(l) - 1)").alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    uc = pc.groupBy("w1").agg(F.sum("c").alias("n"))
    from pyspark.sql import Window as W

    top = (
        uc.withColumn("rw", F.row_number().over(W.orderBy(F.col("n").desc(), F.col("w1").asc())))
        .where(F.col("rw") <= 10)
        .select("w1", "n")
    )
    best = (
        pc.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("w1").orderBy(F.col("c").desc(), F.col("w2").asc())
            ),
        )
        .where(F.col("rn") == 1)
        .select("w1", F.col("w2").alias("next_w"), F.col("c").alias("pair_cnt"))
    )
    return (
        top.join(best, "w1")
        .select(
            "w1",
            "next_w",
            F.col("pair_cnt").cast("bigint").alias("pair_cnt"),
            F.col("n").cast("bigint").alias("w1_cnt"),
        )
    )


@query(
    "q_gap_detect",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT user_id,
           CAST(count(*) FILTER (WHERE gap_us > 43200000000) AS BIGINT) AS n_long_gaps,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def q_gap_detect(spark, sf_dir):
    """Heartbeat gap detection (§2.5 temporal family): per user, how
    many inter-event gaps exceeded 12 hours and the longest silence —
    the liveness/outage signal monitoring pipelines compute per device.
    One lag window over (ts, event_id) total order; gaps are exact
    integer microsecond differences, so the whole row is
    integer-exact."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        e.select("user_id", gap.alias("gap_us"))
        .where(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("gap_us") > 43_200_000_000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_long_gaps"),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
        )
    )


@query(
    "q_skew_profile",
    oracle="""
    WITH k AS (
      SELECT 'l_orderkey' AS key_col, l_orderkey AS v FROM lineitem
      UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
      UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
    ),
    cnt AS (SELECT key_col, v, count(*) AS c FROM k GROUP BY key_col, v),
    prof AS (
      SELECT key_col, count(*) AS n_distinct, max(c) AS max_c, sum(c) AS total
      FROM cnt GROUP BY key_col
    )
    SELECT key_col, CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(max_c AS BIGINT) AS hot_key_rows,
           CAST(max_c AS DOUBLE) / total AS hot_key_share
    FROM prof ORDER BY key_col
    """,
)
def q_skew_profile(spark, sf_dir):
    """Join-key skew profile (§2.4 profiling family, the planner-facing
    one): for each candidate join key of lineitem — distinct count, the
    hottest key's row count, and its share of the table. This is the
    statistic that decides between plain shuffle, AQE skew split, and
    salting (operators/salt.py); one unpivot + two partial→final
    aggregates, integer-exact counts and an exact-ratio share."""
    li = load_table(spark, sf_dir, "lineitem")
    k = None
    for c in ["l_orderkey", "l_partkey", "l_suppkey"]:
        part = li.select(F.lit(c).alias("key_col"), F.col(c).alias("v"))
        k = part if k is None else k.unionByName(part)
    cnt = k.groupBy("key_col", "v").agg(F.count(F.lit(1)).alias("c"))
    return (
        cnt.groupBy("key_col")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.max("c").cast("bigint").alias("hot_key_rows"),
            (F.max("c").cast("double") / F.sum("c")).alias("hot_key_share"),
        )
    )


@query(
    "q_funnel_timing",
    oracle=f"""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = '{_FUNNEL[0]}' GROUP BY user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN t1 USING (user_id)
      WHERE e.event_type = '{_FUNNEL[2]}' AND e.ts > t1.t1 GROUP BY e.user_id
    ),
    d AS (
      SELECT epoch_us(t3.t3) - epoch_us(t1.t1) AS dt_us
      FROM t3 JOIN t1 USING (user_id)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           CAST(min(dt_us) AS BIGINT) AS min_us,
           quantile_cont(dt_us, 0.5) AS median_us,
           CAST(max(dt_us) AS BIGINT) AS max_us
    FROM d
    """,
)
def q_funnel_timing(spark, sf_dir):
    """Time-to-convert distribution (§2.4/§2.5, the companion to
    q_funnel's counts): for users whose first purchase follows their
    first view, the min/median/max of that delay — what growth teams
    actually act on. Delays are exact integer microseconds; the median
    is the pinned percentile ≡ quantile_cont pair over those integers,
    so its interpolated halves are engine-identical."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    t1 = (
        ev.where(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t3 = (
        ev.where(F.col("event_type") == _FUNNEL[2])
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    d = t3.join(t1, "user_id").select(
        (F.unix_micros("t3") - F.unix_micros("t1")).alias("dt_us")
    )
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.min("dt_us").cast("bigint").alias("min_us"),
        F.percentile("dt_us", F.lit(0.5)).alias("median_us"),
        F.max("dt_us").cast("bigint").alias("max_us"),
    )


@query(
    "q_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY prev_type, next_type
    """,
)
def q_transitions(spark, sf_dir):
    """Event-type transition counts (§2.5/§2.10 sequence-statistics
    family): the per-user (previous → next) event-type transition
    matrix — the sufficient statistic of a first-order Markov model
    over user behavior (and the bigram-LM shape applied to event
    streams). One lag window over the (ts, event_id) total order, one
    partial→final count; all-integer outputs."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )


@query(
    "q_rfm",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS freq,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
             ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r,
             ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f,
             ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
      FROM per_cust
    )
    SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r, f, m ORDER BY r, f, m
    """,
)
def q_rfm(spark, sf_dir):
    """RFM segmentation (§2.4/§2.5 — THE classic customer-analytics
    rollup): per customer, recency (last order), frequency (order
    count), monetary (decimal-exact spend), each quartiled by ntile
    over a TOTAL order (metric desc, custkey tiebreak — deterministic
    on both engines), then segment sizes. Quartile boundaries are pure
    row arithmetic, spend sums decimal-exact, outputs all-integer."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("monetary"),
    )
    scored = per_cust.select(
        F.ntile(4)
        .over(W.orderBy(F.col("last_order").desc(), F.col("o_custkey")))
        .alias("r"),
        F.ntile(4).over(W.orderBy(F.col("freq").desc(), F.col("o_custkey"))).alias("f"),
        F.ntile(4)
        .over(W.orderBy(F.col("monetary").desc(), F.col("o_custkey")))
        .alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


@query(
    "q_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    grp AS (
      SELECT user_id, d,
             CAST(d AS DATE) - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY d) AS INTEGER) AS anchor
      FROM days
    ),
    streaks AS (
      SELECT user_id, anchor, count(*) AS len FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id ORDER BY user_id
    """,
)
def q_streaks(spark, sf_dir):
    """Gaps-and-islands (§2.5 — longest consecutive-day activity streak
    per user): distinct activity days; day minus its per-user row
    number is CONSTANT within a consecutive run (the classic islands
    anchor), so one window + two aggregates yield every user's longest
    streak and streak count. Pure date/integer arithmetic, identical
    on both engines."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("len").cast("bigint").alias("longest_streak"),
            F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        )
    )


@query(
    "q_attribution",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             last_value(CASE WHEN event_type IN ('view','click','signup')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events
    )
    SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases
    FROM e WHERE event_type = 'purchase'
    GROUP BY channel ORDER BY channel
    """,
)
def q_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase is credited to the user's
    most recent STRICTLY-earlier touchpoint (view/click/signup) — the
    marketing-analytics assignment every event warehouse runs. One
    last_value(IGNORE NULLS) carry over a per-user window with a
    1-PRECEDING frame (the same carry idiom as the as-of join), then a
    partial→final count per channel; purchases with no prior touch
    land in the NULL channel. All-integer outputs, one user-partitioned
    shuffle."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    touch = F.when(
        F.col("event_type").isin("view", "click", "signup"), F.col("event_type")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    e = ev.withColumn("channel", F.last(touch, ignorenulls=True).over(w))
    return (
        e.where(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_purchases"))
    )


_PAA_SEGS = 4


@query(
    "q_paa",
    oracle=f"""
    WITH r AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,6)) AS vd,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT user_id,
           CAST(FLOOR((rn - 1) * {_PAA_SEGS} / n) AS BIGINT) AS seg,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(vd) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS seg_mean
    FROM r
    GROUP BY user_id, CAST(FLOOR((rn - 1) * {_PAA_SEGS} / n) AS BIGINT)
    ORDER BY user_id, seg
    """,
)
def q_paa(spark, sf_dir):
    """Piecewise aggregate approximation (PAA): each user's ordered
    value series downsampled to 4 equal-count segments of means — the
    classic time-series compression/sketch step (and the front half of
    SAX symbolization). Segment id is exact integer arithmetic
    ⌊(rn−1)·S/n⌋ so boundaries are engine-independent; values go
    through decimal casts so segment means are order-free with one
    final division. One per-user window pass + one partial→final
    aggregate."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select(
        "user_id",
        F.col("value").cast("decimal(18,6)").alias("vd"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("n"),
    )
    seg = F.floor((F.col("rn") - 1) * _PAA_SEGS / F.col("n")).cast("bigint")
    return (
        r.groupBy("user_id", seg.alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.sum("vd").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "seg_mean"
            ),
        )
    )


@query(
    "q_interpolate",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             event_type = 'error' AS masked,
             epoch_us(ts) AS tu,
             CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS vd
      FROM events
    ),
    w AS (
      SELECT user_id, event_id, tu, masked,
             last_value(CASE WHEN NOT masked THEN vd END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tu, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             last_value(CASE WHEN NOT masked THEN tu END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tu, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
             first_value(CASE WHEN NOT masked THEN vd END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tu, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN NOT masked THEN tu END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tu, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
      FROM e
    )
    SELECT user_id, event_id, pv AS prev_v, nv AS next_v,
           pv + (nv - pv) * (CAST(tu - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
             AS interp
    FROM w WHERE masked
    ORDER BY user_id, event_id
    """,
)
def q_interpolate(spark, sf_dir):
    """Linear (time-weighted) interpolation of masked readings: 'error'
    events are treated as missing and rebuilt from the nearest valid
    neighbors, weighted by exact integer-µs time fractions — the
    gap-repair companion to the forward-fill resampler (ffill carries
    stale values; interpolation respects the trend). Two IGNORE NULLS
    carries over one per-user window pass; boundary gaps (no neighbor
    on one side) stay NULL. The fraction divides exact integers and
    the values are 6-dp-exact doubles, so the fixed IEEE tree is
    engine-identical."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    e = ev.select(
        "user_id",
        "event_id",
        (F.col("event_type") == "error").alias("masked"),
        F.unix_micros("ts").alias("tu"),
        F.col("value").cast("decimal(18,6)").cast("double").alias("vd"),
    )
    prev = (
        W.partitionBy("user_id")
        .orderBy("tu", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    nxt = (
        W.partitionBy("user_id")
        .orderBy("tu", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    good_v = F.when(~F.col("masked"), F.col("vd"))
    good_t = F.when(~F.col("masked"), F.col("tu"))
    w = e.select(
        "user_id",
        "event_id",
        "tu",
        "masked",
        F.last(good_v, ignorenulls=True).over(prev).alias("pv"),
        F.last(good_t, ignorenulls=True).over(prev).alias("pt"),
        F.first(good_v, ignorenulls=True).over(nxt).alias("nv"),
        F.first(good_t, ignorenulls=True).over(nxt).alias("nt"),
    )
    frac = (F.col("tu") - F.col("pt")).cast("double") / (
        F.col("nt") - F.col("pt")
    ).cast("double")
    return (
        w.where(F.col("masked"))
        .select(
            "user_id",
            "event_id",
            F.col("pv").alias("prev_v"),
            F.col("nv").alias("next_v"),
            (F.col("pv") + (F.col("nv") - F.col("pv")) * frac).alias("interp"),
        )
    )


@query(
    "q_data_contract",
    oracle="""
    WITH stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) - count(o_custkey) AS BIGINT) AS null_cust,
             CAST(count(*) - count(o_totalprice) AS BIGINT) AS null_price,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
             min(o_totalprice) AS min_price,
             max(o_totalprice) AS max_price,
             CAST(count(*) FILTER (
               WHERE o_orderpriority NOT IN
                 ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
             ) AS BIGINT) AS bad_priority
      FROM orders
    )
    SELECT n_rows,
           n_keys = n_rows AS key_unique_ok,
           CAST(null_cust AS DOUBLE) / n_rows <= 0.1 AS cust_null_ok,
           null_price = 0 AS price_required_ok,
           min_price > 0.0 AS price_positive_ok,
           max_price < 1000000.0 AS price_bounded_ok,
           bad_priority = 0 AS priority_domain_ok,
           CAST(null_cust AS BIGINT) AS n_null_cust,
           CAST(bad_priority AS BIGINT) AS n_bad_priority
    FROM stats
    """,
)
def q_data_contract(spark, sf_dir):
    """Data-contract audit (§2.4 governance family, beside the FK audit
    and column profile): the expectations a lake enforces at ingest —
    key uniqueness, required / bounded-null-rate columns, value range,
    and categorical domain membership — evaluated in ONE scan (one
    partial→final aggregate; the distinct-key check is the only expand)
    and emitted as a verdict row of exact counts + booleans. The 100 TB
    shape of every data-quality framework: push ALL expectations into a
    single aggregate rather than one scan per rule."""
    o = load_table(spark, sf_dir, "orders")
    prio_domain = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    cnt = F.count(F.lit(1))
    stats = o.agg(
        cnt.cast("bigint").alias("n_rows"),
        (cnt - F.count("o_custkey")).cast("bigint").alias("null_cust"),
        (cnt - F.count("o_totalprice")).cast("bigint").alias("null_price"),
        F.countDistinct("o_orderkey").cast("bigint").alias("n_keys"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.sum(
            F.when(~F.col("o_orderpriority").isin(prio_domain), 1).otherwise(0)
        ).cast("bigint").alias("bad_priority"),
    )
    return stats.select(
        "n_rows",
        (F.col("n_keys") == F.col("n_rows")).alias("key_unique_ok"),
        (F.col("null_cust").cast("double") / F.col("n_rows") <= 0.1).alias(
            "cust_null_ok"
        ),
        (F.col("null_price") == 0).alias("price_required_ok"),
        (F.col("min_price") > 0.0).alias("price_positive_ok"),
        (F.col("max_price") < 1000000.0).alias("price_bounded_ok"),
        (F.col("bad_priority") == 0).alias("priority_domain_ok"),
        F.col("null_cust").alias("n_null_cust"),
        F.col("bad_priority").alias("n_bad_priority"),
    )


@query(
    "q_control_chart",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    lim AS (
      SELECT CAST(count(*) AS DOUBLE) AS k,
             CAST(SUM(n) AS DOUBLE) AS s1,
             CAST(SUM(n * n) AS DOUBLE) AS s2
      FROM daily
    ),
    z AS (
      SELECT d.day, d.n,
             l.s1 / l.k AS mu,
             sqrt((l.s2 - l.s1 * l.s1 / l.k) / (l.k - 1.0)) AS sigma
      FROM daily d, lim l
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           mu, sigma,
           CAST(count(*) FILTER (WHERE CAST(n AS DOUBLE) > mu + 3.0 * sigma)
                AS BIGINT) AS n_above_ucl,
           CAST(count(*) FILTER (WHERE CAST(n AS DOUBLE) < mu - 3.0 * sigma)
                AS BIGINT) AS n_below_lcl
    FROM z GROUP BY mu, sigma
    """,
)
def q_control_chart(spark, sf_dir):
    """Shewhart control chart over daily order volume (§2.4 monitoring
    family — the SPC view of pipeline health: flag days outside
    μ ± 3σ control limits): daily counts are exact integers, their
    first two moments are exact integer sums (n ≤ ~10⁵/day keeps n²
    sums far inside int64 at any SF), so μ, σ, and every limit
    comparison are the IDENTICAL double expressions on both engines —
    the full verdict row value-hashes. Two partial→final aggregates
    (days, then limits) with the 1-row limit frame joined back — the
    monitoring rollup a 100 TB ingest pipeline runs per partition
    load."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    lim = daily.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").cast("double").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("s2"),
    )
    mu = F.col("s1") / F.col("k")
    sigma = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("k")) / (F.col("k") - F.lit(1.0))
    )
    z = daily.crossJoin(F.broadcast(lim)).select(
        "day", "n", mu.alias("mu"), sigma.alias("sigma")
    )
    nd = F.col("n").cast("double")
    return (
        z.groupBy("mu", "sigma")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(F.when(nd > F.col("mu") + F.lit(3.0) * F.col("sigma"), 1).otherwise(0))
            .cast("bigint").alias("n_above_ucl"),
            F.sum(F.when(nd < F.col("mu") - F.lit(3.0) * F.col("sigma"), 1).otherwise(0))
            .cast("bigint").alias("n_below_lcl"),
        )
        .select("n_days", "mu", "sigma", "n_above_ucl", "n_below_lcl")
    )


@query(
    "q_bm25_rank",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.token AS t FROM documents,
             unnest(string_split_regex(text, '\\s+')) t(token)
      WHERE t.token <> ''
    ),
    tf AS (
      SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, t
    ),
    dl AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
    ),
    dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
    chosen AS (
      SELECT t, df FROM (
        SELECT t, df, row_number() OVER (ORDER BY df DESC, t ASC) AS rn
        FROM dfreq
      ) WHERE rn IN (5, 8)
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) AS sum_dl
      FROM dl
    )
    SELECT tf.doc_id,
           sum(
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * (tf * 2.2)
             / (tf + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs)))
           ) AS bm25
    FROM tf JOIN chosen USING (t) JOIN dl USING (doc_id), stats
    GROUP BY tf.doc_id ORDER BY doc_id
    """,
)
def q_bm25_rank(spark, sf_dir):
    """BM25 ranked retrieval (§2.10 text family) — the standard ranked
    companion to q_text_search's boolean AND: score every document
    holding either of two query terms (the corpus's 5th and 8th
    most-document-frequent tokens, data-derived so the query is
    self-contained) with Okapi BM25 (k1=1.2, b=0.75, Lucene's
    always-positive ln(1 + (N-df+.5)/(df+.5)) idf).

    Spark-first shape: ONE token explode feeds the (doc,term) tf
    aggregate, which is MATERIALIZED once (FRAMES memo — the local
    stand-in for the persisted inverted-index table of the 100 TB
    design) and read by all four consumers (dl, df, stats, postings) —
    without it Catalyst re-derives the corpus explode per consumer;
    the 2-row query-term frame broadcasts into the postings; the 1-row
    (N, sum_dl) stats frame is the accepted scalar cross-attach; the
    per-doc score sum has ≤2 addends (one per query term), so the
    float sum is a single commutative add — partition-order-free
    without a decimal detour. The global df ranking window sorts the
    VOCABULARY frame, not the corpus. Returns all matched docs ordered
    by doc_id (a production top-k would fuse to TakeOrderedAndProject;
    emitting the full posting union keeps the oracle free of
    FP-boundary LIMIT risk)."""

    def build_tf():
        d = load_table(spark, sf_dir, "documents")
        toks = (
            d.select("doc_id", F.explode(F.split("text", r"\s+")).alias("t"))
            .where(F.col("t") != "")
        )
        return toks.groupBy("doc_id", "t").agg(
            F.count(F.lit(1)).cast("bigint").alias("tf")
        )

    tf = FRAMES.get(spark, ("bm25_tf", sf_dir), build_tf)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    chosen = (
        dfreq.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.col("df").desc(), F.col("t").asc())),
        )
        .where(F.col("rn").isin(5, 8))
        .select("t", "df")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * F.col("dl") / (F.col("sum_dl") / F.col("n_docs"))
    )
    return (
        tf.join(F.broadcast(chosen), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * (F.col("tf") * F.lit(2.2)) / norm).alias("bm25"))
    )


@query(
    "q_dup_spans",
    oracle="""
    WITH arrs AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    shl AS (
      SELECT doc_id,
             [array_to_string(arr[i:i+4], ' ') for i in range(1, len(arr) - 3)]
               AS sl
      FROM arrs WHERE len(arr) >= 5
    ),
    sh AS (
      SELECT doc_id, unnest(sl) AS sh,
             CAST(generate_subscripts(sl, 1) AS BIGINT) AS pos
      FROM shl
    ),
    dup AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) >= 2),
    marked AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM sh WHERE sh IN (SELECT sh FROM dup)
    ),
    runs AS (
      SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run_len
      FROM marked GROUP BY doc_id, grp
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(run_len) + 4 AS BIGINT) AS max_span_words,
           CAST(sum(run_len) AS BIGINT) AS n_dup_shingles
    FROM runs GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_dup_spans(spark, sf_dir):
    """Duplicated-substring span detection (§2.10 dedup family) — the
    span-level companion to the doc-level minhash/simhash near-dup
    suite: find, per document, the maximal runs of consecutive word
    5-grams that occur at least twice anywhere in the corpus (the
    exact-substring-duplication signal used to scrub memorizable
    repeated text from LLM training data; within-doc repeats count,
    matching the "appears more than once in the corpus" definition).

    Spark-first shape: shingling is pure JVM rowgen — filter(split) +
    transform(sequence) + slice + posexplode, no UDF; "duplicated" is
    one shingle-keyed partial→final count (never an all-pairs
    comparison); the runs are gaps-and-islands — pos minus
    row_number() over (doc, pos) constant within each consecutive run
    — one window over the doc-partitioned MARKED subset (only
    duplicated positions shuffle; at 100 TB that is the duplication
    volume, not the corpus). The positional shingle frame is
    MATERIALIZED once (FRAMES memo, r11): it feeds both the
    duplicate-count aggregate and the marked-position semi-join, and
    Catalyst does not dedupe common subplans, so without the memo the
    corpus was scanned and shingled TWICE — an avoidable 2× on the
    most expensive stage (r10 verdict finding #1; q_bm25_rank and
    q_perplexity already memoize their equivalents). Every output is
    an integer count, so the hash has no FP surface. A production pass
    would hash shingles to xxhash64 before the count; the registered
    form groups the raw 5-gram string so the oracle compares the
    identical key."""

    def build_sh():
        d = load_table(spark, sf_dir, "documents")
        arrs = d.select(
            "doc_id",
            F.expr(r"filter(split(text, '\\s+'), x -> x <> '')").alias("arr"),
        ).where(F.size("arr") >= 5)
        return arrs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(arr) - 4),"
                    " i -> struct(cast(i as bigint) as pos,"
                    " concat_ws(' ', slice(arr, i, 5)) as sh))"
                )
            ).alias("e"),
        ).select("doc_id", F.col("e.pos").alias("pos"), F.col("e.sh").alias("sh"))

    sh = FRAMES.get(spark, ("dup_spans_sh", sf_dir), build_sh)
    dup = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("sh")
    )
    marked = sh.join(dup, "sh", "left_semi").select(
        "doc_id",
        "pos",
        (
            F.col("pos")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos"))
        ).alias("grp"),
    )
    runs = marked.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len")
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
            (F.max("run_len") + F.lit(4)).cast("bigint").alias("max_span_words"),
            F.sum("run_len").cast("bigint").alias("n_dup_shingles"),
        )
    )


@query(
    "q_perplexity",
    oracle="""
    WITH arrs AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS l
      FROM documents
    ),
    bg AS (
      SELECT doc_id, l[s.i] AS w1, l[s.i + 1] AS w2
      FROM arrs, unnest(generate_series(1, len(l) - 1)) s(i)
      WHERE len(l) >= 2
    ),
    pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2),
    uc AS (SELECT w1, CAST(sum(c) AS BIGINT) AS n FROM pc GROUP BY w1),
    voc AS (
      SELECT CAST(count(DISTINCT t.token) AS BIGINT) AS v FROM documents,
             unnest(string_split_regex(text, '\\s+')) t(token)
      WHERE t.token <> ''
    ),
    scored AS (
      SELECT bg.doc_id,
             CAST(round(-ln((c + 1) / CAST(n + v AS DOUBLE)), 8)
                  AS DECIMAL(38,12)) AS nll
      FROM bg JOIN pc USING (w1, w2) JOIN uc USING (w1), voc
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           exp(CAST(sum(nll) AS DOUBLE) / count(*)) AS ppl
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_perplexity(spark, sf_dir):
    """Per-document bigram-LM perplexity (§2.10 quality family) — the
    classic perplexity-filtering signal (CCNet/Gopher-style): train a
    Laplace-smoothed bigram model on the corpus, score every document
    by exp(mean negative log-prob of its bigrams). High-ppl documents
    are the incoherent/boilerplate tail a curation pipeline drops.

    Spark-first shape: the per-doc bigram frame is JVM rowgen
    (transform(sequence)+element_at, no UDF) and MATERIALIZED once
    (FRAMES memo) — it is both the LM training input and the scoring
    input; the LM is two token-keyed aggregates (pair counts, unigram
    totals — vocabulary-sized, shuffle-joined back without a binding
    hint so AQE stays free at scale); the vocab size is the accepted
    1-row scalar attach. Float determinism: every ln input is a ratio
    of exact integers, each -ln(p) rounds to 8 dp and sums as
    decimal(38,12) — associative, partition-order-free — and only the
    final mean/exp are double ops on that exact sum. At 100 TB the
    LM tables are the only shuffles beyond the doc-keyed score
    aggregate; nothing is all-pairs."""

    def build_bg():
        d = load_table(spark, sf_dir, "documents")
        arrs = d.select(
            "doc_id",
            F.expr(r"filter(split(text, '\\s+'), x -> x <> '')").alias("arr"),
        ).where(F.size("arr") >= 2)
        return arrs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(arr) - 1),"
                    " i -> struct(element_at(arr, i) as w1,"
                    " element_at(arr, i + 1) as w2))"
                )
            ).alias("e"),
        ).select("doc_id", "e.w1", "e.w2")

    bg = FRAMES.get(spark, ("bigrams_doc", sf_dir), build_bg)
    pc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    uc = pc.groupBy("w1").agg(F.sum("c").cast("bigint").alias("n"))
    d = load_table(spark, sf_dir, "documents")
    voc = (
        d.select(F.explode(F.split("text", r"\s+")).alias("t"))
        .where(F.col("t") != "")
        .agg(F.countDistinct("t").cast("bigint").alias("v"))
    )
    nll = F.round(
        -F.log((F.col("c") + 1) / (F.col("n") + F.col("v")).cast("double")), 8
    ).cast("decimal(38,12)")
    return (
        bg.join(pc, ["w1", "w2"])
        .join(uc, "w1")
        .crossJoin(F.broadcast(voc))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.exp(F.sum("nll").cast("double") / F.count(F.lit(1))).alias("ppl"),
        )
    )
