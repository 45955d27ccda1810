"""Advanced corpus: range join, TF-IDF, overlapping chunking, SCD2
merge — the round-6 widening of the training-data-pipeline surface
(SURVEY.md §2.3/§2.10 extensions).

All four are oracle-backed (DuckDB twins) and 100 TB-shaped:

- q_range_join: point-in-interval via bucket equi-join, never a
  nested-loop/cartesian plan (plan-guarded in tests/test_plans.py);
- q_tfidf: two hash aggregations + one per-doc window — the canonical
  map-side-combining shape; corpus size joins in as a broadcast 1-row
  frame, no driver constant;
- q_chunk_overlap: sequence+posexplode — pure JVM row generation, the
  standard long-document → training-window split (stride < width gives
  overlap); output cardinality ≈ tokens/stride, no Python in the path;
- q_scd2_merge: slowly-changing-dimension type-2 snapshot merge as ONE
  key-partitioned full outer join + union (broadcast-able when the
  update batch is small — the common CDC shape).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.queries._memo import FRAMES
from polars_express_spark.queries._util import DEC_MOM, dsum, sql_dsum
from polars_express_spark.queries.registry import query

# chunking parameters: width > stride → overlapping windows
_CHUNK_W = 40
_CHUNK_S = 25

# packing parameters: context-window token budget, ids per block
_PACK_C = 128
_PACK_B = 100


def daytime_intervals(spark, n_days: int = 30):
    """The 30 half-open daytime maintenance windows [06:00, 18:00) used
    by q_range_join and the streaming range-join golden."""
    return spark.range(n_days).select(
        F.col("id").alias("iv_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_dt_interval(F.col("id"), F.lit(6), F.lit(0), F.lit(0))
        ).alias("w_start"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_dt_interval(F.col("id"), F.lit(18), F.lit(0), F.lit(0))
        ).alias("w_end"),
    )


@query(
    "q_range_join",
    oracle=f"""
    WITH iv AS (
      SELECT d AS iv_id,
             TIMESTAMP '2024-01-01' + d * INTERVAL '1 day' + INTERVAL '6 hours' AS w_start,
             TIMESTAMP '2024-01-01' + d * INTERVAL '1 day' + INTERVAL '18 hours' AS w_end
      FROM generate_series(0, 29) s(d)
    )
    SELECT iv.iv_id, CAST(count(*) AS BIGINT) AS n_events,
           {sql_dsum("e.value", "sum_val")}
    FROM iv JOIN events e ON e.ts >= iv.w_start AND e.ts < iv.w_end
    GROUP BY iv.iv_id ORDER BY iv.iv_id
    """,
)
def q_range_join(spark, sf_dir):
    """Point-in-interval range join (§2.3 non-equi family, the polars
    join_where shape): events against 30 half-open daytime windows
    [06:00, 18:00). Runs through bucketed_range_join — bucket equi-join
    + exact residual, NOT a nested loop; bucket width 12h ≈ interval
    length, so each interval explodes to ≤2 buckets."""
    from polars_express_spark.operators.range_join import bucketed_range_join

    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    iv = daytime_intervals(spark)
    joined = bucketed_range_join(e, iv, "ts", "w_start", "w_end", bucket_seconds=43200)
    return (
        joined.groupBy("iv_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"), dsum("value", "sum_val"))
    )


@query(
    "q_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.token AS t FROM documents,
             unnest(string_split_regex(text, '\\s+')) t(token)
      WHERE t.token <> ''
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t),
    dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    nd AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.t, tf.tf, dfq.df,
             tf.tf * ln(CAST((SELECT n FROM nd) AS DOUBLE) / dfq.df) AS score
      FROM tf JOIN dfq USING (t)
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, t ASC) AS rn
      FROM scored
    )
    SELECT doc_id, t AS term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
    FROM ranked WHERE rn = 1 ORDER BY doc_id
    """,
)
def q_tfidf(spark, sf_dir):
    """Per-document top TF-IDF term (§2.10 text analysis): the standard
    quality/topicality signal a training pipeline computes corpus-wide.
    Two partial→final hash aggregations (term frequency per doc,
    document frequency per term), corpus size N attached as a broadcast
    1-row frame, winner per doc via row_number. The (doc, term) tf
    frame is the SAME inverted-index stand-in q_bm25_rank materializes,
    under the SAME FRAMES key (r11): it feeds two consumers here (df
    and the scoring join) and Catalyst does not dedupe common subplans,
    so without the memo the corpus explode ran once per consumer — and
    sharing the key means a session computes the index once for BOTH
    queries, the cross-query reuse the ANN family already practices.
    The score itself (an irrational log product) is kept INTERNAL to
    the ordering — the emitted columns (term, tf, df) are
    integers/strings, so the cross-engine hash can't be flipped by
    last-ulp log differences; ties break on term ASC in both
    engines."""

    def build_tf():
        dd = load_table(spark, sf_dir, "documents")
        toks = (
            dd.select("doc_id", F.explode(F.split("text", r"\s+")).alias("t"))
            .where(F.col("t") != "")
        )
        return toks.groupBy("doc_id", "t").agg(
            F.count(F.lit(1)).cast("bigint").alias("tf")
        )

    d = load_table(spark, sf_dir, "documents")
    tf = FRAMES.get(spark, ("bm25_tf", sf_dir), build_tf)
    dfq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    nd = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = tf.join(dfq, "t").crossJoin(F.broadcast(nd)).withColumn(
        "score", F.col("tf") * F.log(F.col("n") / F.col("df"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("t").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("t").alias("term"),
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
        )
    )


@query(
    "q_chunk_overlap",
    oracle=f"""
    WITH t2 AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    t3 AS (SELECT doc_id, toks, len(toks) AS n_tok FROM t2 WHERE len(toks) > 0)
    SELECT doc_id,
           CAST(s.start_tok // {_CHUNK_S} AS BIGINT) AS chunk_id,
           CAST(s.start_tok AS BIGINT) AS start_tok,
           CAST(LEAST({_CHUNK_W}, n_tok - s.start_tok) AS BIGINT) AS chunk_len,
           toks[s.start_tok + 1] AS first_tok
    FROM t3, unnest(generate_series(0, n_tok - 1, {_CHUNK_S})) s(start_tok)
    ORDER BY doc_id, chunk_id
    """,
)
def q_chunk_overlap(spark, sf_dir):
    """Overlapping document chunking (§2.10): split every document into
    {_CHUNK_W}-token training windows at stride {_CHUNK_S} (overlap =
    width − stride), the standard long-document → context-window step
    before tokenizer packing. sequence() + posexplode — JVM-side row
    generation, output rows ≈ tokens/stride; emits (start, length,
    first token) per chunk so the oracle can replay alignment exactly
    without hashing megabytes of chunk text."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    t2 = (
        d.select("doc_id", toks.alias("toks"))
        .withColumn("n_tok", F.size("toks"))
        .where(F.col("n_tok") > 0)
    )
    starts = F.sequence(F.lit(0), F.col("n_tok") - 1, F.lit(_CHUNK_S))
    ch = t2.select(
        "doc_id",
        "toks",
        "n_tok",
        F.explode(starts).alias("start_tok"),
    )
    return ch.select(
        "doc_id",
        (F.col("start_tok") / F.lit(_CHUNK_S)).cast("bigint").alias("chunk_id"),
        F.col("start_tok").cast("bigint").alias("start_tok"),
        F.least(F.lit(_CHUNK_W), F.col("n_tok") - F.col("start_tok"))
        .cast("bigint")
        .alias("chunk_len"),
        F.element_at("toks", F.col("start_tok") + 1).alias("first_tok"),
    )


@query(
    "q_pack_bins",
    oracle=f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, (doc_id // {_PACK_B}) * {_PACK_B} AS block, n_tok,
             row_number() OVER (PARTITION BY (doc_id // {_PACK_B})
                                ORDER BY doc_id) AS rn
      FROM (
        SELECT doc_id,
               len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tok
        FROM documents
      )
    ),
    pack(block, rn, doc_id, n_tok, bin_id, fill) AS (
      SELECT block, rn, doc_id, n_tok, 0, n_tok FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.block, d.rn, d.doc_id, d.n_tok,
             CASE WHEN p.fill + d.n_tok <= {_PACK_C}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill + d.n_tok <= {_PACK_C}
                  THEN p.fill + d.n_tok ELSE d.n_tok END
      FROM docs d JOIN pack p ON d.block = p.block AND d.rn = p.rn + 1
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(block AS BIGINT) AS block,
           CAST(bin_id AS BIGINT) AS bin_id, CAST(n_tok AS BIGINT) AS n_tok
    FROM pack ORDER BY doc_id
    """,
)
def q_pack_bins(spark, sf_dir):
    """Greedy sequence packing (§2.10, the pre-tokenizer step an LLM
    pipeline runs after chunking): next-fit documents into
    {_PACK_C}-token context windows within deterministic
    {_PACK_B}-id blocks. The sequential bin-state scan runs per block
    in an Arrow-batched applyInPandas (grouped-map UDF surface) —
    blocks are embarrassingly parallel, so the shape holds at 100 TB
    where a single global pack order could not. Oracle: DuckDB
    recursive CTE replaying the same next-fit recurrence per block."""
    from polars_express_spark.operators.packing import pack_next_fit

    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    with_counts = d.select("doc_id", F.size(toks).alias("n_tok"))
    return pack_next_fit(
        with_counts, id_col="doc_id", tok_col="n_tok",
        capacity=_PACK_C, block_size=_PACK_B,
    )


@query(
    "q_scd2_merge",
    oracle="""
    WITH upd AS (
      SELECT c_custkey AS k, c_acctbal + 100 AS new_bal
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 500.0
      FROM customer WHERE c_custkey % 97 = 0
    ),
    j AS (
      SELECT COALESCE(b.c_custkey, u.k) AS k, b.c_acctbal AS old_bal, u.new_bal
      FROM customer b FULL JOIN upd u ON b.c_custkey = u.k
    )
    SELECT k AS c_custkey, COALESCE(new_bal, old_bal) AS acctbal,
           CASE WHEN new_bal IS NOT NULL AND old_bal IS NOT NULL
                THEN 2 ELSE 1 END AS version,
           TRUE AS is_current
    FROM j
    UNION ALL
    SELECT k, old_bal, 1, FALSE FROM j
    WHERE new_bal IS NOT NULL AND old_bal IS NOT NULL
    ORDER BY c_custkey, version
    """,
)
def q_scd2_merge(spark, sf_dir):
    """SCD2 (slowly-changing-dimension type 2) snapshot merge (§2.1
    lake family): apply a CDC batch — updates to every 7th customer's
    balance plus inserts of net-new keys — producing current rows
    (latest version) AND closed history rows for updated keys. One
    key-partitioned full outer join + union; at 100 TB the update batch
    is the broadcast side and the base never reshuffles beyond its
    bucketing. Values pass through unaggregated, so the cross-engine
    hash is exact."""
    from polars_express_spark.operators.scd2 import scd2_merge

    c = load_table(spark, sf_dir, "customer")
    updates = (
        c.where(F.col("c_custkey") % 7 == 0)
        .select(F.col("c_custkey").alias("k"), (F.col("c_acctbal") + 100).alias("new_bal"))
        .unionByName(
            c.where(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 1000000).alias("k"),
                F.lit(500.0).alias("new_bal"),
            )
        )
    )
    base = c.select(F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("old_bal"))
    return (
        scd2_merge(base, updates, key="k", old_val="old_bal", new_val="new_bal")
        .select(
            F.col("k").alias("c_custkey"),
            F.col("val").alias("acctbal"),
            "version",
            "is_current",
        )
    )


@query(
    "q_embed_pca",
    oracle=f"""
    WITH el AS (
      SELECT s.i AS i, CAST(embedding[s.i] AS DOUBLE) AS x
      FROM embeddings, unnest(generate_series(1, len(embedding))) s(i)
    ),
    mom AS (
      SELECT i, {sql_dsum("x", "sx", "DECIMAL(38,12)")},
             {sql_dsum("x*x", "sxx", "DECIMAL(38,12)")},
             count(*) AS cn
      FROM el GROUP BY i
    ),
    vars AS (SELECT sxx/cn - (sx/cn)*(sx/cn) AS v FROM mom),
    tot AS ( SELECT {sql_dsum("v", "total_var", "DECIMAL(38,12)")} FROM vars )
    SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_vectors,
           CAST((SELECT max(len(embedding)) FROM embeddings) AS BIGINT) AS dim,
           (SELECT total_var FROM tot) AS total_var,
           TRUE AS trace_ok,
           TRUE AS proj_ok
    """,
)
def q_embed_pca(spark, sf_dir):
    """Distributed PCA over the embedding column (§2.10 similarity
    family): Gram-matrix partials per partition (Arrow-batched numpy),
    a 64×64 driver eigensolve (kilobyte boundary collect, same class as
    the IVF centroids), and row-parallel projection.

    Driver-checkable invariant form — the eigenvectors themselves are
    solver-dependent floats, so the registered row pins the two defining
    PCA identities instead, each tying the DRIVER eigensolve back to
    DISTRIBUTED decimal-exact statistics the oracle can recompute:
    - trace_ok: Σ eigenvalues = total variance (trace preservation),
      vs the decimal-exact per-dimension variance sum (rel. 1e-9);
    - proj_ok: the decimal-exact variance of the data projected on the
      first component equals eigenvalue 1 (rel. 1e-6) — wrong mean,
      covariance, sign handling, or projection all break it.
    total_var itself is emitted and hash-compared (decimal-exact on
    both engines)."""
    from polars_express_spark.operators.pca import pca_fit, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, eigvals, n = pca_fit(emb, "embedding", k=2)
    el = emb.select(F.posexplode("embedding").alias("i", "xf")).select(
        "i", F.col("xf").cast("double").alias("x")
    )
    mom = el.groupBy("i").agg(
        dsum("x", "sx", DEC_MOM),
        dsum(F.col("x") * F.col("x"), "sxx", DEC_MOM),
        F.count(F.lit(1)).alias("cn"),
    )
    mean_i = F.col("sx") / F.col("cn")
    vars_ = mom.select(
        (F.col("sxx") / F.col("cn") - mean_i * mean_i).alias("v")
    )
    tot = vars_.agg(dsum("v", "total_var", DEC_MOM))
    p = pca_project(emb, mean, comps).select(F.col("pc")[0].alias("p"))
    pv = p.agg(
        dsum("p", "sp", DEC_MOM),
        dsum(F.col("p") * F.col("p"), "spp", DEC_MOM),
        F.count(F.lit(1)).alias("cn"),
    )
    pmean = F.col("sp") / F.col("cn")
    pv = pv.select((F.col("spp") / F.col("cn") - pmean * pmean).alias("proj_var"))
    lam1 = float(eigvals[0])
    trace = float(eigvals.sum())
    return tot.crossJoin(pv).select(
        F.lit(n).cast("bigint").alias("n_vectors"),
        F.lit(int(len(mean))).cast("bigint").alias("dim"),
        F.col("total_var"),
        (
            F.abs(F.lit(trace) - F.col("total_var"))
            <= F.lit(1e-9) * F.col("total_var")
        ).alias("trace_ok"),
        (F.abs(F.lit(lam1) - F.col("proj_var")) <= F.lit(1e-6) * F.lit(lam1)).alias(
            "proj_ok"
        ),
    )


@query(
    "q_histogram",
    oracle="""
    WITH b AS (
      SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem
    )
    SELECT LEAST(CAST(FLOOR((l_extendedprice - (SELECT lo FROM b))
                             / (((SELECT hi FROM b) - (SELECT lo FROM b)) / 20.0))
                      AS BIGINT), 19) AS bin,
           CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY bin ORDER BY bin
    """,
)
def q_histogram(spark, sf_dir):
    """Equal-width 20-bin histogram of l_extendedprice with DATA-DERIVED
    bounds (§2.4 family): the profiling primitive behind every
    distribution dashboard. Two tiny passes — an exact min/max aggregate
    broadcast into the binning scan, then a partial→final count per bin.
    Bin arithmetic is the same IEEE double expression on both engines
    (min/max are exact, no sums), so edges can't drift cross-engine; the
    max value folds into the last bin."""
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    b = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    x = F.col("l_extendedprice")
    w = (F.col("hi") - F.col("lo")) / F.lit(20.0)
    bin_ = F.least(F.floor((x - F.col("lo")) / w), F.lit(19).cast("bigint"))
    return (
        li.crossJoin(F.broadcast(b))
        .groupBy(bin_.alias("bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


@query(
    "q_rare_tokens",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.token AS t FROM documents,
             unnest(string_split_regex(text, '\\s+')) t(token)
      WHERE t.token <> ''
    ),
    cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t)
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(count(*) FILTER (WHERE cnt.c < 3) AS BIGINT) AS n_rare,
           CAST(min(cnt.c) AS BIGINT) AS min_c,
           CAST(count(*) FILTER (WHERE cnt.c < 3) AS DOUBLE) / count(*) AS rare_frac
    FROM tok JOIN cnt USING (t)
    GROUP BY tok.doc_id ORDER BY tok.doc_id
    """,
)
def q_rare_tokens(spark, sf_dir):
    """Rare-token density (§2.10 text analysis, corpus-statistics
    flavor): per-document count and fraction of tokens whose GLOBAL
    corpus frequency is < 3, plus the rarest token's count — the
    OOV/garbage-density signal a pre-training filter thresholds on.
    Unlike q_quality_score (per-row ratios), this needs a corpus-wide
    vocabulary aggregate joined back to the token stream: one hash agg
    for counts, a broadcast-able vocab join, one partial→final per-doc
    agg — every emitted value is integer-exact (the fraction divides
    two exact ints identically in both engines)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", r"\s+")).alias("t")).where(
        F.col("t") != ""
    )
    cnt = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    rare = F.when(F.col("c") < 3, 1).otherwise(0)
    return (
        tok.join(cnt, "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum(rare).cast("bigint").alias("n_rare"),
            F.min("c").cast("bigint").alias("min_c"),
            (F.sum(rare).cast("double") / F.count(F.lit(1))).alias("rare_frac"),
        )
    )


@query(
    "q_train_split",
    oracle="""
    SELECT s.split,
           (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_corpus,
           TRUE AS bound_ok, TRUE AS cover_ok
    FROM (VALUES ('test'), ('train'), ('val')) s(split)
    ORDER BY s.split
    """,
)
def q_train_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split (§2.10, THE
    reproducibility primitive): cumulative hash thresholds put every
    document in exactly one split on any cluster size. Hash-dependent
    membership can't be replayed in SQL, so the registered row reports,
    per split: the corpus total (oracle-recomputed), a 4σ binomial
    bound on the split size, and cover_ok — the exact check that the
    three split counts sum to the corpus (disjointness + coverage)."""
    from polars_express_spark.operators.sampling import hash_split

    d = load_table(spark, sf_dir, "documents")
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    sp = hash_split(d, weights, key_cols=["doc_id"])
    counts = sp.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
    total = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
    w = F.create_map(
        *[x for k, v in weights.items() for x in (F.lit(k), F.lit(float(v)))]
    )[F.col("split")]
    tol = F.lit(4) * F.sqrt(w * (F.lit(1.0) - w) * F.col("n_corpus")) + F.lit(2)
    bound_ok = F.abs(F.col("n") - w * F.col("n_corpus")) <= tol
    cover = counts.agg(F.sum("n").cast("bigint").alias("n_all"))
    return (
        counts.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(cover))
        .select(
            "split",
            "n_corpus",
            bound_ok.alias("bound_ok"),
            (F.col("n_all") == F.col("n_corpus")).alias("cover_ok"),
        )
    )


@query(
    "q_weighted_sample",
    oracle=f"""
    WITH w AS (SELECT lang, LEAST(1.0, n_chars / 200.0) AS w FROM documents)
    SELECT lang, {sql_dsum("w", "exp_kept")}, TRUE AS kept_ok
    FROM w GROUP BY lang ORDER BY lang
    """,
)
def q_weighted_sample(spark, sf_dir):
    """Quality-weighted resampling (§2.10): each document survives with
    probability equal to its own quality weight (here min(1,
    n_chars/200) — longer docs kept surely, short ones rarely), the
    standard curation step between scoring and training. The oracle
    RECOMPUTES the exact expected kept count per language (decimal-exact
    Σw, identical IEEE weight expression on both engines); the driver
    row adds a 4σ Poisson-binomial bound (σ² = Σw(1−w)) on the actual
    kept count — so a broken hash, clamp, or weight expression all
    hash-mismatch."""
    from polars_express_spark.operators.sampling import weighted_sample

    d = load_table(spark, sf_dir, "documents").withColumn(
        "__w", F.least(F.lit(1.0), F.col("n_chars") / F.lit(200.0))
    )
    kept = (
        weighted_sample(d, "__w", key_cols=["doc_id"])
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .withColumnRenamed("lang", "__k_lang")
    )
    wexp = d.groupBy("lang").agg(
        dsum("__w", "exp_kept"),
        dsum(F.col("__w") * (F.lit(1.0) - F.col("__w")), "wvar", DEC_MOM),
    )
    n_kept = F.coalesce("n_kept", F.lit(0))
    tol = F.lit(4) * F.sqrt(F.col("wvar")) + F.lit(2)
    kept_ok = F.abs(n_kept - F.col("exp_kept")) <= tol
    return (
        wexp.join(kept, F.col("lang").eqNullSafe(F.col("__k_lang")), "left")
        .select("lang", "exp_kept", kept_ok.alias("kept_ok"))
    )


@query(
    "q_grouped_topk",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey
    """,
)
def q_grouped_topk(spark, sf_dir):
    """Top-3 orders by total price per priority through the
    bounded-memory two-phase top-k (operators/topk.py) instead of a
    ranked window: the map side prunes each partition to ≤ k rows per
    key BEFORE the shuffle, so the exchange moves k·partitions rows
    per key rather than every row — the difference between shuffling
    100 TB and shuffling kilobytes. Ties break on the order key in
    both phases, which makes the result exactly the window-rank
    answer the oracle replays."""
    from polars_express_spark.operators.topk import grouped_topk

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return grouped_topk(
        o,
        keys=["o_orderpriority"],
        order_col="o_totalprice",
        k=3,
        tie_cols=["o_orderkey"],
        descending=True,
    )
