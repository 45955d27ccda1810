"""LLM training-data pipeline corpus over `documents` (SURVEY.md §2.10).

Goal-state (Tier G) operators: exact + near dedup, text analysis,
fingerprinting, multimodal plumbing. Everything deterministic; oracled
where an independent SQL replay exists, rows-only where the operator
depends on xxhash64 (no DuckDB twin) or on Pandas-UDF plumbing.

Scale shapes:
- exact dedup groups on the text hash (64-bit shuffle key), never the
  raw text;
- minhash/LSH: shingle→minhash→band→bucket-join — candidate pairs come
  from bucket equi-joins, the O(n²) pair space never materializes;
- verify steps (exact jaccard) run only on candidates.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.queries._memo import FRAMES
from polars_express_spark.queries.registry import ORACLES, query

# --------------------------------------------------------------- exact dedup


@query(
    "q34_exact_dedup",
    oracle="""
    WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
    SELECT lang, count(*) AS cnt
    FROM documents JOIN keep USING (doc_id)
    GROUP BY lang ORDER BY lang
    """,
)
def q34_exact_dedup(spark, sf_dir):
    """Exact dedup on text, survivor = min doc_id (§2.11 Q34).

    Partitioning on xxhash64(text) first makes the shuffle key compact
    and uniformly distributed; the raw text rides along in the row (it
    must — collisions are broken by grouping on the text itself within a
    hash bucket), so the shuffle still carries full rows. min(doc_id)
    keeps the survivor deterministic. At 100 TB the win over grouping on
    raw text directly is the fixed-width, skew-free partitioner key.
    """
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy(F.xxhash64("text"), "text").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --------------------------------------------------------------- text analysis


@query(
    "q36_token_counts",
    oracle="""
    SELECT t.token AS token, count(*) AS cnt
    FROM documents, unnest(string_split_regex(text, '\\s+')) t(token)
    WHERE t.token <> ''
    GROUP BY t.token
    ORDER BY cnt DESC, token ASC LIMIT 50
    """,
)
def q36_token_counts(spark, sf_dir):
    """Whitespace tokenize → explode → count → top-50 (§2.11 Q36)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", r"\s+")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(50)
    )


_STOP_EN = ("the", "a", "of", "and", "to", "in")
_STOP_DE = ("der", "die", "das", "und", "ist", "ein")
_STOP_FR = ("le", "la", "et", "les", "un", "une")


def _sql_stop_count(lst):
    inlist = ", ".join(f"'{w}'" for w in lst)
    return f"len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ({inlist})))"


@query(
    "q_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_sql_stop_count(_STOP_EN)} AS s_en,
             {_sql_stop_count(_STOP_DE)} AS s_de,
             {_sql_stop_count(_STOP_FR)} AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN s_de > s_en AND s_de >= s_fr THEN 'de'
                WHEN s_fr > s_en AND s_fr > s_de THEN 'fr'
                ELSE 'en' END AS pred_lang
    FROM scored ORDER BY doc_id
    """,
)
def q_lang_id(spark, sf_dir):
    """Stopword-ratio language ID heuristic (§2.10 text analysis).
    Pure JVM higher-order functions (filter over the token array) —
    no UDF. The tie order (de > fr > en fallback) is pinned so the
    prediction is deterministic."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", r"\s+")

    def score(words):
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    scored = d.select(
        "doc_id",
        "lang",
        score(_STOP_EN).alias("s_en"),
        score(_STOP_DE).alias("s_de"),
        score(_STOP_FR).alias("s_fr"),
    )
    return scored.select(
        "doc_id",
        "lang",
        F.when(
            (F.col("s_de") > F.col("s_en")) & (F.col("s_de") >= F.col("s_fr")), F.lit("de")
        )
        .when((F.col("s_fr") > F.col("s_en")) & (F.col("s_fr") > F.col("s_de")), F.lit("fr"))
        .otherwise(F.lit("en"))
        .alias("pred_lang"),
    )


@query(
    "q_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars_actual,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS INT)
             AS n_tokens,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
             / length(text) AS alpha_ratio,
           CAST({_sql_stop_count(_STOP_EN)} AS DOUBLE)
             / len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
             AS stop_ratio
    FROM documents WHERE length(text) > 0 ORDER BY doc_id
    """,
)
def q_quality_score(spark, sf_dir):
    """Document quality signals (§2.10): char/token counts, alphabetic
    ratio, stopword ratio — the standard pre-training quality filters,
    all as built-in expressions."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*_STOP_EN)))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        (
            F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double")
            / F.length("text")
        ).alias("alpha_ratio"),
        (stop_hits.cast("double") / n_tokens).alias("stop_ratio"),
    )


@query(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS INT)
             AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT)
             AS bpe_tokens
    FROM documents ORDER BY doc_id
    """,
)
def q_token_count(spark, sf_dir):
    """Token counting two ways (§2.10): whitespace tokens and a BPE-ish
    regex lexer (letter runs / digit runs / single punctuation)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)
        ).alias("bpe_tokens"),
    )


@query(
    "q_fingerprint",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS n
      FROM documents
    )
    SELECT min(doc_id) AS keep_doc, CAST(count(*) AS BIGINT) AS n_docs
    FROM norm GROUP BY n ORDER BY keep_doc
    """,
)
def q_fingerprint(spark, sf_dir):
    """Document fingerprint (§2.10): 64-bit xxhash64 of the normalized
    text (lowercased, whitespace collapsed). Grouping on the fingerprint
    is the O(1)-state exact-dedup key at scale. xxhash64 itself has no
    DuckDB twin, but the GROUPING it induces is oracle-replayable: the
    oracle groups by the normalized text directly, so (keep_doc, n_docs)
    hash-match exactly iff the fingerprint partitions the corpus the way
    the normalized text does (collision-free at tested scales; hash
    stability is also unit-tested since xxhash64 is seed-stable)."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return (
        d.select("doc_id", F.xxhash64(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc"), F.count(F.lit(1)).alias("n_docs"))
        .select("keep_doc", "n_docs")
    )


# --------------------------------------------------------------- near dedup


def _shingle_arrays(d, n=3):
    """(doc_id, sh: array<string>) — distinct word n-gram shingles per doc,
    pure array expressions, one row per doc (no explode). UNCACHED —
    persistence is the caller's choice (the sf_dir-keyed consumers share
    ONE cached copy through _shingle_arrays_shared; property tests over
    throwaway fixtures cache locally).
    """
    # Materialize the token array as a COLUMN first: referencing the raw
    # split(...) expression inside the transform lambda makes Spark
    # re-evaluate the regex split for every element_at call (no common
    # subexpression elimination inside HOF lambdas) — measured 4× slower.
    tokd = d.select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
    toks = F.col("toks")
    # Guard short docs: sequence(1, size-2) with size<3 would produce a
    # DESCENDING [1, 0] (Spark infers step -1) and element_at(toks, 0)
    # then throws INVALID_ARRAY_INDEX. Docs with < n tokens have no
    # n-shingles — emit an empty array, matching the oracle's
    # generate_series(1, greatest(len-2, 0)) which yields an empty list.
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k) for k in range(n)]))
    return tokd.select("doc_id", F.array_distinct(sh).alias("sh"))


def _shingle_arrays_shared(spark, sf_dir, n=3):
    """ONE materialized shingle-array frame per (session, dataset):
    candidate generation, the array-intersect verify, and minhash
    signatures all read the same materialization. FrameMemo checkpoints
    it rather than caching it: a clearCache()d InMemoryRelation held by
    a memo recomputes its child on EVERY reference without re-caching,
    and the minhash plan references this frame four times (1.5s → 16s
    when it was cached). localCheckpoint blocks survive clearCache. At
    100 TB the same role is played by persisting the shingle table to
    storage between pipeline stages.

    The build repartitions the scan first: the local documents table is
    ONE parquet file → a 1-partition scan that would otherwise run the
    whole tokenize/shingle pipeline serially (measured 2.6s → 0.8s at
    sf0.1 with 32 slots), and the materialized partitioning carries over
    to every consumer. At 100 TB the scan is naturally thousands of
    partitions and the exchange is a no-op to remove."""

    def build():
        d = load_table(spark, sf_dir, "documents")
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        return _shingle_arrays(d.repartition(width, "doc_id"), n)

    return FRAMES.get(spark, ("shingles", sf_dir, n), build)


def _verify_jaccard(cand, sh_arr, threshold=0.2):
    """Exact jaccard on candidate pairs via per-pair array intersection.

    JVM-side O(|A|+|B|) hash intersection per pair — replaces the
    relational (pair × shingle) verify join whose row count was
    candidates × shingles-per-doc. The exactness is unchanged: the
    intersection runs on the FULL shingle arrays.
    """
    a = sh_arr.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sa"))
    b = sh_arr.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sb"))
    i = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            (i.cast("double") / (F.size("sa") + F.size("sb") - i)).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


HOT_SHINGLE_DF_CAP = 64  # max docs a shingle may appear in to generate candidates


# Shared oracle CTEs: the distinct 3-shingle relation (doc_id, s) —
# used by the near-dup pair chain below and by the decontamination
# oracle — and the chain producing the exact near-dup pair set
# (a_id, b_id, jaccard ≥ 0.2): the q_ngram_jaccard oracle and the edge
# input to the clustering/dedup oracles.
_SHINGLE_CTES = """
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) g(i)
    )"""

_JACCARD_PAIRS_CTES = f"""{_SHINGLE_CTES},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      FROM sh a JOIN sh b USING (s)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a_id, b_id,
             CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
    )"""


@query(
    "q_ngram_jaccard",
    oracle=f"""
    WITH {_JACCARD_PAIRS_CTES}
    SELECT a_id, b_id, jaccard FROM pairs
    ORDER BY a_id, b_id
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup (§2.10).

    Two phases, so hot shingles can't blow up the candidate space:

    1. CANDIDATES from shingles with document frequency ≤
       HOT_SHINGLE_DF_CAP only. A stop-shingle ("of the and") in k docs
       would otherwise emit k² candidate rows — quadratic on exactly the
       skewed shuffle keys. Near-dup pairs (jaccard ≥ 0.2 on 3-shingles)
       share many shingles, almost all of them rare, so the cap costs no
       recall in practice (verified vs the uncapped DuckDB oracle at
       sf0.01 and sf0.1); a pair ALL of whose shared shingles are hot
       would be missed — that is the documented trade.
    2. VERIFY exactly on the full (uncapped) shingle sets: intersection
       counted over every shared shingle, so reported jaccard values are
       exact, not an approximation.
    """
    return _jaccard_pairs_shared(spark, sf_dir)


# One materialized pair-frame per (session, sf_dir, t): q_ngram_jaccard,
# q_lev_verify, q_neardup_clusters and q_dedup_canonical all consume the
# same candidate pipeline — the FRAMES memo (bounded LRU, see _memo.py)
# runs the heaviest pipeline in the corpus ONCE per session and every
# consumer reads the materialization. localCheckpoint, not cache(): it
# truncates lineage, survives an external spark.catalog.clearCache()
# (the bench issues one between queries), and is the local-mode
# stand-in for the documented 100 TB shape — persisting the verified
# pair table to storage between pipeline stages. (Lazy: materializes on
# the first consumer's action.)


def _jaccard_pairs_shared(spark, sf_dir, t: float = 0.2):
    return FRAMES.get(
        spark,
        ("jaccard_pairs", sf_dir, t),
        lambda: ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"),
            t,
            sh_arr=_shingle_arrays_shared(spark, sf_dir),
        ),
    )


def ngram_jaccard_pairs(d, t: float = 0.2, sh_arr=None):
    """Core of q_ngram_jaccard over any (doc_id, text) DataFrame —
    exposed separately so property tests can drive it with arbitrary
    fixtures (tests/test_property.py). Pass sh_arr to share an
    already-materialized shingle frame; otherwise one is built and
    lazily checkpointed here (throwaway-fixture path)."""
    if sh_arr is None:
        sh_arr = _shingle_arrays(d).localCheckpoint(eager=False)
    sh = sh_arr.select("doc_id", F.explode("sh").alias("s"))
    rare = sh.join(
        sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).where(
            F.col("df") <= HOT_SHINGLE_DF_CAP
        ).select("s"),
        "s",
    )
    # Per-doc totals: n = |shingles|, n_rare = |rare shingles|, so
    # hot = n - n_rare bounds how much of any intersection the capped
    # (hot) shingles can contribute.
    stats = sh_arr.select(
        "doc_id", F.size("sh").alias("n")
    ).join(
        rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_rare")), "doc_id", "left"
    ).select("doc_id", "n", F.coalesce("n_rare", F.lit(0)).alias("n_rare"))
    # COUNT-PRUNED candidates (exact, no false negatives): at most
    # min(hot_a, hot_b) of any intersection can come from capped (hot)
    # shingles, so imax = c + min(hot_a, hot_b) bounds |A∩B|, and
    # jaccard(i) = i/(na+nb-i) is monotone in i. The prune keeps a pair
    # iff the UPPER-BOUND jaccard — computed with the same IEEE double
    # division the verify stage uses — clears the threshold. IEEE ops are
    # correctly rounded, hence weakly monotone, so i ≤ imax implies
    # float(jac(i)) ≤ float(jac(imax)): no false negative is possible,
    # including pairs landing exactly ON the threshold (the old
    # rearranged bound t(na+nb)/(1+t) evaluated 0.2·12/1.2 to
    # 2.0000000000000004 and dropped exact-threshold pairs). imax ≤
    # min(na, nb) (c ≤ n_rare of either side), so the denominator is
    # never 0 for non-empty shingle sets. Random pairs share 1-2 rare
    # shingles and are dropped here instead of flooding the verify stage
    # (1.1M → thousands of pairs at sf0.1).
    rare_cnt = (
        rare.select(F.col("doc_id").alias("a_id"), "s")
        .join(rare.select(F.col("doc_id").alias("b_id"), "s"), "s")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = stats.select(
        F.col("doc_id").alias("a_id"), F.col("n").alias("na"), (F.col("n") - F.col("n_rare")).alias("hot_a")
    )
    sb = stats.select(
        F.col("doc_id").alias("b_id"), F.col("n").alias("nb"), (F.col("n") - F.col("n_rare")).alias("hot_b")
    )
    imax = F.col("c") + F.least("hot_a", "hot_b")
    jac_ub = imax.cast("double") / (F.col("na") + F.col("nb") - imax)
    cand = (
        rare_cnt.join(sa, "a_id")
        .join(sb, "b_id")
        .where(jac_ub >= F.lit(t))
        .select("a_id", "b_id")
    )
    return _verify_jaccard(cand, sh_arr, threshold=t)


N_HASHES = 16
N_BANDS = 4  # 4 rows per band


def minhash_lsh_pairs(spark, sf_dir):
    """MinHash + LSH banding near-dup (§2.10 scale path).

    shingle → 16 minhashes (xxhash64 with per-function seed) → 4 bands of
    4 → band-bucket equi-join for candidates → exact jaccard verify
    (≥ 0.2). Only bucket-mates are ever paired; at 100 TB the band hash
    is the shuffle key. Agreement with the exact q_ngram_jaccard result
    is golden-tested (recall check) since xxhash64 has no DuckDB twin.

    Signatures are computed PER ROW — each minhash is
    array_min(transform(sh, s → xxhash64(s, seed))) over the doc's
    shingle array — so the whole signature+banding stage is shuffle-free
    codegen; the only shuffle is the (band, bucket) candidate join. (The
    old formulation shuffled every exploded shingle through a
    16-aggregate groupBy first.)
    """
    sh_arr = _shingle_arrays_shared(spark, sf_dir)
    sigs = sh_arr.where(F.size("sh") > 0).select(
        "doc_id",
        *[
            F.array_min(
                F.transform("sh", lambda s, i=i: F.xxhash64(s, F.lit(i)))
            ).alias(f"mh{i}")
            for i in range(N_HASHES)
        ],
    )
    # one pass over sigs: explode an array of (band, bucket) structs
    # instead of a 4-way union (which would re-run the signatures 4×)
    rows_per_band = N_HASHES // N_BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("bucket"),
        )
        for b in range(N_BANDS)
    ]
    bands = sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bucket"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id"))
        .distinct()
    )
    return _verify_jaccard(cand, sh_arr)


@query(
    "q_minhash_lsh",
    oracle=f"""
    WITH {_JACCARD_PAIRS_CTES}
    SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
           TRUE AS subset_ok, TRUE AS recall_ok
    FROM pairs
    """,
)
def q_minhash_lsh(spark, sf_dir):
    """MinHash/LSH driver check (the xxhash64 signatures have no DuckDB
    twin, so the REGISTERED query returns a hash-checkable invariant —
    VERDICT r3's q_approx_distinct trick): the exact near-dup pair count
    (the oracle recomputes it from the uncapped jaccard CTEs), plus two
    bounds evaluated Spark-side against the memoized exact pair frame —
    subset_ok (every LSH-found pair survives the exact ≥0.2 verify, so
    precision is 1 by construction) and recall_ok (LSH recovers ≥ 0.5 of
    the exact pairs; measured 0.96 at sf0.01, 1.0 at sf0.001). The index
    itself lives in minhash_lsh_pairs; pair-level recall stays
    golden-tested in tests/test_pipeline_ops.py."""
    found = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id").withColumn(
        "in_f", F.lit(1)
    )
    exact = _jaccard_pairs_shared(spark, sf_dir).select("a_id", "b_id").withColumn(
        "in_e", F.lit(1)
    )
    hits = F.sum(
        F.when(F.col("in_e").isNotNull() & F.col("in_f").isNotNull(), 1).otherwise(0)
    )
    extras = F.sum(F.when(F.col("in_e").isNull(), 1).otherwise(0))
    return exact.join(found, ["a_id", "b_id"], "full").agg(
        F.coalesce(F.sum("in_e"), F.lit(0)).cast("bigint").alias("n_exact_pairs"),
        F.coalesce(extras == 0, F.lit(True)).alias("subset_ok"),
        F.coalesce(
            (hits.cast("double") / F.sum("in_e")) >= F.lit(0.5), F.lit(True)
        ).alias("recall_ok"),
    )


@query(
    "q_simhash",
    oracle=f"""
    WITH {_JACCARD_PAIRS_CTES}
    SELECT CAST((SELECT count(*) FROM documents
                 WHERE len(list_filter(string_split_regex(text, '\\s+'),
                                       x -> x <> '')) > 0) AS BIGINT) AS n_docs,
           CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_neardup_pairs,
           TRUE AS ham_ok, TRUE AS range_ok
    """,
)
def q_simhash(spark, sf_dir, n_bits: int = 16):
    """SimHash driver check (§2.10): the fingerprints are xxhash64-based
    (no DuckDB twin), so the REGISTERED query returns a hash-checkable
    invariant over them: the fingerprinted-doc count and exact near-dup
    pair count (both oracle-recomputed), plus two bounds evaluated
    Spark-side — ham_ok (every exact near-dup pair's fingerprints differ
    in ≤ 8 of 16 bits; measured max 2 at sf0.01, 4 at sf0.001 — simhash
    preserves similarity) and range_ok (all fingerprints in [0, 2^16)).

    The fingerprint computation itself lives in simhash_fingerprints:
    explode tokens → hash aggregate of n_bits signed sums per doc. This
    stays entirely in whole-stage codegen, and the "shuffles the whole
    token stream" worry is wrong: Spark's hash aggregate COMBINES
    MAP-SIDE, so the shuffle carries one partial-sum row per (doc ×
    input partition), the same volume as any per-doc groupBy — the
    explode itself is map-local. The tempting "shuffle-free" alternative
    (a per-row aggregate fold with an array<int> accumulator, kept as
    simhash_fingerprints_fold) runs as INTERPRETED HOF lambdas — n_bits
    expression evals per token outside codegen — and benches 9× slower
    at sf0.1; the two are equivalence-tested in
    tests/test_pipeline_ops.py.
    """
    # repartition: the 1-file local scan would run the token explode
    # serially (at scale the scan is already wide); FRAMES memo: the
    # invariant plan references fps three times (doc stats + both pair
    # sides) and would recompute the aggregate per reference — and the
    # fingerprint table is a persisted pipeline stage at 100 TB anyway.
    def build_fps():
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        return simhash_fingerprints(
            load_table(spark, sf_dir, "documents").repartition(width, "doc_id"), n_bits
        )

    fps = FRAMES.get(spark, ("simhash_fps", sf_dir, n_bits), build_fps)
    doc_stats = fps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        ((F.min("simhash") >= 0) & (F.max("simhash") < 2**n_bits)).alias("range_ok"),
    )
    a = fps.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("ha"))
    b = fps.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    pair_stats = (
        _jaccard_pairs_shared(spark, sf_dir)
        .join(a, "a_id")
        .join(b, "b_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_neardup_pairs"),
            F.coalesce(F.max(ham) <= n_bits // 2, F.lit(True)).alias("ham_ok"),
        )
    )
    # two 1-row aggregates — the "cross join" is a 1×1 literal combine
    return doc_stats.crossJoin(pair_stats).select(
        "n_docs", "n_neardup_pairs", "ham_ok", "range_ok"
    )


def simhash_fingerprints(d, n_bits: int = 16):
    """(doc_id, simhash) for docs with ≥1 non-empty token — exposed so
    tests can drive it with arbitrary fixtures. Codegen shape: explode +
    16-sum hash aggregate (map-side partial combine)."""
    tok = d.select("doc_id", F.explode(F.split("text", r"\s+")).alias("t")).where(
        F.col("t") != ""
    )
    h = F.xxhash64("t")
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(n_bits)
        ]
    )
    fp = None
    for b in range(n_bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = bit if fp is None else fp + bit
    return votes.select("doc_id", fp.alias("simhash"))


def simhash_fingerprints_fold(d, n_bits: int = 16):
    """Shuffle-free per-row formulation (array fold over materialized
    token hashes) — kept as the equivalence-test twin and as
    documentation of the trade: zero shuffle, but the fold runs as
    interpreted HOF lambdas (no codegen), measured 9× slower than the
    exploded hash aggregate at sf0.1. Use only where a shuffle is
    genuinely unaffordable and CPU is not the bottleneck."""
    tokd = d.select(
        "doc_id", F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("toks")
    ).where(F.size("toks") > 0)
    hashed = tokd.select(
        "doc_id", F.transform("toks", lambda t: F.xxhash64(t)).alias("hs")
    )
    zeros = F.array(*[F.lit(0) for _ in range(n_bits)])
    votes = F.aggregate(
        "hs",
        zeros,
        # bit loop unrolled in Python (shiftright's shift amount must be a
        # literal): one array accumulator, n_bits adds per token, still a
        # single per-row fold
        lambda acc, h: F.array(
            *[
                F.element_at(acc, b + 1)
                + F.when(
                    F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
                for b in range(n_bits)
            ]
        ),
    )
    voted = hashed.select("doc_id", votes.alias("v"))
    fp = None
    for b in range(n_bits):
        bit = F.when(
            F.element_at("v", b + 1) > 0, F.lit(2**b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp + bit
    return voted.select("doc_id", fp.alias("simhash"))


# --------------------------------------------------------------- scrubbing

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
_URL_RE = r"https?://[^ ]+"


@query(
    "q_redact_pii",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_URL_RE}')) AS INT) AS n_urls,
           regexp_replace(regexp_replace(text, '{_URL_RE}', '<URL>', 'g'),
                          '{_EMAIL_RE}', '<EMAIL>', 'g') AS redacted
    FROM documents ORDER BY doc_id
    """,
)
def q_redact_pii(spark, sf_dir):
    """PII scrubbing (§2.10 text pipeline): count and redact emails/URLs
    with pure JVM regex — the standard pre-training scrub pass. Patterns
    avoid backreferences/lookarounds so Java regex and DuckDB's RE2
    agree; URL replaced before EMAIL in both engines (order matters when
    a URL contains an @)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_URL_RE), 0)).alias("n_urls"),
        F.regexp_replace(
            F.regexp_replace("text", _URL_RE, "<URL>"), _EMAIL_RE, "<EMAIL>"
        ).alias("redacted"),
    )


@query(
    "q_lev_verify",
    oracle=f"""
    WITH pairs AS ({ORACLES["q_ngram_jaccard"]})
    SELECT p.a_id, p.b_id, p.jaccard,
           CAST(levenshtein(substr(da.text, 1, 100), substr(db.text, 1, 100)) AS INT)
             AS lev100
    FROM pairs p
    JOIN documents da ON da.doc_id = p.a_id
    JOIN documents db ON db.doc_id = p.b_id
    ORDER BY p.a_id, p.b_id
    """,
)
def q_lev_verify(spark, sf_dir):
    """Edit-distance verification of near-dup pairs (§2.10): the
    shingle-jaccard candidates re-scored with levenshtein on bounded
    100-char prefixes. The truncation bounds the O(m·n) DP per pair —
    the discipline that keeps edit distance usable as a verify step at
    scale (never run unbounded levenshtein over a shuffle). Candidates
    come from the SAME cached pair frame q_ngram_jaccard materializes
    (_jaccard_pairs_shared) — the candidate pipeline executes once per
    session, not once per consumer."""
    pairs = _jaccard_pairs_shared(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 100).alias("prefix")
    )
    a = docs.select(F.col("doc_id").alias("a_id"), F.col("prefix").alias("pa"))
    b = docs.select(F.col("doc_id").alias("b_id"), F.col("prefix").alias("pb"))
    return (
        pairs.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", "jaccard", F.levenshtein("pa", "pb").alias("lev100"))
    )


@query(
    "q_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS s
      FROM toks, unnest(generate_series(1, greatest(len(t) - 1, 0))) g(i)
    ),
    cnt AS (SELECT doc_id, s, count(*) AS c FROM sh GROUP BY 1, 2)
    SELECT doc_id, CAST(max(c) AS BIGINT) AS top_cnt,
           CAST(sum(c) AS BIGINT) AS total,
           CAST(max(c) AS DOUBLE) / sum(c) AS rep_ratio
    FROM cnt GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_repetition(spark, sf_dir):
    """Repetition-ratio quality filter (§2.10): fraction of a document's
    word 2-grams taken by its single most frequent 2-gram — the standard
    boilerplate/looping-text detector in pre-training pipelines (high
    ratio → templated or repetitive junk).

    ZERO-SHUFFLE design (r6, replacing a two-shuffle explode→groupBy):
    all of a document's 2-grams live in one row's array, so the top
    count is a per-row expression — sort the array, fold a longest-run
    scan over it (aggregate HOF, struct state). Purely map-side: at
    100 TB nothing ever shuffles, vs shuffling the entire 2-gram stream
    on (doc_id, gram). Measured ~25%
    faster at sf0.1 even at these tiny array sizes; equivalence against
    the explode→groupBy form is pinned by the unchanged DuckDB oracle.

    documents.parquet is a single split at test SFs (594 KB, one row
    group — physically unsplittable, so a smaller openCostInBytes was
    measured to only ADD empty-task overhead), which would serialize the
    whole interpreted HOF fold on ONE core. One hash repartition on
    doc_id runs the fold across shuffle.partitions tasks ('repartition
    immediately after the read' for unsplittable inputs). At scale the
    scan splits naturally and the exchange moves only (doc_id, text)
    rows."""
    d = load_table(spark, sf_dir, "documents").repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    )
    tokd = d.select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
    toks = F.col("toks")
    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1))
    )
    srt = F.array_sort(sh)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
    )

    def step(acc, x):
        run = F.when(acc.prev.eqNullSafe(x), acc.run + 1).otherwise(
            F.lit(1).cast("bigint")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc.best, run).alias("best")
        )

    best = F.aggregate(srt, init, step, lambda acc: acc.best)
    return (
        tokd.select(
            "doc_id",
            best.alias("top_cnt"),
            F.size(sh).cast("bigint").alias("total"),
        )
        .select(
            "doc_id",
            "top_cnt",
            "total",
            (F.col("top_cnt").cast("double") / F.col("total")).alias("rep_ratio"),
        )
    )


@query(
    "q_stratified_sample",
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_total, TRUE AS kept_ok
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified downsampling (§2.10): halve 'en', keep
    everything else. The kept-set is a pure function of (doc_id, seed) —
    identical on any partitioning or cluster size (tests/test_sampling.py
    proves the properties) — but hash-keyed, so no SQL oracle can replay
    WHICH rows survive. The REGISTERED query therefore returns per-lang
    totals (oracle-recomputed) plus a binomial-bound boolean: undersampled
    strata keep a count within 4σ of fraction·n (en: measured 1.1σ off at
    sf0.01, 2.1σ at sf0.001), full strata keep exactly n."""
    from polars_express_spark.operators.sampling import stratified_sample

    d = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        d, "lang", {"en": 0.5}, key_cols=["doc_id"], default_fraction=1.0
    )
    kept = out.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))
    totals = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    tol = F.lit(4) * F.sqrt(F.lit(0.25) * F.col("n_total")) + F.lit(2)
    # a stratum whose rows were ALL dropped has no kept row — that is
    # n_kept = 0, not a failure (the bound itself decides)
    n_kept = F.coalesce("n_kept", F.lit(0))
    kept_ok = F.when(
        F.col("lang") == "en",
        F.abs(n_kept - F.lit(0.5) * F.col("n_total")) <= tol,
    ).otherwise(n_kept == F.col("n_total"))
    # eqNullSafe: the sampler keeps NULL strata whole via null-safe
    # semantics, so the invariant join must match them too — a plain
    # equi-join would report kept_ok=false for a NULL lang (ADVICE r5)
    kept = kept.withColumnRenamed("lang", "__k_lang")
    return (
        totals.join(kept, F.col("lang").eqNullSafe(F.col("__k_lang")), "left")
        .select("lang", "n_total", kept_ok.alias("kept_ok"))
    )


def connected_components(
    edges,
    a: str = "a_id",
    b: str = "b_id",
    max_iters: int = 25,
    driver_threshold: int = 1_000_000,
):
    """Connected components over an undirected edge list: every node's
    label converges to the smallest doc_id reachable from it — the
    canonical cluster id.

    Two-regime design, picked by ONE cheap count on the (typically
    already-cached) edge frame:

    - |E| ≤ driver_threshold → UNION-FIND ON THE DRIVER. The candidate
      graph is the OUTPUT of aggressive distributed pruning (df-capped
      shingles + count-prune + exact verify) — orders of magnitude
      smaller than the corpus, megabytes at the default threshold. Same
      boundary class as the kilobyte centroid collect in similarity.py;
      path-compressed union-find is O(|E| α) and avoids paying a
      multi-job Spark round per propagation step for a graph that fits
      in one hand.
    - |E| > driver_threshold → distributed min-label propagation WITH
      POINTER JUMPING: one round = (1) neighbor-min — an edge⋈label
      equi-join plus a groupBy-min (partial→final combine), both on the
      node key — and (2) label ← min(label, label[label]) — one more
      node-keyed self-join. The jump doubles the distance a minimum has
      travelled each round, so rounds = O(log diameter), not diameter:
      a 10⁶-long adversarial chain converges in ~20 rounds where plain
      propagation needs 10⁶ (near-dup quasi-cliques still finish in
      2-3). Labels only ever decrease and always name a reachable node,
      so the fixpoint is exactly the per-component minimum. Lineage is
      truncated each round with localCheckpoint — without it the
      iterated plan grows superlinearly and re-optimizes from scratch
      every round. If the loop still hits max_iters with labels
      changing (needs diameter > 2^max_iters) it RAISES rather than
      returning silently wrong clusters.

    Both regimes produce identical output (unit-compared in
    tests/test_pipeline_ops.py).
    """
    # ONE action decides the regime AND fetches the edges when small:
    # collect at most threshold+1 narrow (a, b) rows — if the limit was
    # not hit, these are exactly the edge list.
    rows = edges.select(a, b).limit(driver_threshold + 1).collect()
    if len(rows) <= driver_threshold:
        id_type = dict(edges.dtypes)[a]
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            ra, rb = find(r[a]), find(r[b])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {r[a] for r in rows} | {r[b] for r in rows}
        spark = edges.sparkSession
        # Ship the label table back through Arrow (pandas → JVM
        # LocalTableScan): createDataFrame on a plain Python list builds
        # a pickled Python RDD whose every downstream task forks a Python
        # worker — ~6s of pure overhead for a 47-row table; the Arrow
        # local relation is a single JVM literal, no tasks at all.
        import pandas as pd

        srt = sorted(nodes)
        pdf = pd.DataFrame(
            {"doc_id": srt, "cluster_id": [find(n) for n in srt]},
            dtype=object if id_type == "string" else None,
        )
        return spark.createDataFrame(pdf, f"doc_id {id_type}, cluster_id {id_type}")
    sym = edges.select(F.col(a).alias("src"), F.col(b).alias("dst")).union(
        edges.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )
    labels = (
        sym.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
        .localCheckpoint()
    )
    converged = False
    changed: int | None = None  # stays None iff max_iters < 1 (ADVICE r5)
    for _ in range(max_iters):
        msgs = sym.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "label")
        prop = (
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: a node's label is always the id of a node in its
        # own component, so label-of-label is too — taking the min keeps
        # labels in-component and monotone decreasing while doubling how
        # far the component minimum has propagated.
        parents = prop.select(
            F.col("node").alias("label"), F.col("label").alias("plabel")
        )
        new_labels = (
            prop.join(parents, "label", "left")
            .select(
                "node",
                F.least("label", F.coalesce("plabel", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.withColumnRenamed("label", "new_label")
            .join(labels, "node")
            .where(F.col("new_label") != F.col("label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # A graph whose effective diameter exceeds max_iters would
        # otherwise exit with silently WRONG labels (VERDICT r3 #1).
        # Near-dup components are quasi-cliques (diameter 1-3), so a
        # trip here means the input is not a dedup graph — fail loudly;
        # the caller can raise max_iters or pre-contract long chains
        # (alternating large-star/small-star, O(log n) rounds).
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({'no rounds ran' if changed is None else f'{changed} labels still changing'}); "
            "raise max_iters for long-chain graphs"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


@query(
    "q_neardup_clusters",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTES},
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs
    ),
    reach(node, root) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, MIN(root) AS cluster_id
    FROM reach GROUP BY node ORDER BY doc_id
    """,
)
def q_neardup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS (§2.10, the stage after pair generation): the
    q_ngram_jaccard pair graph collapsed to connected components, so a
    chain a~b~c dedups as ONE group even when (a, c) never met the
    pairwise threshold. Reuses the memoized pair frame (one candidate
    pipeline run serves jaccard, lev-verify, clustering, and canonical
    dedup). Oracle: DuckDB recursive-CTE reachability — min reachable
    node = component id, the same fixpoint the propagation computes."""
    return connected_components(_jaccard_pairs_shared(spark, sf_dir))


@query(
    "q_dedup_canonical",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTES},
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs
    ),
    reach(node, root) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(root) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node != cluster_id)
    ORDER BY d.doc_id
    """,
)
def q_dedup_canonical(spark, sf_dir):
    """Canonical-survivor dedup (§2.10 end-to-end): keep every document
    that is either untouched by the near-dup graph or the minimum-id
    member of its cluster — the keep-list a training-data pipeline feeds
    downstream. Anti-join of the corpus against non-canonical cluster
    members; at scale the survivor list is exactly the broadcast-able
    side."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cc = connected_components(_jaccard_pairs_shared(spark, sf_dir))
    dropped = cc.where(F.col("cluster_id") != F.col("doc_id")).select("doc_id")
    return docs.join(dropped, "doc_id", "left_anti")


@query(
    "q_decontaminate",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    bench AS (SELECT doc_id FROM documents WHERE doc_id % 20 = 0),
    bsh AS (SELECT DISTINCT s FROM sh JOIN bench USING (doc_id)),
    contaminated AS (
      SELECT DISTINCT sh.doc_id FROM sh JOIN bsh USING (s)
      WHERE sh.doc_id NOT IN (SELECT doc_id FROM bench)
    )
    SELECT d.lang AS lang, CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN d.doc_id % 20 = 0 THEN 0
                         WHEN c.doc_id IS NOT NULL THEN 0
                         ELSE 1 END) AS BIGINT) AS n_clean
    FROM documents d LEFT JOIN contaminated c ON c.doc_id = d.doc_id
    GROUP BY d.lang ORDER BY d.lang
    """,
)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (§2.10, training-data hygiene): drop
    every corpus document sharing ANY word 3-shingle with a held-out
    benchmark set (here: doc_id % 20 == 0 stands in for the eval set),
    the standard n-gram-overlap test-set-leakage filter run before
    pre-training. Output: per-lang corpus totals and clean-survivor
    counts (benchmark members themselves are not corpus survivors).

    Scale shape: the benchmark side is TINY relative to the corpus, so
    its distinct shingle set is the BROADCAST side of the contamination
    probe — the corpus-side exploded shingles stream past it map-side
    with no shuffle of the corpus; survivors come from one anti-join on
    doc_id. Shingles reuse the session-shared materialized frame (one
    InMemoryRelation serves jaccard, minhash, and decontamination).
    """
    d = load_table(spark, sf_dir, "documents")
    sh_arr = _shingle_arrays_shared(spark, sf_dir)
    is_bench = F.col("doc_id") % 20 == 0
    clean, _ = contamination_split(d, is_bench, sh_arr=sh_arr)
    clean_counts = clean.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clean")
    )
    totals = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        totals.join(clean_counts, "lang", "left")
        .select("lang", "n_total", F.coalesce("n_clean", F.lit(0)).alias("n_clean"))
    )


def contamination_split(d, is_bench, n: int = 3, sh_arr=None):
    """(clean, contaminated) split of the NON-benchmark corpus: a doc is
    contaminated iff it shares ≥1 word n-shingle with any benchmark doc
    (`is_bench` is a boolean Column over d's rows — ANY of d's columns,
    not just doc_id: it is resolved against d and carried to the
    shingle frame as a doc_id set). Exposed for reuse and for the
    property test against a pure-Python reference
    (tests/test_property.py); q_decontaminate is the oracled rollup.

    clean keeps all of d's columns; contaminated is a (doc_id) frame.
    The benchmark id set and its shingle set are the broadcast sides —
    the corpus never shuffles for the probe."""
    if sh_arr is None:
        sh_arr = _shingle_arrays(d, n)
    sh = sh_arr.select("doc_id", F.explode("sh").alias("s"))
    bench_ids = d.where(is_bench).select("doc_id")
    bench_sh = (
        sh.join(F.broadcast(bench_ids), "doc_id", "left_semi").select("s").distinct()
    )
    contaminated = (
        sh.join(F.broadcast(bench_ids), "doc_id", "left_anti")
        .join(F.broadcast(bench_sh), "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = d.where(~is_bench).join(contaminated, "doc_id", "left_anti")
    return clean, contaminated


# heavy-hitter truth threshold: tokens with count·K > total. The sketch
# support is DERIVED (0.9/K, strictly below 1/K) so freqItems' no-false-
# negative guarantee always covers the truth set even if K changes.
_HH_K = 50
_HH_SUPPORT = 0.9 / _HH_K


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT t.token AS t FROM documents,
             unnest(string_split_regex(text, '\\s+')) t(token)
      WHERE t.token <> ''
    ),
    cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    tot AS (SELECT count(*) AS n FROM tok)
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS total_tokens,
           CAST(count(*) AS BIGINT) AS n_true_heavy,
           TRUE AS all_found
    FROM cnt WHERE c * {_HH_K} > (SELECT n FROM tot)
    """,
)
def q_heavy_hitters(spark, sf_dir):
    """Token heavy hitters via freqItems (§2.10 sketch family, beside
    approx_count_distinct and percentile_approx): the single-pass
    misra-gries-style sketch that finds frequent vocabulary without a
    full token groupBy — at 100 TB the sketch is a fixed-size map per
    partition merged partial→final, vs a shuffle of the whole token
    vocabulary.

    Driver invariant (the sketch is approximate, but one side of it is
    guaranteed): freqItems admits false POSITIVES yet never false
    negatives, so every true heavy hitter — tokens with count·50 >
    total, exact integer comparison so Spark and DuckDB agree on
    boundaries — must appear in the sketch output. The oracle recomputes
    the exact truth-set size and total token count; all_found reports
    the containment. The sketch runs at support 0.018 < 1/50 so its
    guarantee strictly covers the truth threshold. 30 true heavy
    hitters at every tested SF — the invariant is not vacuous.
    """
    d = load_table(spark, sf_dir, "documents").repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    )
    tok = d.select(F.explode(F.split("text", r"\s+")).alias("t")).where(
        F.col("t") != ""
    )
    # the exact side is ONE token aggregate: cnt is vocab-bounded and
    # lazily checkpointed (it feeds the truth filter and, summed, the
    # total — Catalyst does not dedupe common subplans, so deriving
    # each from `tok` re-exploded the corpus per consumer; r11). The
    # sketch pass below keeps its own scan by design — comparing it
    # against the exact side is the point of the query.
    cnt = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = cnt.agg(F.sum("c").alias("total"))
    truth = cnt.crossJoin(tot).where(F.col("c") * _HH_K > F.col("total"))
    # the no-false-negative guarantee requires support strictly below the
    # truth threshold; derived, not hardcoded, so an edit to _HH_K can't
    # silently break the containment invariant (VERDICT r5 #3)
    assert _HH_SUPPORT < 1.0 / _HH_K
    sketch = tok.freqItems(["t"], _HH_SUPPORT).select(
        F.col("t_freqItems").alias("items")
    )
    # total_tokens comes from tot (always defined), not from an aggregate
    # over truth — on a flat vocabulary with zero true heavy hitters the
    # truth-side max would be NULL while the oracle still reports the
    # real token count.
    truth_stats = truth.crossJoin(F.broadcast(sketch)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_heavy"),
        F.coalesce(F.min(F.array_contains("items", F.col("t"))), F.lit(True)).alias(
            "all_found"
        ),
    )
    return tot.crossJoin(truth_stats).select(
        F.col("total").cast("bigint").alias("total_tokens"), "n_true_heavy", "all_found"
    )


@query(
    "q_domain_mix",
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_total, TRUE AS kept_ok
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q_domain_mix(spark, sf_dir):
    """Domain-mixture resampling (§2.10, the stage after per-stratum
    sampling): cap every language at a TARGET SHARE of the corpus —
    en at 25%, the rest at 18.75% each — with keep fractions computed
    from the data (min(1, share·N/n_lang)), the standard dominant-domain
    cap in pre-training mixes. Hash-keyed like every sampler here, so no
    SQL oracle can replay WHICH rows survive; the driver row reports
    per-lang totals (oracle-recomputed) plus a binomial bound: kept
    within 4σ of frac·n (σ² = frac(1-frac)n), exact equality where
    frac = 1 (under-represented langs are never upsampled)."""
    from polars_express_spark.operators.sampling import (
        mixture_keep_fractions,
        mixture_sample,
    )

    d = load_table(spark, sf_dir, "documents")
    shares = {"en": 0.25, "de": 0.1875, "es": 0.1875, "fr": 0.1875, "zh": 0.1875}
    out = mixture_sample(d, "lang", shares, key_cols=["doc_id"])
    kept = out.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))
    # the bound evaluates the SAME fraction table the sampler filtered
    # with (mixture_keep_fractions) — no copy-pasted formula to drift
    fr = mixture_keep_fractions(d, "lang", shares).select(
        "lang",
        F.col("__n_stratum").cast("bigint").alias("n_total"),
        F.col("__frac").alias("frac"),
    )
    # a stratum whose rows were ALL dropped has no kept row — that is
    # n_kept = 0, not a failure (the bound itself decides)
    n_kept = F.coalesce("n_kept", F.lit(0))
    frac = F.col("frac")
    tol = F.lit(4) * F.sqrt(frac * (F.lit(1.0) - frac) * F.col("n_total")) + F.lit(2)
    kept_ok = F.abs(n_kept - frac * F.col("n_total")) <= tol
    # eqNullSafe for the same reason as q_stratified_sample: NULL strata
    # are kept whole by mixture_sample and must match here (ADVICE r5)
    kept = kept.withColumnRenamed("lang", "__k_lang")
    return (
        fr.join(kept, F.col("lang").eqNullSafe(F.col("__k_lang")), "left")
        .select("lang", "n_total", kept_ok.alias("kept_ok"))
    )


_PAGERANK_ITERS = 5
_PAGERANK_DAMPING = 0.85


def _pagerank_oracle() -> str:
    """Unrolled k-iteration PageRank replay over the shared jaccard pair
    graph. Constants are emitted via repr() so both engines parse the
    EXACT same doubles (1.0-0.85 is not the double 0.15); contributions
    go through decimal(38,12) sums on both sides, so per-node ranks
    match to the bit and the driver hash-compares raw rank values."""
    b = repr(1.0 - _PAGERANK_DAMPING)
    d = repr(_PAGERANK_DAMPING)
    parts = [
        f"WITH RECURSIVE {_JACCARD_PAIRS_CTES},",
        "sym AS (SELECT a_id AS src, b_id AS dst FROM pairs",
        "        UNION ALL SELECT b_id, a_id FROM pairs),",
        "deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src),",
        "pr0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg)",
    ]
    for k in range(1, _PAGERANK_ITERS + 1):
        parts.append(
            f""", pr{k} AS (
      SELECT e.dst AS node,
             CAST({b} AS DOUBLE) + CAST({d} AS DOUBLE) *
               CAST(SUM(CAST(p.rank / dd.d AS DECIMAL(38,12))) AS DOUBLE) AS rank
      FROM sym e
      JOIN pr{k - 1} p ON p.node = e.src
      JOIN deg dd ON dd.src = e.src
      GROUP BY e.dst)"""
        )
    parts.append(
        f" SELECT node AS doc_id, rank FROM pr{_PAGERANK_ITERS} ORDER BY doc_id"
    )
    return "\n".join(parts)


@query("q_pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark, sf_dir):
    """PageRank centrality over the near-dup pair graph (§2.10 iterative
    family beside connected components): the document-quality prior a
    web-scale curation pipeline computes over link graphs. Fixed
    5-round synchronous iteration; decimal-exact neighbor sums make
    per-node ranks bit-identical to the oracle's unrolled-CTE replay —
    a full value hash-match, not just a convergence invariant. Reuses
    the memoized pair frame (one candidate pipeline run serves jaccard,
    clustering, canonical dedup, and centrality)."""
    from polars_express_spark.operators.graph import pagerank

    ranks = pagerank(
        _jaccard_pairs_shared(spark, sf_dir),
        iters=_PAGERANK_ITERS,
        damping=_PAGERANK_DAMPING,
    )
    return ranks.select(F.col("node").alias("doc_id"), "rank")


@query(
    "q_triangles",
    oracle=f"""
    WITH {_JACCARD_PAIRS_CTES},
    sym AS (SELECT a_id AS x, b_id AS y FROM pairs
            UNION ALL SELECT b_id, a_id FROM pairs),
    deg AS (SELECT x, count(*) AS d FROM sym GROUP BY x),
    tri AS (
      SELECT count(*) AS n_triangles FROM pairs e1
      JOIN pairs e2 ON e2.a_id = e1.a_id AND e2.b_id > e1.b_id
      JOIN pairs e3 ON e3.a_id = e1.b_id AND e3.b_id = e2.b_id
    ),
    ne AS (SELECT count(*) AS n_edges FROM pairs),
    nw AS (SELECT COALESCE(CAST(SUM(CAST(d * (d - 1) / 2 AS BIGINT)) AS BIGINT), 0)
                  AS n_wedges FROM deg)
    SELECT CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CASE WHEN n_wedges > 0 THEN 3.0 * n_triangles / n_wedges
           END AS clustering_coeff
    FROM ne, nw, tri
    """,
)
def q_triangles(spark, sf_dir):
    """Triangle census + global clustering coefficient over the
    near-dup pair graph (§2.10 iterative family, beside connected
    components and PageRank): the cohesion signal that separates tight
    duplicate cliques from chainy false-positive clusters. Runs the
    degree-oriented distributed triangle join (out-degree ≤ √(2|E|)
    even under hub skew — see operators/graph.py:triangle_stats); the
    oracle replays the census with id-oriented self-joins, which count
    the same triangles. Reuses the memoized pair frame."""
    from polars_express_spark.operators.graph import triangle_stats

    return triangle_stats(_jaccard_pairs_shared(spark, sf_dir))


_KCORE_K = 2
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    """Unrolled peel replay: _KCORE_ROUNDS rounds of drop-degree-<k.
    Peeling is monotone, so once the Spark side reaches its fixpoint
    (it RAISES otherwise) any extra oracle rounds are no-ops and both
    sides name the same core."""
    parts = [
        f"WITH {_JACCARD_PAIRS_CTES},",
        "e0 AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM pairs"
        " UNION ALL SELECT b_id, a_id FROM pairs)",
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""", d{r} AS (SELECT src, count(*) AS d FROM e{r - 1} GROUP BY src),
    k{r} AS MATERIALIZED (SELECT src FROM d{r} WHERE d >= {_KCORE_K}),
    e{r} AS MATERIALIZED (SELECT e.src, e.dst FROM e{r - 1} e
             JOIN k{r} x ON x.src = e.src JOIN k{r} y ON y.src = e.dst)"""
        )
    parts.append(
        f""" SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
    FROM e{_KCORE_ROUNDS} GROUP BY src ORDER BY node"""
    )
    return "\n".join(parts)


@query("q_kcore", oracle=_kcore_oracle())
def q_kcore(spark, sf_dir):
    """k-core (k=2) of the near-dup pair graph (§2.10 iterative family
    beside connected components / pagerank / triangles): iterative
    peeling keeps only nodes that stay in cycles of mutual similarity —
    the cohesion filter that separates genuine duplicate cliques from
    pendant chains, which propagation-based clustering happily glues
    together. Each round is one degree aggregate + two semi-joins with
    per-round lineage truncation; non-convergence raises. Reuses the
    memoized pair frame (one candidate run serves six graph/dedup
    queries); the oracle replays the peel as an unrolled CTE."""
    from polars_express_spark.operators.graph import kcore

    return kcore(
        _jaccard_pairs_shared(spark, sf_dir), k=_KCORE_K, max_rounds=_KCORE_ROUNDS
    )


@query(
    "q_e2e_curation",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    toked AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    q AS (  -- stage 1: quality floor
      SELECT doc_id, lang, len(tk) AS n_tokens,
             array_to_string(list_sort(list_distinct(tk)), ' ') AS fp
      FROM toked WHERE len(tk) >= 30
    ),
    dd AS (  -- stage 2: bag-of-words fingerprint dedup, min-id survivor
      SELECT doc_id, lang, n_tokens,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM q
    ),
    bench AS (SELECT doc_id FROM documents WHERE doc_id % 20 = 0),
    bsh AS (SELECT DISTINCT s FROM sh JOIN bench USING (doc_id)),
    contaminated AS (
      SELECT DISTINCT sh.doc_id FROM sh JOIN bsh USING (s)
      WHERE sh.doc_id NOT IN (SELECT doc_id FROM bench)
    ),
    survivors AS (  -- stage 3: drop bench members + leaked docs
      SELECT doc_id, lang, n_tokens FROM dd
      WHERE rn = 1
        AND doc_id NOT IN (SELECT doc_id FROM bench)
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT lang,  -- stage 4: deterministic split + rollup
           CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'val' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM survivors GROUP BY 1, 2 ORDER BY lang, split
    """,
)
def q_e2e_curation(spark, sf_dir):
    """END-TO-END curation pipeline (§2.10 capstone): quality floor →
    bag-of-words fingerprint dedup → benchmark decontamination →
    deterministic train/val split → per-(lang, split) rollup, composed
    as ONE declarative DAG whose every stage the oracle replays — the
    "a user runs their whole pipeline on this engine" demonstration,
    not a new operator.

    Stage shapes (each is the already-proven scale pattern): quality is
    a scan-side filter; dedup is a window over the fingerprint hash key
    (one shuffle, min-id survivor — at 100 TB group on xxhash64(fp),
    not the string); decontamination broadcasts the benchmark shingle
    set from the session-shared materialized frame (the corpus never
    shuffles for the probe); the split is a pure row expression; the
    rollup is one partial→final aggregate. Catalyst pipelines the
    filter+split+rollup into the dedup shuffle's map side."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    toked = d.select("doc_id", "lang", toks.alias("tk"))
    q = toked.where(F.size("tk") >= 30).select(
        "doc_id",
        "lang",
        F.size("tk").alias("n_tokens"),
        F.concat_ws(" ", F.array_sort(F.array_distinct("tk"))).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    dd = q.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)

    sh = _shingle_arrays_shared(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("s")
    )
    bench_ids = d.where(F.col("doc_id") % 20 == 0).select("doc_id")
    bench_sh = (
        sh.join(F.broadcast(bench_ids), "doc_id", "left_semi").select("s").distinct()
    )
    contaminated = (
        sh.join(F.broadcast(bench_ids), "doc_id", "left_anti")
        .join(F.broadcast(bench_sh), "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    survivors = (
        dd.join(F.broadcast(bench_ids), "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
    )
    return (
        survivors.select(
            "lang",
            F.when(F.col("doc_id") % 10 < 8, F.lit("train"))
            .otherwise(F.lit("val"))
            .alias("split"),
            "n_tokens",
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


_PSEUDO_SALT = "salt-v1:"  # rotate the salt to rotate the token space


@query(
    "q_pseudonymize",
    oracle=f"""
    WITH tok AS (
      SELECT sha256('{_PSEUDO_SALT}' || CAST(user_id AS VARCHAR)) AS token,
             user_id
      FROM events WHERE user_id IS NOT NULL
    ),
    dim AS (
      SELECT DISTINCT sha256('{_PSEUDO_SALT}' || CAST(user_id AS VARCHAR)) AS token,
             user_id % 5 AS region
      FROM events WHERE user_id IS NOT NULL
    )
    SELECT d.region,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT t.token) AS BIGINT) AS n_tokens
    FROM tok t JOIN dim d USING (token)
    GROUP BY d.region ORDER BY d.region
    """,
)
def q_pseudonymize(spark, sf_dir):
    """Deterministic PII pseudonymization (§2.10 privacy family, beside
    q_redact_pii's destructive redaction): user ids become salted
    SHA-256 tokens — irreversible without the salt, yet DETERMINISTIC,
    so referential integrity survives: the tokenized fact stream still
    joins the tokenized dimension on the token alone, which is the
    property that lets a privacy-scrubbed 100 TB corpus keep its join
    graph. The query proves it end-to-end: events and a derived user
    dimension are tokenized independently, joined ONLY on the token,
    and the per-region rollup hash-matches the oracle's replay (both
    engines compute identical SHA-256 hex). Pure JVM expressions;
    the join key is the 64-char token — at scale, group on
    xxhash64(token) to keep shuffle keys narrow."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    token = F.sha2(
        F.concat(F.lit(_PSEUDO_SALT), F.col("user_id").cast("string")), 256
    )
    tok = e.select(token.alias("token"))
    dim = e.select(
        token.alias("token"), (F.col("user_id") % 5).alias("region")
    ).distinct()
    return (
        tok.join(F.broadcast(dim), "token")
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("token").cast("bigint").alias("n_tokens"),
        )
    )


_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    """Unrolled synchronous label propagation over the pair graph:
    per round each node adopts the most frequent neighbor label, ties
    broken by the smaller label — fully deterministic, so the per-
    community rollup is a value hash, not an invariant."""
    parts = [f"""
    WITH {_JACCARD_PAIRS_CTES},
    sym AS (SELECT a_id AS x, b_id AS y FROM pairs
            UNION ALL SELECT b_id, a_id FROM pairs),
    l0 AS (SELECT DISTINCT x AS node, x AS label FROM sym)"""]
    for r in range(1, _LPA_ROUNDS + 1):
        parts.append(f""",
    c{r} AS (
      SELECT s.y AS node, l.label, count(*) AS cnt
      FROM sym s JOIN l{r-1} l ON l.node = s.x
      GROUP BY 1, 2
    ),
    l{r} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
        FROM c{r}
      ) WHERE rn = 1
    )""")
    parts.append(f"""
    SELECT label AS community,
           CAST(count(*) AS BIGINT) AS n_members,
           min(node) AS min_member
    FROM l{_LPA_ROUNDS} GROUP BY label ORDER BY community""")
    return "".join(parts)


@query("q_lpa_communities", oracle=_lpa_oracle())
def q_lpa_communities(spark, sf_dir):
    """Label-propagation community detection (§2.10 graph family —
    the soft-clustering sibling of connected components: CC merges
    everything reachable, LPA splits dense regions joined by thin
    bridges): {k} fixed synchronous rounds, each one shuffle — edges
    join the label table (messages), a (node, label) count aggregate,
    and a per-node argmax window with (count DESC, label ASC)
    tie-break, which makes the whole run DETERMINISTIC and therefore
    full-value-hash oracle-able (randomized LPA variants are not).
    Reuses the memoized near-dup pair frame. localCheckpoint per round
    keeps plans flat; at 100 TB rounds are the same edge-partitioned
    shuffles as PageRank's."""
    from pyspark.sql import Window

    pairs = _jaccard_pairs_shared(spark, sf_dir)
    sym = pairs.select(F.col("a_id").alias("x"), F.col("b_id").alias("y")).union(
        pairs.select(F.col("b_id").alias("x"), F.col("a_id").alias("y"))
    )
    labels = (
        sym.select("x").distinct()
        .select(F.col("x").alias("node"), F.col("x").alias("label"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), F.col("label"))
    for _ in range(_LPA_ROUNDS):
        msgs = sym.join(
            labels.withColumnRenamed("node", "x"), "x"
        ).select(F.col("y").alias("node"), "label")
        labels = (
            msgs.groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=False)
        )
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("node").alias("min_member"),
        )
        .select(F.col("label").alias("community"), "n_members", "min_member")
    )


# URL canonicalization: the synthetic corpus has no URL column, so the
# raw URLs are CONSTRUCTED deterministically from doc fields (same
# literals both engines, like the NFC suffixes) — the canonicalization
# chain itself is the demonstrated capability.
_URL_CASES = [
    "HTTPS://Example.COM:443/A//B{d}?utm_source=x&b=2&a=1#sec",
    "http://WWW.Test.ORG:80/path{d}/?z=9&utm_campaign=c&y=1",
    "https://cdn.Site.net/img//x{d}.png#frag",
    "http://plain.io/a{d}",
]


@query(
    "q_url_canonical",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'HTTPS://Example.COM:443/A//B' || CAST(doc_id AS VARCHAR) || '?utm_source=x&b=2&a=1#sec'
               WHEN 1 THEN 'http://WWW.Test.ORG:80/path' || CAST(doc_id AS VARCHAR) || '/?z=9&utm_campaign=c&y=1'
               WHEN 2 THEN 'https://cdn.Site.net/img//x' || CAST(doc_id AS VARCHAR) || '.png#frag'
               ELSE 'http://plain.io/a' || CAST(doc_id AS VARCHAR)
             END AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '(?i)^(https?)://', 1)) AS scheme,
             regexp_replace(lower(regexp_extract(url, '(?i)^https?://([^/:?#]+)', 1)),
                            '^www\\.', '') AS host,
             regexp_extract(url, '(?i)^https?://[^/?#]*:([0-9]+)', 1) AS port,
             regexp_extract(url, '(?i)^https?://[^/?#]*(?::[0-9]+)?([^?#]*)', 1) AS path0,
             regexp_extract(url, '\\?([^#]*)', 1) AS query0
      FROM raw
    ),
    norm AS (
      SELECT doc_id, url, scheme, host,
             CASE WHEN port IN ('', '80', '443') THEN '' ELSE ':' || port END AS portp,
             CASE WHEN regexp_replace(regexp_replace(path0, '/{{2,}}', '/', 'g'),
                                      '/$', '') = ''
                  THEN '/'
                  ELSE regexp_replace(regexp_replace(path0, '/{{2,}}', '/', 'g'),
                                      '/$', '') END AS path,
             COALESCE(array_to_string(
               list_sort(list_filter(
                 string_split(regexp_replace(query0, '(^|&)utm_[^&]*', '', 'g'), '&'),
                 x -> x <> '')), '&'), '') AS q
      FROM parts
    )
    SELECT doc_id, url,
           scheme || '://' || host || portp || path ||
           CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical
    FROM norm ORDER BY doc_id
    """,
)
def q_url_canonical(spark, sf_dir):
    """URL canonicalization (§2.10 web-corpus family — the normalize
    step before URL-keyed dedup of a crawled corpus, per the standard
    rules: lowercase scheme+host, strip www. and default ports,
    collapse duplicate slashes, drop trailing slash and fragment,
    remove utm_* tracking params, SORT the remaining query params):
    every rule is a regex/array expression evaluated identically by
    Java regex and RE2 (case-insensitivity via inline (?i), explicit
    'g' on the DuckDB side where Spark replaces all by default), so the
    full canonical-URL column value-hashes. Zero shuffles — a pure map
    over the scan; at 100 TB this pipelines into the URL-dedup groupBy
    that follows it."""
    d = load_table(spark, sf_dir, "documents")
    case = (F.col("doc_id") % 4).cast("int")
    did = F.col("doc_id").cast("string")
    url = (
        F.when(case == 0, F.concat(F.lit("HTTPS://Example.COM:443/A//B"), did,
                                   F.lit("?utm_source=x&b=2&a=1#sec")))
        .when(case == 1, F.concat(F.lit("http://WWW.Test.ORG:80/path"), did,
                                  F.lit("/?z=9&utm_campaign=c&y=1")))
        .when(case == 2, F.concat(F.lit("https://cdn.Site.net/img//x"), did,
                                  F.lit(".png#frag")))
        .otherwise(F.concat(F.lit("http://plain.io/a"), did))
    )
    raw = d.select("doc_id", url.alias("url"))
    u = F.col("url")
    scheme = F.lower(F.regexp_extract(u, r"(?i)^(https?)://", 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(u, r"(?i)^https?://([^/:?#]+)", 1)), r"^www\.", ""
    )
    port = F.regexp_extract(u, r"(?i)^https?://[^/?#]*:([0-9]+)", 1)
    portp = F.when(port.isin("", "80", "443"), F.lit("")).otherwise(
        F.concat(F.lit(":"), port)
    )
    path0 = F.regexp_extract(u, r"(?i)^https?://[^/?#]*(?::[0-9]+)?([^?#]*)", 1)
    path1 = F.regexp_replace(F.regexp_replace(path0, r"/{2,}", "/"), r"/$", "")
    path = F.when(path1 == "", F.lit("/")).otherwise(path1)
    query0 = F.regexp_extract(u, r"\?([^#]*)", 1)
    q = F.concat_ws(
        "&",
        F.array_sort(
            F.filter(
                F.split(F.regexp_replace(query0, r"(^|&)utm_[^&]*", ""), "&"),
                lambda x: x != "",
            )
        ),
    )
    canonical = F.concat(
        scheme, F.lit("://"), host, portp, path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return raw.select("doc_id", "url", canonical.alias("canonical"))
