"""Training-encode corpus: vocab tokenize-to-ids, broadcast linear-model
scoring, and hierarchy resolution via pointer doubling (SURVEY.md §2
extensions — the encode/score stages a training-data pipeline runs after
filtering/dedup, plus the recursive-lineage shape the reference's linked
polars surface has no distributed answer for).

Scale shapes: the vocab and model weights are kilobyte frames broadcast
to every executor (the corpus never shuffles to meet them); hierarchy
resolution is O(log depth) self-joins, never a driver-side walk.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.queries.registry import query

_VOCAB_V = 64  # top-V tokens kept; everything else encodes to UNK=0
_ENC_MAXLEN = 32  # encode the first N token positions per document

# DuckDB twin of the shared tokenizer: non-empty whitespace tokens with
# their 0-based positions (Spark side: posexplode of the filtered split).
_SQL_TOK_CTE = """
    tok AS (
      SELECT doc_id, CAST(u[2] AS BIGINT) - 1 AS pos, u[1] AS tok
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS ts
            FROM documents),
           UNNEST(list_zip(ts, range(1, len(ts) + 1))) AS z(u)
    )
"""


def _tokens_with_pos(d):
    """(doc_id, pos, tok): non-empty whitespace tokens, 0-based pos."""
    return d.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
        ).alias("pos", "tok"),
    )


@query(
    "q_tokenize_ids",
    oracle=f"""
    WITH {_SQL_TOK_CTE},
    vc AS (
      SELECT tok, count(*) AS cnt FROM tok
      GROUP BY tok ORDER BY cnt DESC, tok ASC LIMIT {_VOCAB_V}
    ),
    vocab AS (
      SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS vid
      FROM vc
    ),
    enc AS (
      SELECT t.doc_id, t.pos, COALESCE(v.vid, 0) AS vid
      FROM tok t LEFT JOIN vocab v USING (tok)
      WHERE t.pos < {_ENC_MAXLEN}
    )
    SELECT doc_id,
           array_to_string(list(vid ORDER BY pos), ',') AS ids,
           CAST(len(list(vid)) AS BIGINT) AS n_enc,
           CAST(len(list_filter(list(vid), x -> x = 0)) AS BIGINT) AS n_oov
    FROM enc GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_tokenize_ids(spark, sf_dir):
    """Tokenize-to-ids (§2.10 training encode): build a frequency vocab
    (top-{V} token types, id = dense rank by count DESC then token ASC,
    OOV → 0), then encode each document's first {N} token positions as
    an id array — the map-style encode every training pipeline runs
    before packing. The vocab is an aggregate-then-limit kilobyte frame
    BROADCAST to the token stream (the corpus shuffles once for the
    vocab count and once for the per-doc reassembly; the encode join
    itself is map-side), which is the 100 TB shape: the vocabulary is
    always tiny relative to the corpus. The row_number window runs on
    the {V}-row limited frame, not the corpus — single-partition by
    construction and intentionally so."""
    d = load_table(spark, sf_dir, "documents")
    tok = _tokens_with_pos(d)
    vc = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(_VOCAB_V)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    vocab = vc.select("tok", F.row_number().over(w).cast("long").alias("vid"))
    enc = (
        tok.where(F.col("pos") < _ENC_MAXLEN)
        .join(F.broadcast(vocab), "tok", "left")
        .select("doc_id", "pos", F.coalesce("vid", F.lit(0)).alias("vid"))
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "vid"))),
                lambda s: s.vid,
            ).alias("ids")
        )
        .select(
            "doc_id",
            # Stringified (comma-joined) rather than array<bigint>: the
            # driver's pandas canonicalizer cannot sort/hash container
            # cells (unhashable list), and this is the registry's only
            # container-typed output — the CSV form is the contract.
            F.array_join("ids", ",").alias("ids"),
            F.size("ids").cast("bigint").alias("n_enc"),
            F.size(F.filter("ids", lambda x: x == 0)).cast("bigint").alias("n_oov"),
        )
    )


# Linear quality model: every weight is an exact multiple of 1/64, so
# per-document weight sums are EXACT in double arithmetic regardless of
# partition/add order (binary fractions; magnitudes far below 2^53) —
# no decimal detour needed for cross-engine hash stability.
_MODEL_BIAS = -0.75
_MODEL_W = [
    ("the", -0.265625), ("a", -0.21875), ("value", 0.15625),
    ("table", 0.203125), ("key", 0.171875), ("hash", 0.234375),
    ("scan", 0.140625), ("merge", 0.1875), ("sort", 0.125),
    ("window", 0.109375), ("slow", -0.328125), ("fast", 0.296875),
    ("batch", 0.078125), ("spark", 0.3125), ("line", -0.046875),
    ("row", 0.0625), ("agg", 0.09375), ("part", -0.03125),
]


@query(
    "q_classifier_score",
    oracle=f"""
    WITH {_SQL_TOK_CTE},
    w(tok, wt) AS (
      VALUES {", ".join(f"('{t}', {v})" for t, v in _MODEL_W)}
    ),
    hits AS (
      SELECT t.doc_id, w.wt FROM tok t JOIN w USING (tok)
    ),
    scored AS (
      SELECT d.doc_id,
             {_MODEL_BIAS} + COALESCE(SUM(h.wt), 0.0) AS score,
             CAST(count(h.wt) AS BIGINT) AS n_hits
      FROM documents d LEFT JOIN hits h USING (doc_id)
      GROUP BY d.doc_id
    )
    SELECT doc_id, score, n_hits, score > 0.0 AS keep
    FROM scored ORDER BY doc_id
    """,
)
def q_classifier_score(spark, sf_dir):
    """Broadcast linear-model document scoring (§2.10 quality family):
    the fastText-style keep/drop classifier of a training pipeline, run
    as pure relational algebra — explode tokens, broadcast-join the
    kilobyte weight table, one partial→final sum per document, keep =
    score > 0. At 100 TB the model rides the broadcast and the corpus
    shuffles once on doc_id (the same shuffle the pipeline's next
    per-doc stage needs anyway). Every weight is an exact multiple of
    1/64, so the double sums are order-free exact and the decision
    boundary is engine-independent — by construction, not by luck."""
    d = load_table(spark, sf_dir, "documents")
    spark_w = F.broadcast(
        spark.createDataFrame(_MODEL_W, "tok string, wt double")
    )
    hits = _tokens_with_pos(d).join(spark_w, "tok").select("doc_id", "wt")
    scored = (
        d.select("doc_id")
        .join(hits, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            (F.lit(_MODEL_BIAS) + F.coalesce(F.sum("wt"), F.lit(0.0))).alias(
                "score"
            ),
            F.count("wt").cast("bigint").alias("n_hits"),
        )
    )
    return scored.select(
        "doc_id", "score", "n_hits", (F.col("score") > 0.0).alias("keep")
    )


_HIER_ROUNDS = 5  # 2^5 = 32 doubling steps ≥ max chain length of any
# int64 key under parent(k) = k div 10 (19 decimal digits), so
# convergence is a THEOREM about the key domain, not a runtime hope —
# no convergence probe action needed, unlike general graphs
# (pipeline.connected_components raises instead, where diameter is
# data-dependent).


def resolve_roots(nodes, key: str):
    """(key, root_key, depth) for every node under the derived edge
    parent(k) = k div 10, roots = keys < 10 — by POINTER DOUBLING: each
    round joins the ancestor table to itself so every node's known
    ancestor jumps twice as far, reaching any depth ≤ 2^r in r rounds
    (5 rounds cover every int64 key). O(log depth) shuffle joins total
    vs the O(depth) sequential scans of a naive walk — the difference
    between 5 and 10^6 rounds on a chain at corpus scale.
    localCheckpoint per round keeps the plan flat (without it round r
    references 2^r scans).

    CONTRACT: the key set must be closed under parent() (k div 10 of a
    live key is live, as contiguous 1..N id ranges are) — the doubling
    join is inner, so a missing ancestor would DROP its subtree rather
    than resolve it."""
    k = F.col(key)
    # parent(k) = k div 10; roots (k < 10) point at themselves with d=0
    f = nodes.select(
        k.alias("node"),
        F.when(k < 10, k).otherwise(F.expr(f"{key} div 10")).alias("anc"),
        F.when(k < 10, F.lit(0)).otherwise(F.lit(1)).cast("long").alias("d"),
    )
    for _ in range(_HIER_ROUNDS):
        g = f.select(
            F.col("node").alias("g_node"),
            F.col("anc").alias("g_anc"),
            F.col("d").alias("g_d"),
        )
        f = (
            f.join(g, f["anc"] == g["g_node"])
            .select("node", F.col("g_anc").alias("anc"), (F.col("d") + F.col("g_d")).alias("d"))
            .localCheckpoint(eager=False)
        )
    return f.select(
        F.col("node").alias(key),
        F.col("anc").alias("root_key"),
        F.col("d").alias("depth"),
    )


@query(
    "q_hierarchy",
    oracle="""
    WITH RECURSIVE walk AS (
      SELECT p_partkey, p_partkey AS cur, CAST(0 AS BIGINT) AS depth
      FROM part
      UNION ALL
      SELECT p_partkey, cur // 10, depth + 1 FROM walk WHERE cur >= 10
    )
    SELECT p_partkey, cur AS root_key, depth
    FROM walk WHERE cur < 10 ORDER BY p_partkey
    """,
)
def q_hierarchy(spark, sf_dir):
    """Hierarchy resolution / transitive closure (§2.3 recursive-lineage
    shape — BOM explosion, org charts, reply chains): every part's root
    ancestor and depth under the derived edge parent(k) = k div 10
    (roots are keys < 10). The reference's linked polars surface has no
    recursive operator; resolve_roots above is the Spark-first answer
    (pointer doubling, O(log depth) rounds) and the recursive-CTE
    oracle is the O(depth) naive walk it beats."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    return resolve_roots(part, "p_partkey")


# Deterministic multilingual suffixes (the synthetic corpus is ASCII, so
# NFC work is injected): decomposed e+combining-acute, i+combining-
# diaeresis, the ANGSTROM SIGN (U+212B, which NFC maps to U+00C5), and a
# plain-ASCII control. The SAME Python literals are embedded in the
# oracle SQL string, so both engines normalize identical inputs.
_NFC_CASES = ["café", "naïve", "Ångström", "plain"]


@query(
    "q_unicode_norm",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             substring(text, 1, 16) || ' ' ||
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN '{_NFC_CASES[0]}' WHEN 1 THEN '{_NFC_CASES[1]}'
               WHEN 2 THEN '{_NFC_CASES[2]}' ELSE '{_NFC_CASES[3]}'
             END AS s
      FROM documents
    )
    SELECT doc_id,
           CAST(length(s) AS BIGINT) AS raw_len,
           CAST(length(nfc_normalize(s)) AS BIGINT) AS norm_len,
           nfc_normalize(s) <> s AS changed,
           nfc_normalize(s) AS normalized
    FROM raw ORDER BY doc_id
    """,
)
def q_unicode_norm(spark, sf_dir):
    """Unicode NFC normalization (§2.10 text-cleaning family): the
    canonicalization every multilingual training pipeline runs before
    dedup/fingerprinting (decomposed accents and compatibility
    codepoints otherwise defeat exact-hash dedup). Spark has no builtin
    normalizer, so this is the sanctioned Python escape hatch — an
    Arrow-batched mapInPandas over stdlib `unicodedata` (zero external
    deps, zero shuffle: a pure map stage that pipelines into whatever
    follows). The oracle replays it with DuckDB's native nfc_normalize,
    making the Python path value-hash-checked against an independent
    implementation of UAX #15 — a stronger check than a golden file."""
    import unicodedata

    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    case = F.col("doc_id") % 4
    raw = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 16),
            F.lit(" "),
            F.when(case == 0, F.lit(_NFC_CASES[0]))
            .when(case == 1, F.lit(_NFC_CASES[1]))
            .when(case == 2, F.lit(_NFC_CASES[2]))
            .otherwise(F.lit(_NFC_CASES[3])),
        ).alias("s"),
    )

    def normalize(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            norm = pdf["s"].map(lambda x: unicodedata.normalize("NFC", x))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_len": pdf["s"].str.len().astype("int64"),
                    "norm_len": norm.str.len().astype("int64"),
                    "changed": norm != pdf["s"],
                    "normalized": norm,
                }
            )

    return raw.mapInPandas(
        normalize,
        schema="doc_id long, raw_len long, norm_len long, changed boolean,"
        " normalized string",
    )


_BPE_ROUNDS = 3


def _bpe_oracle() -> str:
    """Unrolled k-round replay: per round, pair counts → (count DESC,
    pair ASC) argmax → a linear recursive-CTE walk applying the merge
    greedy-left-to-right per word (the same lookbehind fold the Spark
    side runs; see q_bpe_train for why lookbehind ≡ one-pass greedy)."""
    parts = ["""
    WITH RECURSIVE words AS (
      SELECT t.tok AS word, CAST(count(*) AS BIGINT) AS cnt
      FROM documents, unnest(string_split_regex(trim(text), '\\s+')) t(tok)
      WHERE t.tok <> '' GROUP BY t.tok
    ),
    w0 AS (SELECT word, cnt, string_split(word, '') AS arr FROM words)"""]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(f""",
    p{r} AS (
      SELECT arr[i] AS a, arr[i+1] AS b, SUM(cnt) AS pc
      FROM w{r-1}, UNNEST(range(1, len(arr))) AS t(i)
      GROUP BY 1, 2
    ),
    m{r} AS (SELECT a, b, pc FROM p{r} ORDER BY pc DESC, a, b LIMIT 1),
    app{r} AS (
      SELECT word, cnt, arr, 1 AS pos, CAST([] AS VARCHAR[]) AS out FROM w{r-1}
      UNION ALL
      SELECT app{r}.word, app{r}.cnt, app{r}.arr, pos + 1,
             CASE WHEN len(out) > 0 AND out[-1] = m{r}.a AND arr[pos] = m{r}.b
                  THEN list_append(out[1:len(out)-1], m{r}.a || m{r}.b)
                  ELSE list_append(out, arr[pos]) END
      FROM app{r}, m{r} WHERE pos <= len(arr)
    ),
    w{r} AS (SELECT word, cnt, out AS arr FROM app{r} WHERE pos = len(arr) + 1),
    s{r} AS (
      SELECT CAST(count(DISTINCT t.s) AS BIGINT) AS n_syms
      FROM w{r}, unnest(arr) t(s)
    )""")
    return "".join(parts)


def _bpe_train_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT {r} AS round, a, b, CAST(pc AS BIGINT) AS pair_count,"
        f" (SELECT n_syms FROM s{r}) AS vocab_symbols_after FROM m{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return _bpe_oracle() + f" {rows} ORDER BY round"


@query("q_bpe_train", oracle=_bpe_train_oracle())
def q_bpe_train(spark, sf_dir):
    """BPE tokenizer TRAINING, k={k} real merge rounds (§2.10 — the
    iterative argmax loop behind every production tokenizer, extending
    q_bpe_pairs' single pair-count step): each round counts adjacent
    symbol pairs weighted by word frequency (one partial→final hash
    aggregate), picks the (count DESC, pair ASC) argmax — a 1-row
    driver collect, same kilobyte boundary class as the IVF centroid
    pulls — and applies the merge to every word with a JVM aggregate()
    fold. The fold is LOOKBEHIND (merge x into out's tail when
    (tail, x) = (a, b)), which equals one-pass greedy left-to-right
    merging because a merged symbol a||b is strictly longer than a and
    so can never itself match the pair's left side in the same pass.

    Scale shape: the words frame is the token VOCABULARY (millions of
    rows at 100 TB, never the corpus); pair counting and the merge map
    are distributed; only k argmax rows and k scalar counts ever reach
    the driver. The emitted merge table (round, pair, count, symbol
    inventory after) is exactly what BPE training persists, and the
    oracle replays every round including the greedy application."""
    merges, merged_frames = _bpe_learn(spark, sf_dir)
    # one batched action for every round's post-merge symbol inventory
    # (a per-round collect would pay a full job's fixed overhead 3x)
    from functools import reduce

    sym_union = reduce(
        lambda x, y: x.union(y),
        [
            m.select(F.lit(rnd).alias("round"), F.explode("arr").alias("s"))
            for rnd, m in merged_frames
        ],
    )
    n_syms = {
        r["round"]: r["n"]
        for r in sym_union.groupBy("round")
        .agg(F.countDistinct("s").alias("n"))
        .collect()
    }
    return spark.createDataFrame(
        [(rnd, a, b, pc, int(n_syms[rnd])) for rnd, a, b, pc in merges],
        "round int, a string, b string, pair_count bigint, vocab_symbols_after bigint",
    )


# learned state per (app, sf_dir): k merge rows + each round's merged
# vocab frame (localCheckpointed). Capped like the PQ codebook cache so
# a long-lived server cycling datasets stays bounded.
_BPE_CACHE: dict[tuple, tuple] = {}
_BPE_CACHE_CAP = 8


def _bpe_learn(spark, sf_dir):
    """Run the k-round merge loop once per (session, dataset); both BPE
    queries (train emits the merge table, encode applies the final
    vocab) reuse the result — at 100 TB this is the persisted tokenizer
    artifact, not a per-query recompute."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _BPE_CACHE:
        return _BPE_CACHE[key]
    d = load_table(spark, sf_dir, "documents")
    words = (
        _tokens_with_pos(d)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(F.col("tok").alias("word"), F.split("tok", "").alias("arr"), "cnt")
        .localCheckpoint(eager=False)  # rounds re-read it; keep plans flat
    )
    out_rows = []
    merged_frames = []
    cur = words
    for rnd in range(1, _BPE_ROUNDS + 1):
        n = F.size("arr")
        pairs = (
            cur.where(n >= 2)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.slice("arr", 1, n - 1).alias("a"),
                        F.slice("arr", 2, n - 1).alias("b"),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("pc"))
        )
        top = pairs.orderBy(F.col("pc").desc(), "a", "b").limit(1).collect()
        if not top:
            # both BPE oracles unroll exactly _BPE_ROUNDS stages, and
            # q_bpe_encode indexes the final round's frame — a short run
            # would silently hash-mismatch (or IndexError), so fail loud
            raise ValueError(
                f"corpus exhausted adjacent pairs after {rnd - 1} of "
                f"{_BPE_ROUNDS} BPE rounds; lower _BPE_ROUNDS for this corpus"
            )
        a, b, pc = top[0]["a"], top[0]["b"], int(top[0]["pc"])
        ab = a + b
        merged = cur.select(
            "word",
            F.aggregate(
                "arr",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (x == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab))
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("arr"),
            "cnt",
        ).localCheckpoint(eager=False)
        out_rows.append((rnd, a, b, pc))
        merged_frames.append((rnd, merged))
        cur = merged
    while len(_BPE_CACHE) >= _BPE_CACHE_CAP:
        _BPE_CACHE.pop(next(iter(_BPE_CACHE)))
    _BPE_CACHE[key] = (out_rows, merged_frames)
    return _BPE_CACHE[key]


@query(
    "q_bpe_encode",
    oracle=_bpe_oracle() + """,
    doc_tok AS (
      SELECT doc_id, t.tok AS word
      FROM documents, unnest(string_split_regex(trim(text), '\\s+')) t(tok)
      WHERE t.tok <> ''
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(length(word)) AS BIGINT) AS n_char_syms,
           CAST(SUM(len(arr)) AS BIGINT) AS n_bpe_syms
    FROM doc_tok JOIN w""" + str(_BPE_ROUNDS) + """ USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_bpe_encode(spark, sf_dir):
    """BPE ENCODE at corpus scale (§2.10 — the apply side of
    q_bpe_train, completing the train→encode loop): segment every token
    occurrence with the learned merge table and report per-document
    symbol counts before (chars) and after (BPE symbols). The trained
    per-word segmentation is a VOCABULARY-sized frame broadcast onto
    the token stream — the corpus never re-runs the merge fold, exactly
    how a production pipeline applies a persisted tokenizer. Shares the
    learned state with q_bpe_train via the per-session cache; the
    oracle replays training AND the doc-level join."""
    merges, merged_frames = _bpe_learn(spark, sf_dir)
    final_words = merged_frames[-1][1].select(
        "word", F.size("arr").alias("n_bpe"), F.length("word").alias("n_char")
    )
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens_with_pos(d).select("doc_id", F.col("tok").alias("word"))
    return (
        toks.join(F.broadcast(final_words), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("n_char").cast("bigint").alias("n_char_syms"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe_syms"),
        )
    )


_GD_ROUNDS = 3
_GD_LR = 0.5
_GD_CACHE: dict[tuple, tuple] = {}


def _gd_oracle() -> str:
    """Unrolled k-round GD replay. Every arithmetic tree matches the
    Spark/driver side token for token (left-associated, same
    parenthesization), so the weight evolution is bit-identical — see
    operators/gradient.py for the determinism contract."""
    parts = ["""
    WITH base AS (
      SELECT CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
             CAST(l_discount AS DOUBLE) * 10.0 AS x2,
             CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_returnflag IS NOT NULL
    ),
    nr AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM base),
    w0 AS (SELECT 0.0 AS b, 0.0 AS u, 0.0 AS v)"""]
    for r in range(1, _GD_ROUNDS + 1):
        parts.append(f""",
    s{r} AS (
      SELECT y, x1, x2,
             0.5 + z / (2.0 * (1.0 + abs(z))) AS p,
             1.0 / (2.0 * (1.0 + abs(z)) * (1.0 + abs(z))) AS dp
      FROM (SELECT y, x1, x2, w.b + w.u * x1 + w.v * x2 AS z
            FROM base, w{r-1} w)
    ),
    g{r} AS (
      SELECT
        CAST(SUM(CAST(ROUND(2.0 * (p - y) * dp, 8) AS DECIMAL(38,12))) AS DOUBLE) AS gb,
        CAST(SUM(CAST(ROUND(2.0 * (p - y) * dp * x1, 8) AS DECIMAL(38,12))) AS DOUBLE) AS gu,
        CAST(SUM(CAST(ROUND(2.0 * (p - y) * dp * x2, 8) AS DECIMAL(38,12))) AS DOUBLE) AS gv
      FROM s{r}
    ),
    w{r} AS (
      SELECT w.b - {_GD_LR} * (g.gb / nr.n) AS b,
             w.u - {_GD_LR} * (g.gu / nr.n) AS u,
             w.v - {_GD_LR} * (g.gv / nr.n) AS v
      FROM w{r-1} w, g{r} g, nr
    )""")
    parts.append(f"""
    SELECT w.b AS w_bias, w.u AS w_qty, w.v AS w_disc,
           CAST(nr.n AS BIGINT) AS n_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM base, w{_GD_ROUNDS} w2
            WHERE w2.b + w2.u * x1 + w2.v * x2 > 0.0) AS n_pred_pos
    FROM w{_GD_ROUNDS} w, nr""")
    return "".join(parts)


@query("q_logreg_gd", oracle=_gd_oracle())
def q_logreg_gd(spark, sf_dir):
    """Distributed ITERATIVE model training (§2.4 ML family): 3 rounds
    of full-batch gradient descent fitting a logistic-style classifier
    (is this line item a return?) on normalized (quantity, discount) —
    the capability class beyond the closed-form OLS/normal-equation
    solvers, which end in one aggregate where real training LOOPS.
    Each round is one partial→final gradient aggregate over the corpus;
    only the 3-double gradient reaches the driver, and updated weights
    ride back as plan literals — parameter-server-free distributed GD.

    Hash-exactness (no stochastic trainer can do this): rational
    sigmoid surrogate instead of exp (bit-identical across engines),
    per-row contributions rounded to 8 dp then decimal-summed
    (order-free), weight updates in IEEE doubles with the identical
    expression tree the oracle's CTE chain computes — the final
    weights, row count, and positive-prediction count all value-hash
    against a full 3-round SQL replay (operators/gradient.py)."""
    from polars_express_spark.operators.gradient import gd_train

    cache_key = (spark.sparkContext.applicationId, sf_dir, _GD_ROUNDS, _GD_LR)
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").isNotNull()
        & F.col("l_discount").isNotNull()
        & F.col("l_returnflag").isNotNull()
    )
    base = li.select(
        (F.col("l_quantity").cast("double") / F.lit(50.0)).alias("x1"),
        (F.col("l_discount").cast("double") * F.lit(10.0)).alias("x2"),
        F.when(F.col("l_returnflag") == "R", F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    ).localCheckpoint(eager=False)  # 3 gradient passes re-read it
    # a trained model is a persisted artifact, not a per-query
    # recompute: cache the (weights, n) per session+dataset like the
    # BPE merge table (capped alongside it)
    if cache_key in _GD_CACHE:
        w, n = _GD_CACHE[cache_key]
    else:
        w, n = gd_train(base, ["x1", "x2"], "y", rounds=_GD_ROUNDS, lr=_GD_LR)
        while len(_GD_CACHE) >= _BPE_CACHE_CAP:
            _GD_CACHE.pop(next(iter(_GD_CACHE)))
        _GD_CACHE[cache_key] = (w, n)
    z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    return base.agg(
        F.sum(F.when(z > 0.0, 1).otherwise(0)).cast("bigint").alias("n_pred_pos")
    ).select(
        F.lit(w[0]).alias("w_bias"),
        F.lit(w[1]).alias("w_qty"),
        F.lit(w[2]).alias("w_disc"),
        F.lit(n).cast("bigint").alias("n_rows"),
        "n_pred_pos",
    )


@query(
    "q_lm_score",
    oracle="""
    WITH toked AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    big AS (
      SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      FROM toked, UNNEST(range(1, len(tk))) AS t(i)
    ),
    lm2 AS (
      SELECT w1, w2, count(*) AS c2 FROM big WHERE doc_id % 2 = 0 GROUP BY 1, 2
    ),
    lm1 AS (
      SELECT w1, count(*) AS c1 FROM big WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    scored AS (
      SELECT b.doc_id,
             CAST(lm2.c2 AS DOUBLE) / CAST(lm1.c1 AS DOUBLE) AS p
      FROM big b
      LEFT JOIN lm2 USING (w1, w2)
      LEFT JOIN lm1 USING (w1)
      WHERE b.doc_id % 2 = 1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(count(p) AS BIGINT) AS n_known,
           coalesce(min(p), 0.0) AS min_known_prob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_lm_score(spark, sf_dir):
    """LM-based quality filtering (§2.10 — the classic perplexity
    filter, reformulated with EXACT statistics): train a bigram LM on
    the even-id half of the corpus, score the held-out odd half. Log-
    likelihood sums need ln(), whose last ulp is libm-dependent — so
    the registered signals are the order-free exact ones a filter
    actually thresholds on: per-doc bigram count, KNOWN-transition
    count (unseen transitions = the strongest garbage signal), and the
    MINIMUM known transition probability (an exact rational c2/c1 —
    identical integer division on both engines; min is order-free).

    Scale shape: the LM is vocabulary²-bounded — kilobytes here,
    broadcast onto the held-out bigram stream; the corpus shuffles only
    for the per-doc rollup. At 100 TB the LM table is still the small
    side (token vocab, not corpus) — the standard model-broadcast
    scoring join."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select(
        "doc_id",
        F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "").alias("tk"),
    )
    n = F.size("tk")
    big = toked.where(n >= 2).select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("tk", 1, n - 1).alias("w1"),
                F.slice("tk", 2, n - 1).alias("w2"),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    train = big.where(F.col("doc_id") % 2 == 0)
    # lm2 is vocab²-bounded and feeds two consumers (the unigram margin
    # and the model join) — lazily checkpointed so the training half is
    # exploded ONCE; the unigram margin is then the bigram table summed
    # over w2 (the q_perplexity uc-from-pc pattern) instead of a second
    # pass over `train` (Catalyst does not dedupe common subplans; r11:
    # the old shape ran the corpus explode three times)
    lm2 = (
        train.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint(eager=False)
    )
    lm1 = lm2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    lm = lm2.join(lm1, "w1").select(
        "w1", "w2", (F.col("c2").cast("double") / F.col("c1").cast("double")).alias("p")
    )
    held = big.where(F.col("doc_id") % 2 == 1)
    scored = held.join(F.broadcast(lm), ["w1", "w2"], "left")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.count("p").cast("bigint").alias("n_known"),
            F.coalesce(F.min("p"), F.lit(0.0)).alias("min_known_prob"),
        )
    )
