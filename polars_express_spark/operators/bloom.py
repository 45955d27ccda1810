"""Bloom-filter runtime join pruning (§2.3/§2.10 scale family — Tier G,
beyond the reference surface: the reference app performs no joins at
all (src/main.rs), so this is north-star scale capability, built as
Spark's row-level runtime filter, which local mode's planner never
injects on its own).

The 100 TB problem: a fact⋈dim join where the dim side is filtered
("urgent orders only") still shuffles EVERY fact row, because the fact
scan can't know which keys survive. Production engines fix this with a
runtime filter: build a tiny Bloom bitmap over the filtered dim keys,
broadcast it, and drop non-matching fact rows AT THE SCAN, before the
shuffle. Spark has this (spark.sql.optimizer.runtime.bloomFilter) but
only injects it for large shuffle joins; this operator makes the shape
explicit and always available.

Mechanics: k = `num_hashes` positions per key via xxhash64(key, seed),
OR-folded into m-bit words by a partial→final bit_or aggregate (the
bitmap never exceeds m/64 longs ≈ kilobytes for millions of keys — the
whole point vs broadcasting the key set itself). The probe is a pure
JVM scalar expression over an array literal: zero extra shuffle, zero
Python, whole-stage-codegen'd. False positives are possible (the exact
join afterwards removes them); false negatives are impossible, so
pruned-join ≡ plain-join — which is what makes q_bloom_prune an EXACT
SQL-oracle query, not an invariant check.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class BloomFilter:
    """Driver-side handle: the bitmap as m/64 longs plus the hash params."""

    words: tuple[int, ...]
    num_bits: int
    num_hashes: int


def _positions(col: Column, num_bits: int, num_hashes: int) -> list[Column]:
    # Double hashing (Kirsch–Mitzenmacher, public classic): k positions
    # from TWO xxhash64 evaluations, p_i = (h1 + i·h2) mod m, instead of
    # k independently-seeded hashes — the r18 probe expression spent 5
    # xxhash64 per fact row AT THE SCAN, and KM shows the two-hash
    # scheme keeps the Bloom fp asymptotics (r19, guide §1.2 per-task
    # work). Probe and build share this function, so the
    # no-false-negative identity is untouched. h2 is forced odd so the k
    # positions stay distinct per key: p_i = p_j needs m | (i−j)·h2, and
    # with h2 odd the factor 2^6 of m (word-aligned: a multiple of 64)
    # must divide i−j, impossible for 0 < |i−j| < 64, so any k ≤ 64
    # works. The stride need NOT be coprime with m (m = 4160 = 64·65,
    # h2 = 65 shares 65), which is why the bound is on k, not m. Both
    # hashes are reduced mod m BEFORE the stride arithmetic so nothing
    # approaches long overflow (the session runs ANSI, where silent
    # wrap-around is a raise): i·h2 + h1 < (k+1)·m.
    h1 = F.pmod(F.xxhash64(col), F.lit(num_bits))
    h2 = F.pmod(F.xxhash64(col, F.lit(1)), F.lit(num_bits)).bitwiseOR(F.lit(1))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(num_bits)) for i in range(num_hashes)]


def bloom_build(
    df: DataFrame, col: str, num_bits: int = 1 << 16, num_hashes: int = 5
) -> BloomFilter:
    """Aggregate the build side into an m-bit Bloom bitmap.

    One shuffle of k·n (word, mask) rows into ≤ m/64 groups with
    map-side bit_or combine; the collect is the finished bitmap
    (kilobytes), the same boundary class as the IVF centroid collects.
    Size m ≈ 16 bits/key for ~0.2% fp at k=5; see bloom_size_for().
    """
    num_bits = max(64, (num_bits + 63) // 64 * 64)
    c = F.col(col)
    pos = F.explode(F.array(*_positions(c, num_bits, num_hashes))).alias("p")
    words = (
        df.where(c.isNotNull())
        .select(pos)
        .select(
            (F.col("p") / F.lit(64)).cast("bigint").alias("w"),
            # SQL form: pyspark's shiftleft() only takes a literal shift
            F.expr("shiftleft(cast(1 as bigint), cast(pmod(p, 64) as int))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    dense = [0] * (num_bits // 64)
    for r in words:
        dense[r["w"]] = r["bits"]
    return BloomFilter(tuple(dense), num_bits, num_hashes)


def bloom_size_for(n_keys: int, bits_per_key: int = 16) -> int:
    """Bitmap size for an expected key count, rounded up to a word."""
    return max(4096, ((n_keys * bits_per_key + 63) // 64) * 64)


def bloom_might_contain(
    bf: BloomFilter, col: Column | str, words: Column | None = None
) -> Column:
    """Probe predicate: true iff all k bits for `col` are set.

    Pure scalar expression — evaluates in whole-stage codegen at the
    scan, before any shuffle. NULL keys return false (a NULL never
    equi-joins anyway).

    `words` should be a column holding the bitmap (the broadcast 1-row
    frame bloom_pruned_join attaches): an array read from DATA is a
    per-partition constant. The default (an inline array literal built
    from bf.words) is only suitable for SMALL bitmaps — Catalyst does
    not constant-fold a 10^4-element CreateArray, so the per-row
    rebuild costs ~µs/row (measured 3× on a 600k-row probe).
    """
    c = F.col(col) if isinstance(col, str) else col
    # ONE parsed SQL array literal: F.lit(list) would round-trip every
    # word through py4j individually (~seconds for a 10^4-word bitmap)
    wl = (
        words
        if words is not None
        else F.expr("array(" + ",".join(f"{w}L" for w in bf.words) + ")")
    )
    test = F.lit(True)
    for p in _positions(c, bf.num_bits, bf.num_hashes):
        word = F.element_at(wl, ((p / F.lit(64)).cast("bigint") + F.lit(1)).cast("int"))
        test = test & (F.bit_get(word, F.pmod(p, F.lit(64))) == F.lit(1))
    return c.isNotNull() & test


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    num_hashes: int = 5,
    how: str = "inner",
) -> DataFrame:
    """fact ⋈ dim with a Bloom runtime filter on the fact side.

    Exactly equivalent to the plain join (no false negatives; the join
    removes false positives) — the filter exists to cut the fact-side
    shuffle volume by the dim filter's selectivity. The dim side is
    counted once to size the bitmap (it is the SMALL side by contract,
    as in every runtime-filter plan).

    Only inner and left_semi are accepted: pruning the fact side is
    semantics-preserving exactly when unmatched fact rows would be
    dropped anyway; a left/full outer join must KEEP them, so a
    scan-side filter would silently lose rows.
    """
    if how not in ("inner", "left_semi", "semi", "leftsemi"):
        raise ValueError(
            f"bloom pruning only preserves inner/left_semi semantics, got {how!r}"
        )
    # the dim side is read three times (sizing count, bitmap build, the
    # join itself): a lazy local checkpoint runs its filtered scan once
    # during the count, and Spark's ContextCleaner frees the blocks once
    # the returned frame is unreachable
    dim = dim.localCheckpoint(eager=False)
    n = dim.select(dim_key).where(F.col(dim_key).isNotNull()).count()
    bf = bloom_build(dim, dim_key, num_bits=bloom_size_for(max(n, 1)), num_hashes=num_hashes)
    # ship the bitmap as a broadcast 1-row FRAME, not an expression
    # literal — read from data it is a per-partition constant, where a
    # giant CreateArray would be rebuilt per row (see bloom_might_contain)
    wdf = fact.sparkSession.createDataFrame(
        [(list(bf.words),)], "__bloom_words array<bigint>"
    )
    pruned = (
        fact.crossJoin(F.broadcast(wdf))
        .where(bloom_might_contain(bf, fact_key, words=F.col("__bloom_words")))
        .drop("__bloom_words")
    )
    return pruned.join(dim, on=F.col(fact_key) == F.col(dim_key), how=how)
