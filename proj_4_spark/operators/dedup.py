"""Deduplication operators for web-scale text pipelines.

All of these are pure Catalyst column expressions (md5 / array
functions — JVM-side, WholeStageCodegen); there is no Python in the
hot path, so they scale linearly with executors at 100 TB.

- exact_dedup: md5(text) hash-groupBy.
- shingles / minhash_signature / lsh_band / lsh_pairs: MinHash+LSH
  near-dup (shingle -> K permutations via keyed md5 -> banding ->
  bucket self-join).  The self-join is an equi-join on the band hash:
  shuffle partitioning by band key; hot buckets (boilerplate pages)
  are bounded by `max_bucket` to keep the pair explosion in check —
  the standard web-dedup guard.
- ngram_jaccard_pairs: exact Jaccard verification over candidate
  pairs (array_intersect on distinct shingles).
- simhash: B-bit sign-sum fingerprint from keyed token hashes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def shingles(text: Column) -> Column:
    """Distinct 3-word shingles joined by '_' (empty if < 3 tokens)."""
    w = tokens(text)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - 2, F.lit(0))),
            lambda i: F.concat_ws("_", F.slice(w, i, 3)),
        ))


def _h60(s: Column) -> Column:
    """60-bit positive int from md5 — identical in DuckDB via
    ('0x'||substr(md5(s),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


# Fixed universal-hash permutation constants (a_p*h + b_p) mod MH_P.
# MH_P is the largest 32-bit prime; a_p < 2^30 keeps a_p*h < 2^62 so
# the arithmetic never overflows a 64-bit signed int in either engine
# (DuckDB raises on BIGINT overflow rather than wrapping).
MH_P = 4294967291
MH_A = (595295516, 216409609, 789869988, 631602233,
        662898964, 958699916, 603497325, 503065403)
MH_B = (275066853, 427954577, 2332920686, 3459618001,
        4114409705, 2530509838, 336367087, 685714874)


BANDS, ROWS = 4, 2  # LSH: 4 bands of 2 signature rows


def minhash_signature(sh: Column) -> Column:
    """8-permutation MinHash signature.

    Each shingle is hashed ONCE (md5 -> 60-bit int -> mod MH_P), then
    the 8 permutations (MH_A, MH_B) are derived arithmetically as
    (a_p*h + b_p) mod MH_P — ~8x fewer md5 calls than hashing per
    permutation, with algebra that DuckDB mirrors exactly.  The hashed
    array is bound through a single-element transform lambda so
    Catalyst evaluates the md5 pass exactly once per row."""
    hashed = F.transform(sh, lambda s: _h60(s) % F.lit(MH_P))
    perms = list(zip(MH_A, MH_B))
    return F.element_at(
        F.transform(
            F.array(hashed),
            lambda hs: F.array(*[
                F.array_min(F.transform(
                    hs, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MH_P)))
                for a, b in perms])),
        1)


def band_hashes(sig: Column) -> Column:
    """LSH band hashes: md5 over the concatenated band rows."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(BANDS - 1)),
        lambda b: F.md5(F.concat_ws(
            "_",
            *[F.element_at(sig, b * ROWS + r + 1).cast("string")
              for r in range(ROWS)])),
    )


def doc_shingle_table(docs: DataFrame) -> DataFrame:
    return (docs.select("doc_id", shingles(F.col("text")).alias("sh"))
                .where(F.size("sh") > 0))


def lsh_candidate_pairs(docs: DataFrame,
                        max_bucket: int = 2000) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing >=1 LSH band.

    Buckets with more than ``max_bucket`` members are dropped before
    the self-join: a boilerplate band bucket with m docs would emit
    m^2/2 pairs, so without the cap one hot bucket (cookie banners,
    parked domains) degenerates the join to quadratic at web scale.
    The windowed count shuffles on the same (band, bh) key the
    self-join needs, so the cap adds no extra shuffle stage."""
    from pyspark.sql import Window

    sh = doc_shingle_table(docs)
    sig = sh.select("doc_id", minhash_signature(F.col("sh")).alias("sig"))
    b = (sig.select("doc_id", F.posexplode(band_hashes(F.col("sig")))
                    .alias("band", "bh")))
    bucket_n = F.count("*").over(Window.partitionBy("band", "bh"))
    b = (b.withColumn("_bn", bucket_n)
          .where(F.col("_bn") <= max_bucket).drop("_bn"))
    # no cache: both join sides read one exchange (ReusedExchange), so
    # the shingle->minhash lineage runs once
    left = b.alias("a")
    right = b.alias("b")
    return (left.join(right, (F.col("a.band") == F.col("b.band"))
                      & (F.col("a.bh") == F.col("b.bh"))
                      & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b"))
                .distinct())


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(sh_a) + F.size(sh_b) - F.size(F.array_intersect(sh_a, sh_b))
    return inter / union.cast("double")


SIMHASH_BITS = 16


def simhash(text: Column) -> Column:
    """SIMHASH_BITS-bit SimHash over distinct tokens: bit k set iff
    sum over tokens of (±1 by token-hash bit k) > 0.

    ONE pass over the token-hash array: the accumulator is the array
    of per-bit signed counts (zip_with against the constant mask
    array), then a second tiny fold over the SIMHASH_BITS counts packs
    the sign bits.  Per-token work is unchanged but the array is
    traversed once instead of SIMHASH_BITS times (the round-2
    O(bits x) constant factor).  The packed value is bit-identical to
    the per-bit formulation (integer arithmetic, same fold order)."""
    toks = F.array_distinct(tokens(text))
    hs = F.transform(toks, lambda t: _h60(t))
    masks = F.array(*[F.lit(1 << k).cast("long")
                      for k in range(SIMHASH_BITS)])
    zero = F.array(*[F.lit(0).cast("long") for _ in range(SIMHASH_BITS)])
    sums = F.aggregate(
        hs, zero,
        lambda a, h: F.zip_with(
            a, masks,
            lambda acc, m: acc + F.when(h.bitwiseAND(m) != 0,
                                        F.lit(1)).otherwise(F.lit(-1))))
    # bind `sums` once (single-evaluation trick), then pack sign bits
    return F.element_at(
        F.transform(F.array(sums), lambda s: F.aggregate(
            F.zip_with(s, masks,
                       lambda bs, m: F.when(bs > 0, m)
                                      .otherwise(F.lit(0).cast("long"))),
            F.lit(0).cast("long"), lambda a, x: a + x)),
        1)
