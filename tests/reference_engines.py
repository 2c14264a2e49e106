"""Pure-JVM reference formulations of dataprep operators.

Each production operator in ocr_tool_spark/dataprep has one engine (a
vectorized Arrow kernel). The formulations here are the plain Spark SQL
expression plans those kernels replaced; the differential tests run
both and compare. They are oracles, not production paths: nothing in
the package imports them.

- minhash_signatures: shingle strings + xxhash64 + 32 universal-hash
  min-folds as JVM HOF expressions (vs dedup.minhash_signatures_arrow);
- contamination_sql: distinct eval grams as the build side of one
  broadcast hash join probed by the exploded corpus grams (vs
  decontam.contamination).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_tool_spark.dataprep.dedup import _P, tokens
from ocr_tool_spark.operators.parallelism import ensure_parallelism_floor


# Written out independently of the kernels they check: these mirror
# dedup.SHINGLE_K and dedup.NUM_HASHES.
K = 3
NUM_HASHES = 32


def shingles(c: Column) -> Column:
    """Distinct word K-shingles as strings ('w1 w2 w3')."""
    t = tokens(c)
    n = F.size(t)
    return F.array_distinct(
        F.when(
            n >= K,
            F.transform(
                F.sequence(F.lit(0), n - K),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, K)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", t)))
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, _sh: distinct shingles, sig: array of NUM_HASHES mins).

    Three projection steps so each expensive expression is evaluated
    exactly ONCE per row: shingle construction, then xxhash64 of every
    shingle, then the NUM_HASHES universal-hash min-folds as pure
    integer arithmetic over the materialized hash array. (Inlining the
    shingle expression into every lane re-evaluates it NUM_HASHES
    times — measured 30x slower.)"""
    def lane(i: int) -> Column:
        a, b = 2 * i + 1, 0x9E3779B9 * (i + 1) & 0x7FFFFFFF
        return F.array_min(
            F.transform("_hs", lambda x: F.pmod(x * a + b, F.lit(_P)))
        )

    return (
        docs.select("doc_id", shingles(F.col("text")).alias("_sh"))
        .withColumn(
            "_hs", F.transform("_sh", lambda s: F.pmod(F.xxhash64(s), F.lit(_P)))
        )
        .select(
            "doc_id", "_sh", F.array(*[lane(i) for i in range(NUM_HASHES)]).alias("sig")
        )
    )


def word_ngrams(c: Column, n: int) -> Column:
    """Distinct word n-grams of the normalized text as strings
    ('w1 ... wn'); docs shorter than n words produce an empty array."""
    t = tokens(c)
    cnt = F.size(t)
    return F.array_distinct(
        F.when(
            cnt >= n,
            F.transform(
                F.sequence(F.lit(1), cnt - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def contamination_sql(docs: DataFrame, eval_docs: DataFrame, n: int = 8) -> DataFrame:
    """decontam.contamination as a pure-JVM plan: distinct eval grams as
    the build side of one broadcast hash join probed by the scan-local
    exploded corpus grams (hash table built once per task), per-doc
    count collapsed map-side to ~1 row/doc before the only
    corpus-cardinality shuffle — the plan a SQL-only engine would run
    and the direct mirror of the driver oracle."""
    ev = (
        eval_docs.select(F.explode(word_ngrams(F.col("text"), n)).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # the gram HOF chain costs ~1 ms/doc of JVM compute on a scan whose
    # BYTES are tiny (compressed text) — an underfilled scan serializes
    # it, so spread by compute, not bytes (min_bytes=0)
    par = docs.sparkSession.sparkContext.defaultParallelism
    doc_grams = ensure_parallelism_floor(docs, par).select(
        "doc_id", F.explode_outer(word_ngrams(F.col("text"), n)).alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(ev), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.sum("_hit"), F.lit(0))
            .cast("long")
            .alias("n_shared_grams")
        )
        .withColumn("contaminated", (F.col("n_shared_grams") > 0).cast("int"))
    )
