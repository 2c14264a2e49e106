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


def shingles(c: Column, k: int = 3) -> Column:
    """Distinct word k-shingles as strings ('w1 w2 w3')."""
    t = tokens(c)
    n = F.size(t)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", t)))
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", num_hashes: int = 32, k: int = 3
) -> DataFrame:
    """(doc_id, _sh: distinct shingles, sig: array of num_hashes mins).

    Three projection steps so each expensive expression is evaluated
    exactly ONCE per row: shingle construction, then xxhash64 of every
    shingle, then the num_hashes universal-hash min-folds as pure
    integer arithmetic over the materialized hash array. (Inlining the
    shingle expression into every lane re-evaluates it num_hashes
    times — measured 30x slower.)"""
    def lane(i: int) -> Column:
        a, b = 2 * i + 1, 0x9E3779B9 * (i + 1) & 0x7FFFFFFF
        return F.array_min(
            F.transform("_hs", lambda x: F.pmod(x * a + b, F.lit(_P)))
        )

    return (
        docs.select("doc_id", shingles(F.col(text_col), k).alias("_sh"))
        .withColumn(
            "_hs", F.transform("_sh", lambda s: F.pmod(F.xxhash64(s), F.lit(_P)))
        )
        .select(
            "doc_id", "_sh", F.array(*[lane(i) for i in range(num_hashes)]).alias("sig")
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


def contamination_sql(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str | None = None,
) -> DataFrame:
    """decontam.contamination as a pure-JVM plan: distinct eval grams as
    the build side of one broadcast hash join probed by the scan-local
    exploded corpus grams (hash table built once per task), per-doc
    count collapsed map-side to ~1 row/doc before the only
    corpus-cardinality shuffle — the plan a SQL-only engine would run
    and the direct mirror of the driver oracle."""
    ev_col = eval_text_col or text_col
    ev = (
        eval_docs.select(F.explode(word_ngrams(F.col(ev_col), n)).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # the gram HOF chain costs ~1 ms/doc of JVM compute on a scan whose
    # BYTES are tiny (compressed text) — an underfilled scan serializes
    # it, so spread by compute, not bytes (min_bytes=0)
    par = docs.sparkSession.sparkContext.defaultParallelism
    doc_grams = ensure_parallelism_floor(docs, par).select(
        id_col, F.explode_outer(word_ngrams(F.col(text_col), n)).alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(ev), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.coalesce(F.sum("_hit"), F.lit(0))
            .cast("long")
            .alias("n_shared_grams")
        )
        .withColumn("contaminated", (F.col("n_shared_grams") > 0).cast("int"))
    )
