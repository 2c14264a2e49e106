"""The flagship extraction plan (BASELINE.json:6; SURVEY.md §3.1).

    explode -> route
      text branch : dom_blocks_udf (one Python stage) -> native HOF
                    densitometry scoring + assembly
      media branch: distinct media_ref semi-join into media_store ->
                    fused XY-cut + reading-order + template-OCR UDF
                    (one Python stage, one OCR per *distinct* ref) ->
                    joined back to spans
    -> unionByName -> (optionally salted) reassembly by (doc_id, offset)

Scale shape: the text branch has exactly one shuffle (reassembly); the
media branch adds the ref-dedup exchange + the results join. When the
referenced-media side fits the broadcast threshold the results join is
a broadcast hash join; at 10^12-doc scale it degrades gracefully to a
shuffled join that AQE can skew-split. OCR-per-distinct-ref trades one
extra exchange for never OCR-ing a shared scan twice — at mostly-unique
media it costs ~nothing (the exchange carries refs, not bitmaps).

Verified with the event-log profile (scripts/scaling_bench.py): the
two dominant stages — text scan→explode→DOM-UDF→partial-agg and
semi-join→page-explode→OCR-UDF→page-regroup — each run at 0.85-0.98
task-parallel utilization at 32 cores; the plan has no serial hot
spot. Known, accepted cost: the docs table is scanned three times
(text branch, media branch, distinct-ref derivation — the last is
column-pruned to `spans` only). Fusing them needs a cache/checkpoint
barrier whose write cost exceeds a pruned columnar re-scan at every
scale we measured; the resumable runner persists the exploded frame
instead, which serves the same purpose per partition batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_tool_spark.constants import KIND_MEDIA, KIND_TEXT, OCR_PAGE_JOIN
from ocr_tool_spark.functions.html import with_main_text
from ocr_tool_spark.functions.ocr import ocr_media_udf
from ocr_tool_spark.operators.parallelism import (
    parquet_column_bytes,
    work_sized_partitions,
)
from ocr_tool_spark.operators.spans import explode_spans, reassemble, route

# page pixels per OCR task: at the measured kernel rate a task of this
# size runs long enough that the fixed per-task cost stays under ~10 %
OCR_BYTES_PER_TASK = 256 << 20


def ocr_referenced_media(media_spans: DataFrame, media_store: DataFrame) -> DataFrame:
    """-> (media_ref, text, ocr_ms): one OCR invocation per distinct
    referenced media payload.

    Multi-page payloads are exploded into one row per page BEFORE the
    Python stage (JVM-side binary slicing), so the OCR work unit is a
    page, not a whole PDF: a 5-page scan no longer holds a task slot 5x
    longer than its peers (the straggler tail of the OCR stage is the
    dominant skew at scale). Page texts are re-joined per payload by a
    small-text shuffle; ocr_ms is the summed page cost so lineage
    percentiles keep meaning.
    """
    refs = media_spans.select("media_ref").distinct()
    needed = media_store.join(refs, "media_ref", "left_semi")
    res = F.col("_ocr")
    # n_pages <= 0 (empty/malformed media) must degrade to "" like the
    # single-call read_media path — without the guard, sequence(0, -1)
    # yields a descending [0,-1] and the UDF reshape crashes the job
    pages = needed.filter(F.col("n_pages") > 0).select(
        "media_ref",
        "width",
        "height",
        F.posexplode(
            F.expr(
                "transform(sequence(0, n_pages - 1), "
                "p -> substring(bitmap, p * height * width + 1, height * width))"
            )
        ).alias("page_idx", "page"),
    )
    # OCR-stage task count, sized by page work: AQE coalesces the
    # semi-join output by BYTE size, but OCR cost-per-byte is ~1000x the
    # rest of the plan, so the pages are round-robined to an explicit
    # count from static metadata (an .rdd probe would make AQE run the
    # semi-join's shuffle twice). OCR cost scales with pixels, so the
    # count is the store's bitmap bytes / OCR_BYTES_PER_TASK, clamped to
    # [cores, 8*cores] (work_sized_partitions). A fixed 8*cores spent
    # ~3.5 s of a 3.9 s OCR stage on per-task Python set-up for 81 pages
    # on 4 cores; ~17 GB of pixels (300k docs) still gets 8*cores on up
    # to 8 cores, the straggler fix. A store without local parquet
    # footers (in-memory frame, remote FS) keeps 8*cores.
    par = media_spans.sparkSession.sparkContext.defaultParallelism
    bitmap_bytes = parquet_column_bytes(media_store, "bitmap")
    pages = pages.repartition(
        work_sized_partitions(bitmap_bytes, OCR_BYTES_PER_TASK, par)
    )
    per = pages.withColumn(
        "_ocr", ocr_media_udf("page", "width", "height", F.lit(1))
    ).select(
        "media_ref",
        "page_idx",
        res["text"].alias("_pt"),
        res["ocr_ms"].alias("_pms"),
    )
    # reassemble pages in order; empty pages are skipped, matching the
    # single-call read_media semantics exactly
    return (
        per.groupBy("media_ref")
        .agg(
            F.array_sort(F.collect_list(F.struct("page_idx", "_pt"))).alias("_ps"),
            F.sum("_pms").alias("ocr_ms"),
        )
        .select(
            "media_ref",
            F.array_join(
                F.filter(
                    F.transform("_ps", lambda s: s["_pt"]), lambda t: t != ""
                ),
                OCR_PAGE_JOIN,
            ).alias("text"),
            "ocr_ms",
        )
    )


def extract_spans(docs: DataFrame, media_store: DataFrame | None = None) -> DataFrame:
    """Span-level extraction: one row per span with extracted text.
    Columns: doc_id, kind, text, media_ref, offset, ocr_ms (null on the
    text branch)."""
    spans = explode_spans(docs)
    text_spans, media_spans = route(spans)

    text_out = with_main_text(
        text_spans.select("doc_id", "text", "offset"), "text", "_main"
    ).select(
        "doc_id",
        F.lit(KIND_TEXT).alias("kind"),
        F.col("_main").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        "offset",
        F.lit(None).cast("double").alias("ocr_ms"),
    )

    if media_store is None:
        media_out = media_spans.select(
            "doc_id", "kind", "text", "media_ref", "offset",
            F.lit(None).cast("double").alias("ocr_ms"),
        )
    else:
        ocr_res = ocr_referenced_media(media_spans, media_store)
        media_out = (
            media_spans.select("doc_id", "media_ref", "offset")
            .join(F.broadcast(ocr_res), "media_ref", "left")
            .select(
                "doc_id",
                F.lit(KIND_MEDIA).alias("kind"),
                F.coalesce("text", F.lit("")).alias("text"),
                "media_ref",
                "offset",
                "ocr_ms",
            )
        )
    return text_out.unionByName(media_out)


def extract_documents(
    docs: DataFrame,
    media_store: DataFrame | None = None,
    salt: int | None = None,
) -> DataFrame:
    """Full pipeline: interleaved doc table in, extracted doc table out
    (same (doc_id, spans) shape, spans ordered by offset)."""
    spans = extract_spans(docs, media_store)
    return reassemble(spans.drop("ocr_ms"), salt=salt)
