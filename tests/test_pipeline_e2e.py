"""End-to-end golden-fixture tests (SURVEY.md §5.2-5.5): the full Spark
pipeline vs the reference spec, exact span-sequence equality on
(kind, text, media_ref, order) per doc_id — the BASELINE.json:2 hard
gate (pass rate = 100%) plus the metamorphic properties."""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

import refspec
from ocr_tool_spark import fixtures
from ocr_tool_spark.operators.equality import mismatches, pass_rate
from ocr_tool_spark.operators.parallelism import parquet_column_bytes
from ocr_tool_spark.operators.spans import explode_spans, reassemble, route
from ocr_tool_spark.plans.pipeline import (
    OCR_BYTES_PER_TASK,
    extract_documents,
    ocr_referenced_media,
)
from ocr_tool_spark.sources.schemas import MEDIA_STORE
from ocr_tool_spark.sources.tables import docs_df, media_df

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus():
    docs, media = fixtures.gen_corpus(N_DOCS, seed=42)
    store = {m["media_ref"]: m for m in media}
    expected = [refspec.extract_document(d, store) for d in docs]
    return docs, media, expected


def test_full_corpus_span_equality(spark, corpus):
    docs, media, expected = corpus
    out = extract_documents(docs_df(spark, docs), media_df(spark, media))
    exp = docs_df(spark, expected)
    rate = pass_rate(exp, out)
    if rate != 1.0:
        for row in mismatches(exp, out, 3):
            print("MISMATCH", row["doc_id"])
            print("  expected:", row["spans_e"][:3] if row["spans_e"] else None)
            print("  actual  :", row["spans_a"][:3] if row["spans_a"] else None)
    assert rate == 1.0


def test_salted_run_equals_unsalted(spark, corpus):
    docs, media, expected = corpus
    d, m = docs_df(spark, docs), media_df(spark, media)
    plain = extract_documents(d, m)
    salted = extract_documents(d, m, salt=8)
    assert pass_rate(plain, salted) == 1.0


def test_reassemble_explode_roundtrip(spark, corpus):
    docs, _, _ = corpus
    d = docs_df(spark, docs)
    rebuilt = reassemble(explode_spans(d))
    assert pass_rate(d, rebuilt) == 1.0


def test_text_only_docs_unaffected_by_missing_media_store(spark, corpus):
    docs, media, expected = corpus
    text_only = [d for d in docs if all(s["kind"] == "text" for s in d["spans"])]
    exp = [e for e in expected if e["doc_id"] in {d["doc_id"] for d in text_only}]
    assert text_only
    out = extract_documents(docs_df(spark, text_only), media_store=None)
    assert pass_rate(docs_df(spark, exp), out) == 1.0


def test_doc_order_permutation_invariance(spark, corpus):
    docs, media, _ = corpus
    d, m = docs_df(spark, docs), media_df(spark, media)
    fwd = extract_documents(d, m)
    rev = extract_documents(docs_df(spark, list(reversed(docs))), m)
    assert pass_rate(fwd, rev) == 1.0


def test_zero_page_media_degrades_to_empty_text(spark):
    """A media row with n_pages=0 must yield an empty-text span (like
    read_media("") in the spec), not crash the per-page explode."""
    docs = [{
        "doc_id": "z0",
        "spans": [
            {"kind": "media", "text": None, "media_ref": "img:zero", "offset": 0},
        ],
    }]
    media = [{
        "media_ref": "img:zero", "media_kind": "image",
        "width": 4, "height": 4, "n_pages": 0, "bitmap": b"",
    }]
    out = extract_documents(docs_df(spark, docs), media_df(spark, media)).collect()
    assert len(out) == 1
    span = out[0].spans[0]
    assert (span.kind, span.text, span.media_ref, span.offset) == (
        "media", "", "img:zero", 0
    )


def _round_robin_counts(df) -> set[int]:
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return {int(n) for n in re.findall(r"RoundRobinPartitioning\((\d+)\)", plan)}


@pytest.fixture(scope="module")
def media_parquet(corpus, tmp_path_factory):
    """The corpus media table as parquet in two files, written with
    pyarrow so the OCR stage is sized from real footers."""
    _, media, _ = corpus
    out = tmp_path_factory.mktemp("media")
    tbl = pa.Table.from_pylist(media, schema=to_arrow_schema(MEDIA_STORE))
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), out / "part-0.parquet")
    pq.write_table(tbl.slice(half), out / "part-1.parquet")
    return str(out)


def test_footer_sized_ocr_stage_span_equality(spark, corpus, media_parquet):
    """A parquet-backed media store takes the footer-estimated path: a
    small bitmap column gets one OCR task per core, and the spans still
    equal the reference spec exactly."""
    docs, _, expected = corpus
    media = spark.read.parquet(media_parquet)
    par = spark.sparkContext.defaultParallelism
    assert 0 < parquet_column_bytes(media, "bitmap") < OCR_BYTES_PER_TASK
    out = extract_documents(docs_df(spark, docs), media)
    got = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in out.collect()
    }
    want = {
        d["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in d["spans"]]
        for d in expected
    }
    assert got == want
    assert _round_robin_counts(out) == {par}


def test_in_memory_media_store_keeps_8x_cores(spark, corpus):
    """Without parquet footers the OCR stage keeps 8*cores tasks."""
    docs, media, _ = corpus
    store = media_df(spark, media)
    par = spark.sparkContext.defaultParallelism
    assert parquet_column_bytes(store, "bitmap") is None
    _, media_spans = route(explode_spans(docs_df(spark, docs)))
    assert _round_robin_counts(ocr_referenced_media(media_spans, store)) == {8 * par}
