"""K21 composed curation DAG (dataprep/curate.py): near-dup members
must drop at the dedup stage, eval-overlapping docs at the decontam
stage, and the survivors must pack exactly like pack_shards over the
clean corpus — all in one plan."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from ocr_tool_spark.dataprep import release_intermediates
from ocr_tool_spark.dataprep.curate import curate_corpus

EVAL_TEXT = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"


def _text(i: int) -> str:
    # 12 distinct words per doc: pairwise-disjoint vocabulary so unique
    # docs never pair, every doc long enough for 8-grams
    return " ".join(f"w{i}x{j}" for j in range(12))


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, _text(i)) for i in range(1, 9)]
    rows.append((101, _text(1)))  # exact copy of doc 1 -> dedup drop
    rows.append((5, None))  # replaced below: doc 5 carries the eval passage
    rows = [(i, t) for i, t in rows if t is not None and i != 5]
    rows.append((5, "unrelated prefix " + EVAL_TEXT + " and a suffix tail"))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def eval_docs(spark):
    return spark.createDataFrame([(9001, EVAL_TEXT)], "doc_id long, text string")


def test_curate_drops_and_packs(spark, corpus, eval_docs):
    out = curate_corpus(
        corpus, eval_docs, threshold=0.9, budget=30
    )
    got = {r["doc_id"]: r for r in out.collect()}
    release_intermediates(out)

    # doc 101 (exact copy, non-canonical) and doc 5 (shares the eval
    # 8-grams) are gone; everything else survives
    assert set(got) == {1, 2, 3, 4, 6, 7, 8}

    # packing replay: exclusive token cumsum over (md5-bucket, doc_id)
    laid = sorted(
        (hashlib.md5(str(i).encode()).hexdigest()[:2], i) for i in got
    )
    off = 0
    for b, i in laid:
        r = got[i]
        assert r["bucket"] == b
        assert r["n_tokens"] == 12
        assert r["shard_offset_tokens"] == off
        assert r["shard_id"] == off // 30
        off += r["n_tokens"]


def test_curate_empty_eval_is_dedup_plus_pack(spark, corpus):
    out = curate_corpus(
        corpus, corpus.filter(F.col("doc_id") < 0), threshold=0.9, budget=30
    )
    ids = {r["doc_id"] for r in out.collect()}
    release_intermediates(out)
    assert ids == {1, 2, 3, 4, 5, 6, 7, 8}  # only the dup copy drops
