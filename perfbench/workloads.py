"""The benchmark's workloads: seeded inputs, one closed-loop run, output
checks, and the traced per-layer probes.

- ``extract_mixed``: ``extract_documents(docs, media, salt=8)`` into a
  ``noop`` sink over a heavy interleaved corpus from
  ``fixtures.gen_corpus(heavy=True)``: 4-10 KB HTML spans, shared
  scanned pages (40 % multi-page PDFs) and a 1 % tail of media-heavy
  docs. The flagship path, and the only one where the OCR kernel
  works: Python kernels, the Arrow boundary and the skewed reassembly
  shuffle dominate it. Its traced run also drives ``PipelineRunner``
  over the same corpus, for the commit path's layers.
- ``curate``: ``curate_corpus`` into a ``noop`` sink over a corpus with
  planted near-duplicate families and an eval slice. The ``dataprep``
  layer: minhash kernel, LSH banding, the components loop, decontam
  and shard packing; shuffle- and Catalyst-bound, no HTML or OCR.

Inputs are written once per (workload, seed, size) as parquet with
pyarrow and reused, so generation never counts as set-up.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPAN_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()),
     ("media_ref", pa.string()), ("offset", pa.int32())]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_T))])
MEDIA_SCHEMA = pa.schema(
    [("media_ref", pa.string()), ("media_kind", pa.string()),
     ("width", pa.int32()), ("height", pa.int32()),
     ("n_pages", pa.int32()), ("bitmap", pa.binary())]
)
TEXT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

# curate corpus: 120-token docs; every 20th base doc gets 3 near-copies
# with ids from COPY_BASE up, and every 40th is in the eval slice
WORDS = 120
FAMILY_EVERY = 20
COPIES = 3
CONTAM_EVERY = 40
COPY_BASE = 10_000_000


def noop(df) -> None:
    """Materialize every column: a bare count() would let Catalyst
    prune the UDFs and measure nothing."""
    df.write.format("noop").mode("overwrite").save()


def _write_parts(rows: list[dict], schema: pa.Schema, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = max(1, -(-len(rows) // n_files))
    for i, lo in enumerate(range(0, len(rows), step)):
        pq.write_table(
            pa.Table.from_pylist(rows[lo : lo + step], schema=schema),
            os.path.join(out_dir, f"part-{i:04d}.parquet"),
        )


def cached_input(cache_dir: str, key: str, build) -> str:
    """``cache_dir/key``, built by ``build(tmp_dir)`` on first use. The
    rename makes a half-written input invisible to later runs."""
    path = os.path.join(cache_dir, key)
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    try:
        os.replace(tmp, path)
    except OSError:  # another process published the same input first
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def gen_planted_corpus(n_base: int, seed: int) -> tuple[dict, dict]:
    """(docs, eval) column dicts. Base docs are random draws from a
    4k-word vocabulary, pairwise far below any Jaccard threshold. Every
    ``FAMILY_EVERY``-th base doc gets ``COPIES`` near-copies at
    ``doc_id + k * COPY_BASE`` with one token replaced (3-shingle
    Jaccard ~0.95 to the source). The eval slice is every
    ``CONTAM_EVERY``-th base doc, verbatim."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:04d}" for i in range(4000)])
    toks = vocab[rng.integers(0, len(vocab), size=(n_base, WORDS))]
    ids, texts = [], []
    for doc_id, row in enumerate(toks):
        ids.append(doc_id)
        texts.append(" ".join(row))
        if doc_id % FAMILY_EVERY == 0:
            for k in range(1, COPIES + 1):
                edited = row.copy()
                edited[rng.integers(0, WORDS)] = vocab[rng.integers(0, len(vocab))]
                ids.append(doc_id + k * COPY_BASE)
                texts.append(" ".join(edited))
    eval_ids = list(range(0, n_base, CONTAM_EVERY))
    docs = {"doc_id": ids, "text": texts}
    ev = {"doc_id": eval_ids, "text": [" ".join(toks[i]) for i in eval_ids]}
    return docs, ev


def _sample_rows(path: str, columns: list[str], k: int, seed: int) -> list[dict]:
    rows = pq.read_table(path, columns=columns).to_pylist()
    return random.Random(seed).sample(rows, min(k, len(rows)))


def _dir_files(path: str, suffix: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(suffix)
    ]


@contextmanager
def _memo_reference_ocr():
    """The reference OCR is pure Python and a sample repeats media refs;
    memoize it (a pure function) for the length of one check."""
    import refspec

    orig = refspec.ocr_media
    refspec.ocr_media = functools.lru_cache(maxsize=None)(orig)
    try:
        yield refspec
    finally:
        refspec.ocr_media = orig


class Workload:
    name = ""
    n_docs = 0

    def __init__(self, seed: int):
        self.seed = seed

    def key(self) -> str:
        return f"{self.name}-s{self.seed}-n{self.n_docs}"

    def prepare(self, cache_dir: str) -> str:
        self.input = cached_input(cache_dir, self.key(), self.build)
        return self.input

    def sink(self, df, out_dir: str | None, tracer=None) -> None:
        """``noop`` for timed runs; the first warm-up run writes parquet
        to ``out_dir`` so the output check can read what the program made."""
        if out_dir is not None:
            df.write.mode("overwrite").parquet(out_dir)
        elif tracer is None:
            noop(df)
        else:
            with tracer.span("sink.noop"):
                noop(df)


class ExtractMixed(Workload):
    name = "extract_mixed"
    n_docs = 1000
    n_media = 50
    salt = 8
    check_docs = 24
    # the runner probe commits 8 partitions, two batches of four
    runner_partitions = 8
    runner_batch = 4

    def build(self, out: str) -> None:
        from ocr_tool_spark import fixtures

        docs, media = fixtures.gen_corpus(
            self.n_docs, n_media=self.n_media, seed=self.seed, heavy=True
        )
        _write_parts(docs, DOC_SCHEMA, f"{out}/docs", 16)
        _write_parts(media, MEDIA_SCHEMA, f"{out}/media", 4)

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(f"{self.input}/docs")
        self.media = spark.read.parquet(f"{self.input}/media")
        self.docs_total = self.docs.count()
        self.media.count()

    def run(self, spark, out_dir: str | None = None, tracer=None) -> None:
        from ocr_tool_spark.plans.pipeline import extract_documents

        self.sink(extract_documents(self.docs, self.media, salt=self.salt), out_dir, tracer)

    def check(self, out_dir: str) -> tuple[int, int]:
        """Span equality against the reference extractor on a seeded
        sample of doc ids (one check each), plus one check that the
        output holds exactly the input's doc ids."""
        sample = _sample_rows(
            f"{self.input}/docs", ["doc_id", "spans"], self.check_docs, self.seed
        )
        media = pq.read_table(f"{self.input}/media").to_pylist()
        store = {m["media_ref"]: m for m in media}
        out = pq.read_table(out_dir)
        want = {d["doc_id"] for d in sample}
        got = {
            r["doc_id"]: [
                (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
            ]
            for r in out.to_pylist()
            if r["doc_id"] in want
        }
        in_ids = pq.read_table(f"{self.input}/docs", columns=["doc_id"]).column(0)
        passed = int(sorted(out.column("doc_id").to_pylist()) == sorted(in_ids.to_pylist()))
        with _memo_reference_ocr() as refspec:
            for d in sample:
                exp = [
                    (s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in refspec.extract_document(d, store)["spans"]
                ]
                passed += got.get(d["doc_id"]) == exp
        return passed, len(sample) + 1

    def trace_targets(self):
        from ocr_tool_spark.plans import pipeline

        return [
            (pipeline, "extract_documents", "pipeline.extract_documents"),
            (pipeline, "extract_spans", "pipeline.extract_spans"),
            (pipeline, "with_main_text", "html.with_main_text"),
            (pipeline, "ocr_referenced_media", "ocr.ocr_referenced_media"),
            (pipeline, "reassemble", "spans.reassemble"),
        ]

    def probes(self, spark, tracer, scratch: str) -> dict[str, float]:
        """Each branch of the plan alone into ``noop``, then one
        ``PipelineRunner`` run over the same corpus for the commit
        path (fingerprint, stage write, batch and lineage appends)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ocr_tool_spark.functions.html import with_main_text
        from ocr_tool_spark.operators.spans import explode_spans, reassemble, route
        from ocr_tool_spark.plans.pipeline import ocr_referenced_media

        text_spans, media_spans = route(explode_spans(self.docs))
        with tracer.span("probe.html"):
            noop(with_main_text(text_spans.select("doc_id", "text", "offset"), "text", "_main"))
        obs = Observation()
        with tracer.span("probe.ocr"):
            noop(ocr_referenced_media(media_spans, self.media).observe(obs, F.count(F.lit(1)).alias("n")))
        with tracer.span("probe.reassemble"):
            noop(reassemble(explode_spans(self.docs), salt=self.salt))
        n_media_spans = media_spans.count()
        spark.catalog.clearCache()
        return {
            "ocr.distinct_ref_frac": obs.get["n"] / max(n_media_spans, 1),
            **self.runner_probe(spark, tracer, scratch),
        }

    def runner_probe(self, spark, tracer, work_dir: str) -> dict[str, float]:
        from pyspark.sql import functions as F

        from ocr_tool_spark.plans import runner as runner_mod
        from ocr_tool_spark.storage.adapter import SnapshotTable

        def append_name(table, *_, **__):
            return "storage.append_lineage" if table.path.endswith("lineage") else "storage.append_output"

        runner = runner_mod.PipelineRunner(
            spark, work_dir, n_partitions=self.runner_partitions,
            batch_partitions=self.runner_batch, salt=self.salt,
        )
        targets = [
            (runner_mod, "input_fingerprint", "runner.input_fingerprint"),
            (runner_mod.PipelineRunner, "stage_input", "runner.stage_input"),
            (SnapshotTable, "append", append_name),
        ]
        with tracer.patched(targets), tracer.span("probe.runner"):
            t0 = time.time()
            runner.run(self.docs, self.media)
        stamps = sorted(
            {r["t"] / 1e6 for r in runner.lineage.read(spark)
             .select(F.unix_micros("committed_at").alias("t")).collect()}
        )
        gaps = [b - a for a, b in zip([t0, *stamps], stamps)]
        out_files = _dir_files(runner.output.path, ".parquet")
        return {
            "runner.commit_batch_s": statistics.median(gaps),
            "storage.out_mb": sum(os.path.getsize(f) for f in out_files) / float(1 << 20),
            "storage.out_files": float(len(out_files)),
        }

    def kernel_probes(self) -> dict[str, float]:
        return {**html_kernel(self.input, self.seed), **ocr_kernel(self.input, self.seed)}


class Curate(Workload):
    name = "curate"
    n_docs = 6000
    threshold = 0.6
    budget = 2048

    def build(self, out: str) -> None:
        docs, ev = gen_planted_corpus(self.n_docs, self.seed)
        for sub, cols in (("docs", docs), ("eval", ev)):
            os.makedirs(f"{out}/{sub}")
            tbl = pa.table(cols, schema=TEXT_SCHEMA)
            step = -(-tbl.num_rows // 8)
            for i in range(8):
                pq.write_table(tbl.slice(i * step, step), f"{out}/{sub}/part-{i:04d}.parquet")

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(f"{self.input}/docs")
        self.eval = spark.read.parquet(f"{self.input}/eval")
        self.docs_total = self.docs.count()
        self.eval.count()

    def run(self, spark, out_dir: str | None = None, tracer=None) -> None:
        from ocr_tool_spark.dataprep import release_intermediates
        from ocr_tool_spark.dataprep.curate import curate_corpus

        out = curate_corpus(self.docs, self.eval, threshold=self.threshold, budget=self.budget)
        try:
            self.sink(out, out_dir, tracer)
        finally:
            release_intermediates(out)

    def check(self, out_dir: str) -> tuple[int, int]:
        """Every planted copy and eval-slice doc is dropped, every other
        base doc survives, and shard ids are gap-free."""
        out = pq.read_table(out_dir, columns=["doc_id", "shard_id"])
        kept = set(out.column("doc_id").to_pylist())
        shards = set(out.column("shard_id").to_pylist())
        ev = set(pq.read_table(f"{self.input}/eval", columns=["doc_id"]).column(0).to_pylist())
        base = set(range(self.n_docs))
        checks = [
            not any(d >= COPY_BASE for d in kept),
            not (kept & ev),
            kept == base - ev,
            bool(shards) and shards == set(range(max(shards) + 1)),
        ]
        return sum(checks), len(checks)

    def trace_targets(self):
        from ocr_tool_spark.dataprep import curate as curate_mod

        return [
            (curate_mod, "curate_corpus", "dataprep.curate_corpus"),
            (curate_mod, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
            (curate_mod, "dedup_keep_list", "dedup.dedup_keep_list"),
            (curate_mod, "contamination", "decontam.contamination"),
            (curate_mod, "pack_shards", "pack.pack_shards"),
        ]

    def probes(self, spark, tracer, scratch: str) -> dict[str, float]:
        """Each stage of the curation DAG alone into ``noop``."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ocr_tool_spark.dataprep import release_intermediates
        from ocr_tool_spark.dataprep.decontam import contamination
        from ocr_tool_spark.dataprep.dedup import dedup_keep_list, minhash_lsh_pairs
        from ocr_tool_spark.dataprep.packing import pack_shards

        obs = Observation()
        pairs = minhash_lsh_pairs(self.docs, threshold=self.threshold)
        try:
            with tracer.span("probe.pairs"):
                noop(pairs.observe(obs, F.count(F.lit(1)).alias("n")))
            verified = obs.get["n"]
            # the candidate frame is the first cache handle the operator
            # records for release_intermediates; it is materialized now
            candidates = pairs._ocr_persisted[0].count()  # noqa: SLF001
            with tracer.span("probe.components"):
                # the components loop runs eagerly inside the call
                keep = dedup_keep_list(self.docs, pairs)
                noop(keep)
            release_intermediates(keep)
        finally:
            release_intermediates(pairs)
        with tracer.span("probe.decontam"):
            noop(contamination(self.docs, self.eval, n=8))
        with tracer.span("probe.pack"):
            noop(pack_shards(self.docs, budget=self.budget))
        return {
            "dedup.candidate_pairs": float(candidates),
            "dedup.pair_yield": verified / candidates if candidates else 0.0,
        }

    def kernel_probes(self) -> dict[str, float]:
        from ocr_tool_spark.dataprep._minhash_kernel import batch_shingle_hashes

        texts = pa.array(
            [r["text"] for r in _sample_rows(f"{self.input}/docs", ["text"], 2000, self.seed)]
        )
        best = min(_timed(lambda: batch_shingle_hashes(texts, 3)) for _ in range(5))
        return {"dataprep.kernel_us_per_doc": best * 1e6 / len(texts)}


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def html_kernel(input_dir: str, seed: int) -> dict[str, float]:
    """``dom_blocks`` in-process on a seeded sample of HTML spans."""
    from ocr_tool_spark.functions.html import dom_blocks

    htmls = [
        s["text"]
        for d in _sample_rows(f"{input_dir}/docs", ["spans"], 200, seed)
        for s in d["spans"]
        if s["text"] is not None
    ]
    mb = sum(len(h.encode()) for h in htmls) / float(1 << 20)
    best = min(_timed(lambda: [dom_blocks(h) for h in htmls]) for _ in range(3))
    return {"html.kernel_ms_per_mb": best * 1e3 / mb}


def ocr_kernel(input_dir: str, seed: int) -> dict[str, float]:
    """``read_media`` in-process on a seeded sample of media payloads."""
    from ocr_tool_spark.functions.ocr import read_media

    media = _sample_rows(
        f"{input_dir}/media", ["bitmap", "width", "height", "n_pages"], 12, seed
    )
    pages = sum(m["n_pages"] for m in media)
    best = min(
        _timed(lambda: [read_media(m["bitmap"], m["width"], m["height"], m["n_pages"]) for m in media])
        for _ in range(3)
    )
    return {"ocr.kernel_ms_per_page": best * 1e3 / pages}


WORKLOADS = {w.name: w for w in (ExtractMixed, Curate)}
