"""Static scan-split estimation (operators/parallelism.py): the floor
decision must match what the old `.rdd.getNumPartitions()` probe
decided, without building an RDD plan or materializing AQE stages
(VERDICT r3 wrong #3 / ADVICE r3 medium)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ocr_tool_spark.operators.parallelism import (
    ensure_parallelism_floor,
    estimated_scan_splits,
    parquet_column_bytes,
    parse_bytes,
    work_sized_partitions,
)
from ocr_tool_spark.plans.pipeline import OCR_BYTES_PER_TASK


def test_parse_bytes_spark_forms():
    assert parse_bytes("8m") == 8 << 20
    assert parse_bytes("128MB") == 128 << 20
    assert parse_bytes("1048576b") == 1 << 20
    assert parse_bytes("4g") == 4 << 30
    assert parse_bytes("1024") == 1024
    assert parse_bytes(512) == 512


@pytest.mark.parametrize("table", ["documents", "lineitem"])
def test_estimate_matches_rdd_probe_on_parquet(spark, sf_dir_mid, table):
    """Decision parity on real file-backed scans: the estimate and the
    actual scan partitioning must fall on the same side of the
    parallelism floor (the only thing either number is used for)."""
    df = spark.read.parquet(f"{sf_dir_mid}/{table}.parquet")
    est = estimated_scan_splits(df)
    actual = df.rdd.getNumPartitions()
    par = spark.sparkContext.defaultParallelism
    assert est is not None
    assert (est < par) == (actual < par), f"{table}: est {est} vs actual {actual}"
    # and the estimate itself is in the right ballpark (same packing
    # formula; exact equality is not contractual across Spark versions)
    assert actual / 2 <= est <= actual * 2 or abs(est - actual) <= 2


def test_estimate_none_for_in_memory(spark):
    df = spark.createDataFrame([(1, "a")], "id long, t string")
    assert estimated_scan_splits(df) is None
    # the floor repartitions in-memory frames unconditionally
    out = ensure_parallelism_floor(df, 4)
    assert out.rdd.getNumPartitions() == 4


def test_floor_repartitions_small_scan(spark, sf_dir):
    """sf0.001 documents is one tiny file — far fewer splits than a
    32-core box, so the floor must fire."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    par = spark.sparkContext.defaultParallelism
    est = estimated_scan_splits(df)
    assert est is not None and est < par
    out = ensure_parallelism_floor(df, par)
    assert out.rdd.getNumPartitions() == par


def test_floor_noop_when_scan_is_wide(spark, sf_dir_mid):
    """When the estimate clears the target, the frame is returned
    unchanged — no shuffle is added (the 100 TB behavior)."""
    df = spark.read.parquet(f"{sf_dir_mid}/lineitem.parquet")
    est = estimated_scan_splits(df)
    assert est is not None
    target = max(1, est // 2)
    assert ensure_parallelism_floor(df, target) is df


def test_work_sized_partitions_clamp():
    """The OCR task count: one task per OCR_BYTES_PER_TASK of pixels,
    never fewer than the cores, never more than 8x them; unknown work
    keeps 8x."""
    b, par = OCR_BYTES_PER_TASK, 4
    assert work_sized_partitions(0, b, par) == par
    assert work_sized_partitions(3 << 20, b, par) == par
    assert work_sized_partitions(6 * b + 1, b, par) == 7
    assert work_sized_partitions(8 * par * b, b, par) == 8 * par
    assert work_sized_partitions(17 << 30, b, par) == 8 * par
    assert work_sized_partitions(None, b, par) == 8 * par


def test_parquet_column_bytes_sums_footers(spark, tmp_path):
    """The estimate is the footers' uncompressed column size over every
    file and row group; a column the footers lack, a non-parquet scan
    and an in-memory frame give None."""
    pdir, cdir = tmp_path / "pq", tmp_path / "csv"
    pdir.mkdir()
    cdir.mkdir()
    tbl = pa.table({"k": list(range(6)), "bitmap": [bytes(1000 * i) for i in range(6)]})
    pq.write_table(tbl.slice(0, 3), pdir / "a.parquet", row_group_size=2)
    pq.write_table(tbl.slice(3), pdir / "b.parquet")
    (cdir / "a.csv").write_text("k,bitmap\n1,x\n")
    want = 0
    for name in ("a.parquet", "b.parquet"):
        meta = pq.read_metadata(pdir / name)
        want += sum(meta.row_group(g).column(1).total_uncompressed_size
                    for g in range(meta.num_row_groups))
    df = spark.read.parquet(str(pdir))
    got = parquet_column_bytes(df, "bitmap")
    assert got == want and got >= sum(1000 * i for i in range(6))
    assert parquet_column_bytes(df, "missing") is None
    csv = spark.read.option("header", True).csv(str(cdir))
    assert parquet_column_bytes(csv, "bitmap") is None
    assert parquet_column_bytes(spark.createDataFrame([(1,)], "k long"), "k") is None
