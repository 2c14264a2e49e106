"""Structured Streaming surface (SURVEY.md §2.L).

The batch pipeline is the flagship; this module maps the same engine
onto incremental execution:

- file-source streams with ``trigger(availableNow=True)`` so a
  "stream" run over a static directory is batch-equivalent and
  testable (L1);
- watermarked tumbling / sliding / session window aggregations over
  the events shape (L2-L5);
- watermarked streaming dedupe (L6);
- the extraction pipeline itself as a stream: each micro-batch runs
  the batched extractor and lands in a SnapshotTable via an
  idempotent ``foreachBatch`` append keyed by batch id (L8) — the
  same exactly-once contract the resumable batch runner uses, so a
  restarted stream (same checkpoint) never double-commits.

Every query takes/returns DataFrames; nothing here is a new execution
path — incremental plans reuse the identical extraction expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_tool_spark.sources.schemas import DOC
from ocr_tool_spark.storage.adapter import SnapshotTable

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """L1: incremental parquet source with explicit schema."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path)


def read_docs_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(DOC).parquet(path)


# event-time watermark of every windowed/deduplicating stream below; a
# batch plan drops it (EliminateEventTimeWatermark), so the same
# functions serve the batch driver queries
WATERMARK = "10 minutes"


def tumbling_counts(events: DataFrame) -> DataFrame:
    """L2+L3: watermarked 10-minute tumbling-window counts per event_type."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w")["start"].alias("win_start"), "event_type", "n")
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """L4: overlapping windows — 10 minutes wide, sliding by 5."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w")["start"].alias("win_start"), "event_type", "n")
    )


def session_counts(events: DataFrame) -> DataFrame:
    """L5: session windows per user, closed by a 5-minute gap."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w")["start"].alias("sess_start"),
            F.col("w")["end"].alias("sess_end"),
            "user_id",
            "n",
        )
    )


def dedupe_events(events: DataFrame) -> DataFrame:
    """L6: drop duplicate event_ids within the watermark horizon."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory_sink(stream_df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Drain an availableNow stream into an in-memory table (testing
    aid); returns the batch DataFrame of results. mode='complete' for
    aggregations, 'append' for pass-through/dedupe streams."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def running_user_totals(events: DataFrame) -> DataFrame:
    """L7 arbitrary stateful op: per-user running event count + value
    sum via applyInPandasWithState.

    State never times out (NoTimeout): a ProcessingTimeTimeout keeps an
    ``trigger(availableNow=True)`` query alive spinning on timeout-only
    invocations (observed: a 4 s job became a 10+ minute hang), since
    the trigger waits to drain timed-out state that keeps re-arming.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """L7 via the Spark 4 `transformWithStateInPandas` surface
    (SURVEY.md names it as the successor API to
    applyInPandasWithState; VERDICT r2 next #7): same per-user running
    event count + value sum, expressed as a StatefulProcessor with a
    ValueState. Semantics match running_user_totals() exactly — the
    test suite runs both against the same batch aggregate.

    Runtime dependency: the TWS python<->JVM state protocol is
    protobuf-based (pyspark/sql/streaming/proto/StateMessage_pb2), so
    executing the returned stream requires the `protobuf` package —
    absent in this sandbox (no installs, SURVEY.md §0.2), so the
    pytest gate skips when `google.protobuf` is unavailable, the same
    declared-boundary treatment as compressed media codecs. The plan
    construction below is exercised either way."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            prior = self._totals.get() if self._totals.exists() else None
            n, total = prior if prior is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="update",
        timeMode="none",
    )


def streaming_extract(
    docs_stream: DataFrame,
    sink: SnapshotTable,
    checkpoint_dir: str,
    media_store: DataFrame | None = None,
):
    """L8: incremental extraction with an idempotent snapshot sink.

    foreachBatch gives at-least-once micro-batch delivery; the
    SnapshotTable's batch_id-keyed append downgrades replays to
    no-ops, so the sink is exactly-once across stream restarts from
    the same checkpoint.
    """
    from ocr_tool_spark.plans.pipeline import extract_documents

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        out = extract_documents(batch_df, media_store)
        sink.append(out, batch_id=f"stream-{batch_id:08d}")

    return (
        docs_stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
