"""Structured Streaming surface — the camera-feed analog (SURVEY.md §2 A10).

The reference's streaming entry is an unbounded, stateless, per-frame
map: every NV21 camera frame runs the same detect pipeline independently
(ref app/src/main/java/cn/sskbskdrin/ocr/demo/CameraImpl.java:258-262 ->
ocrlib/src/main/cpp/jni/main.cpp:51-70). The graft mirrors that shape:

- ``stream_extract``: file-source stream of transcript rows ->
  ``foreachBatch`` running the SAME batch transform (extract_transcripts)
  -> append sink. Stateless per turn, so no watermark/state is needed
  and batch/stream results are identical by construction (pytest-pinned).
  Restart safety comes from the stream checkpoint; on an Iceberg sink
  the foreachBatch append is idempotent per epoch.
- ``stream_turn_rates``: the one genuinely event-time surface — per-kind
  turn counts in tumbling windows with a watermark for late data. The
  reference has no event-time aggregation at all (each frame stands
  alone), so this is a graft extension, kept windowed + watermarked the
  idiomatic Structured Streaming way.
- ``conversation_state_stream``: per-conversation running totals carried
  across micro-batches (applyInPandasWithState).
- ``stream_dedup_incremental``: each micro-batch resolves against, and
  folds into, the persisted near-dup index (ops/incremental.py).

Every query runs under an availableNow trigger: it processes the input
present at start, in micro-batches, and then stops, so a caller awaits
its termination. A new wave of input is a new run on the same
checkpoint.

The batch sink is idempotent PER EPOCH (write_epoch): epoch-partitioned
dynamic overwrite, so checkpoint-replayed micro-batches never duplicate
rows even on the plain parquet sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from text_ocr_spark.pipeline import extract_transcripts

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def read_transcript_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Unbounded transcript source (file stream; swap for
    ``readStream.format('iceberg')`` incremental scan on a catalog)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def _start(writer: DataStreamWriter, checkpoint_dir: str) -> StreamingQuery:
    """Start ``writer`` on its checkpoint under the availableNow trigger
    every query of this module runs with."""
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    num_partitions: int | None = None,
) -> StreamingQuery:
    """Stream turns through the batch extraction transform.

    foreachBatch(batch transform) keeps ONE implementation for both
    surfaces — exactly the reference's design, where the camera path
    reuses the gallery detect pipeline wholesale.
    """

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        out = extract_transcripts(
            batch_df, num_partitions=num_partitions
        ).withColumn("epoch_id", F.lit(epoch_id))
        write_epoch(out, out_dir)

    writer = read_transcript_stream(spark, input_dir).writeStream
    return _start(writer.foreachBatch(_process), checkpoint_dir)


def write_epoch(out: DataFrame, out_dir: str) -> None:
    """Idempotent-per-epoch parquet sink: the output partitions on
    epoch_id and each write dynamically OVERWRITES only its own epoch
    partition, so a micro-batch retried from the stream checkpoint
    (failure after write, before commit) replaces its rows instead of
    duplicating them — foreachBatch's exactly-once recipe for
    non-transactional sinks. On an Iceberg sink the same property comes
    from a MERGE/replaceWhere on epoch_id."""
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(out_dir)
    )


def turn_rates(df: DataFrame) -> DataFrame:
    """Shared windowed aggregation: 1-minute tumbling per-role counts."""
    return (
        df.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), F.col("role"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("sum_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "role",
            "n_turns",
            "sum_chars",
        )
    )


def conversation_state_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Custom stateful operator: per-conversation running totals carried
    ACROSS micro-batches with applyInPandasWithState (the graft's
    arbitrary-stateful surface — windowed aggs can't express "running
    snapshot per key, emitted every batch").

    State per conv_id: (turns seen so far, payload chars seen so far).
    Each micro-batch emits one snapshot row per updated conversation, so
    the sink accumulates a progress ledger; the LAST snapshot per key
    equals the batch ground truth (pytest-pinned). At scale state lives
    in the state store keyed by conv_id — the same partitioning as the
    extraction exchange, no extra skew surface.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: "object", state: GroupState
    ):
        (conv_id,) = key
        n, chars = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            chars += int(pdf["text"].str.len().fillna(0).sum())
        state.update((n, chars))
        yield pd.DataFrame(
            {"conv_id": [conv_id], "n_turns": [n], "sum_chars": [chars]}
        )

    out = (
        read_transcript_stream(spark, input_dir)
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            "conv_id string, n_turns long, sum_chars long",
            "n long, chars long",
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    writer = out.writeStream.outputMode("append").format("parquet")
    return _start(writer.option("path", out_dir), checkpoint_dir)


def stream_dedup_incremental(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous corpus dedup: every micro-batch of documents resolves
    against — and folds into — the persisted near-dup index
    (ops/incremental.py), emitting keep/drop verdicts per arriving doc.

    This is the training-pipeline composition of A10 and the incremental
    index: the reference precedent is per-frame incremental work against
    fixed engine state (CameraImpl.java:258-262); here the "state" is
    the band index, which GROWS with each batch (update_index appends
    the batch's new signatures plus cluster-merge edges).

    Bootstrap with ``init_neardup_index`` (empty corpus) or
    ``build_neardup_index`` (existing corpus). Replay safety: a
    checkpoint-replayed micro-batch re-appends its index rows, which
    degrades index size but NOT correctness — every index consumer
    dedups (candidates .distinct(), resolve edges .distinct()) — and
    the verdict sink is epoch-overwrite idempotent; on Iceberg the
    appends ride one transaction per batch instead.

    A doc's verdict reflects the corpus AS OF its arrival batch: batch
    ``neardup_resolve`` over union(all earlier batches + its own),
    restricted to the batch — pytest- and oracle-pinned per wave. The
    threshold and tokenizer are the index's (``dedup.THRESHOLD``,
    ``dedup.NEARDUP_NGRAM``), so the stream cannot drift from the batch
    relation.
    """
    from text_ocr_spark.ops.incremental import update_index

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        verdicts = update_index(
            spark, batch_df.select("doc_id", "text"), index_dir
        ).withColumn("epoch_id", F.lit(epoch_id))
        write_epoch(verdicts, out_dir)

    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    return _start(docs.writeStream.foreachBatch(_process), checkpoint_dir)


def stream_turn_rates(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Watermarked tumbling-window turn rates, append-mode sink."""
    rates = turn_rates(read_transcript_stream(spark, input_dir))
    writer = rates.writeStream.outputMode("append").format("parquet")
    return _start(writer.option("path", out_dir), checkpoint_dir)
