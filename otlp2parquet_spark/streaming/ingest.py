"""Structured-Streaming ingest: the reference server's time axis, natively.

Maps the reference's buffering/flush machinery (D16-D20, src/batch/,
src/lib.rs:244-305) onto Spark Structured Streaming (SURVEY.md §7 M5):

| reference                                   | here                           |
|---------------------------------------------|--------------------------------|
| BatchKey{service, minute} accumulation D16  | foreachBatch groups rows per   |
|                                             | (service, minute) at the sink  |
| flush thresholds rows/bytes/age D17         | trigger interval +             |
|                                             | maxFilesPerTrigger +           |
|                                             | max_rows_per_file at the sink  |
| backpressure 8x max_bytes D18               | maxFilesPerTrigger source cap  |
| periodic expiry flush task D19              | trigger(processingTime=...)    |
| shutdown drain + graceful exit D20          | checkpoint + query.stop():     |
|                                             | restart resumes exactly-once   |
| per-request accounting D27                  | observe() metrics in progress  |
|                                             | events: landing.rejected,      |
|                                             | ingest.records                 |

Landing acceptance, decode, the table split and the layout -> writer
dispatch are the batch path's own (`ingest.split_landing`, `ingest.decode`,
`ingest.split_tables`, `writer.write_table`; T7 foreachBatch), so rows,
layout and footer metadata are identical in both modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from otlp2parquet_spark.otel import ingest, writer

BINARYFILE_SCHEMA = StructType(
    [
        StructField("path", StringType(), True),
        StructField("modificationTime", TimestampType(), True),
        StructField("length", LongType(), True),
        StructField("content", BinaryType(), True),
    ]
)


def read_landing_stream(
    spark: SparkSession,
    landing_dir: str,
    *,
    max_files_per_trigger: int | None = None,
    max_payload_bytes: int = ingest.DEFAULT_MAX_PAYLOAD_BYTES,
) -> DataFrame:
    """Streaming twin of ingest.read_landing (S6).

    `maxFilesPerTrigger` is the source-side rate limit standing in for the
    reference's backpressure bound (D18): a burst of landing files drains at
    a bounded per-batch rate instead of rejecting ingest.
    """
    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # D3/D4 acceptance: refused files are counted by the `landing`
    # observation (its `rejected` metric), one value per progress event
    accepted, _ = ingest.split_landing(
        reader.load(landing_dir), max_payload_bytes, observe="landing"
    )
    return accepted


def stream_ingest(
    spark: SparkSession,
    landing_dir: str,
    signal: str,
    output_root: str,
    checkpoint_dir: str,
    *,
    layout: str = "parity",
    trigger_seconds: float | None = None,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    max_rows_per_file: int = writer.DEFAULT_MAX_ROWS_PER_FILE,
    quarantine_dir: str | None = None,
):
    """Landing dir -> decoded -> partitioned Parquet, continuously.

    Returns the started StreamingQuery. The foreachBatch sink flushes each
    micro-batch through the parity writer with minute buckets — the exact
    (service, minute) clustering of the reference's BatchKey (D16) — or the
    native Hive writer. Checkpointing makes restart/shutdown drain-free
    (replaces D19/D20): an interrupted batch replays, files are re-written
    idempotently at the Spark-commit level.
    """
    payloads = read_landing_stream(
        spark, landing_dir, max_files_per_trigger=max_files_per_trigger
    )
    # a poison payload must not kill the long-running query: with a
    # quarantine dir the bad input lands there (D25), otherwise fail loudly
    on_error = "quarantine" if quarantine_dir else "raise"
    decoded = ingest.decode(payloads, signal, on_error, quarantine_dir=quarantine_dir)

    def flush(batch_df: DataFrame, epoch_id: int) -> None:  # T7
        # the metrics union fans out to 4 tables: persist so each micro-batch
        # decodes once; summary rows are counted-and-dropped
        if signal == "metrics":
            batch_df = batch_df.persist()
        try:
            for table, df in ingest.split_tables(batch_df, signal).items():
                # parity: bucket="minute" gives one file per (service,
                # minute) — D16 BatchKey — and run_tag=epoch makes file
                # names deterministic, so a replayed micro-batch (crash
                # between write and checkpoint commit) overwrites its own
                # files: exactly-once at the file level
                writer.write_table(
                    df,
                    table,
                    output_root,
                    layout=layout,
                    bucket="minute",
                    max_rows_per_file=max_rows_per_file,
                    run_tag=f"epoch{epoch_id}",
                )
        finally:
            if batch_df.is_cached:
                batch_df.unpersist()

    ws = (
        decoded.observe("ingest", F.count(F.lit(1)).alias("records"))  # D26/D27
        .writeStream.foreachBatch(flush)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        ws = ws.trigger(availableNow=True)
    elif trigger_seconds:
        # periodic flush interval — the D19 background task twin
        ws = ws.trigger(processingTime=f"{trigger_seconds} seconds")
    return ws.start()
