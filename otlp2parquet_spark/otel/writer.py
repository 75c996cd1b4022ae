"""Partitioned Parquet sink (reference D21-D23, src/writer/write.rs).

Two modes, per SURVEY.md §7 hard-part 4:

- **parity mode** — byte-parity with the reference layout
  ``{root}/{signal}/{service}/year=YYYY/month=MM/day=DD/hour=HH/{ts_us}-{uuid32}.parquet``
  including Snappy compression, schema-version footer metadata, field_ids and
  the uint32 TraceFlags column. Spark's `partitionBy` can produce neither the
  bare `{service}` dir level nor custom file names, so each (service, hour)
  group is written by `applyInArrow` with pyarrow (Arrow-native: no pandas
  round-trip between the Spark batch and the parquet writer) — the write
  itself runs ON THE EXECUTORS (one task per group, no driver collect), so it scales with
  the number of (service, hour) groups. Group sizes are bounded by
  `max_rows_per_file` (reference batch.max_rows default 200k, D17).

- **native mode** — idiomatic Spark layout
  ``{root}/{signal}/ServiceName=/year=/month=/day=/hour=/part-*.parquet``
  via `df.write.partitionBy(...)`: strictly better partition pruning (service
  becomes a real Hive partition column, SURVEY §4 row 2) and object-store
  safe (Hadoop committers). This is the 100 TB path; parity mode exists for
  drop-in compatibility with readers of the reference's layout.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from otlp2parquet_spark.otel import schemas

DEFAULT_MAX_ROWS_PER_FILE = 200_000  # reference src/config/platform.rs:16


def sanitize_service_name(name: str | None) -> str:
    """Filesystem-hostile chars -> '_', empty -> 'unknown-service'
    (reference src/writer/write.rs:132-148)."""
    if not name:
        return "unknown-service"
    out = "".join("_" if c in '/\\:*?"<>| ' else c for c in name)
    return out or "unknown-service"


SANITIZE_REGEX = r'[/\\:*?"<>| ]'


def sanitize_service_col(col) -> F.Column:
    """Column twin of sanitize_service_name (D22) for the native writer."""
    return F.when(
        F.coalesce(col, F.lit("")) == "", F.lit("unknown-service")
    ).otherwise(F.regexp_replace(col, SANITIZE_REGEX, "_"))


def generate_parquet_path(
    root: str, table: str, service: str | None, min_ts_us: int, file_id: str | None = None
) -> str:
    """Reference path builder (src/writer/write.rs:93-130): partition time =
    batch min timestamp, now() fallback when ts <= 0, `{ts}-{uuid32}` name.

    `file_id` overrides the random uuid with a deterministic name — the
    streaming sink derives it from (epoch, group) so a retried micro-batch
    overwrites its own files instead of duplicating them (exactly-once at
    the file level; the reference's HTTP flush is only at-least-once).

    When `file_id` is given the whole path must be deterministic, so the
    reference's now() fallback for ts <= 0 is replaced by the 1970-01-01
    sentinel partition — a replayed task re-derives the SAME path and
    overwrites instead of duplicating."""
    if min_ts_us <= 0:
        if file_id is not None:
            min_ts_us = 0  # deterministic sentinel -> year=1970 partition
        else:
            min_ts_us = int(datetime.now(tz=timezone.utc).timestamp() * 1_000_000)
    dt = datetime.fromtimestamp(min_ts_us / 1_000_000, tz=timezone.utc)
    return os.path.join(
        root,
        schemas.TABLE_PATH_SEGMENT[table],
        sanitize_service_name(service),
        f"year={dt.year:04d}",
        f"month={dt.month:02d}",
        f"day={dt.day:02d}",
        f"hour={dt.hour:02d}",
        f"{min_ts_us}-{file_id or uuid.uuid4().hex}.parquet",
    )


def _resolve_fs(path: str):
    """(pyarrow FileSystem, fs-relative path) for an object-store URI, or
    (None, path) for a plain local path (D24 twin of storage.rs:12-104).

    The Hadoop-style ``s3a://`` scheme used by `RuntimeConfig.output_root`
    is normalized to pyarrow's ``s3://``; ``file://`` resolves to the local
    filesystem (useful to exercise this branch in tests without S3). S3
    credentials/region/endpoint come from the standard AWS env vars, which
    pyarrow reads on each executor."""
    if "://" not in path:
        return None, path
    from pyarrow import fs as pafs

    uri = path.replace("s3a://", "s3://", 1)
    return pafs.FileSystem.from_uri(uri)


def _arrow_to_golden(tbl: pa.Table, table: str) -> pa.Table:
    """Spark-Arrow group -> golden schema via column casts only — no pandas
    round-trip, no Python-list materialization."""
    target = schemas.arrow_schema(table)
    arrays = []
    for f in target:
        col = tbl.column(f.name)
        if col.type != f.type:
            col = col.cast(f.type)
        arrays.append(col.combine_chunks())
    return pa.Table.from_arrays(arrays, schema=target)


def write_partitioned(
    df: DataFrame,
    table: str,
    root: str,
    *,
    bucket: str = "hour",
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    run_tag: str | None = None,
) -> DataFrame:
    """Parity-mode write: one Parquet file per (service, time-bucket) group.

    `bucket` is "hour" for batch mode, "minute" for the streaming twin of the
    reference's (service, minute) BatchKey (D16, src/batch/mod.rs:24-44).
    Returns an accounting frame (path, rows, service) — the D27 partitions[]
    response twin. Executes distributed: groupBy shuffles rows to one task
    per group, each task writes its own file with pyarrow.

    File names are always the deterministic `{run_tag}-{group-hash}-{chunk}`:
    the streaming sink passes `run_tag` = the epoch id so a replayed
    micro-batch overwrites rather than duplicates its output, and batch mode
    draws ONE random tag on the driver at plan-build time so a retried or
    speculative task (or a re-evaluated accounting frame) re-derives the same
    paths and overwrites its own first attempt — task-retry-safe without an
    object-store rename commit protocol. Distinct batch runs still get
    distinct tags, so append semantics across runs are preserved.
    """
    trunc = {"hour": "hour", "minute": "minute"}[bucket]
    if run_tag is None:
        run_tag = uuid.uuid4().hex[:16]  # driver-side, once per plan
    out_schema = StructType(
        [
            StructField("path", StringType(), False),
            StructField("rows", LongType(), False),
            StructField("service", StringType(), True),
        ]
    )

    def write_group(keys: tuple, tbl: pa.Table) -> pa.Table:
        """Arrow-native group writer (applyInArrow): the Spark-Arrow batch
        goes straight to the golden parquet via sort + column casts — the
        pandas round-trip (Arrow->pandas on entry, .tolist()->Arrow on
        write) was ~half the write-stage CPU at bench scale. Sort keeps
        null timestamps last (pandas sort_values parity)."""
        import hashlib
        import pyarrow.compute as pc

        tbl = tbl.drop_columns(
            [c for c in ("__bucket", "__chunk") if c in tbl.column_names]
        )
        idx = pc.sort_indices(
            tbl, sort_keys=[("Timestamp", "ascending")], null_placement="at_end"
        )
        tbl = tbl.take(idx)
        # applyInArrow may hand keys as pyarrow scalars — normalize to
        # Python values so path building and the group hash are stable
        kp = tuple(k.as_py() if hasattr(k, "as_py") else k for k in keys)
        service = kp[0]
        gh = hashlib.sha256(repr(kp).encode()).hexdigest()[:16]
        paths: list[str] = []
        nrows: list[int] = []
        for ci, start in enumerate(range(0, tbl.num_rows, max_rows_per_file)):
            chunk = tbl.slice(start, max_rows_per_file)
            min_ts = pc.min(chunk.column("Timestamp"))
            min_ts_us = min_ts.value if min_ts.is_valid else 0
            file_id = f"{run_tag}-{gh}-{ci}"
            path = generate_parquet_path(root, table, service, min_ts_us, file_id)
            fs, where = _resolve_fs(path)
            if fs is None:
                os.makedirs(os.path.dirname(path), exist_ok=True)
            else:
                fs.create_dir(os.path.dirname(where), recursive=True)
            pq.write_table(
                _arrow_to_golden(chunk, table),
                where,
                filesystem=fs,
                compression="snappy",  # reference golden footers, D23
            )
            paths.append(path)
            nrows.append(chunk.num_rows)
        return pa.table(
            {
                "path": pa.array(paths, pa.string()),
                "rows": pa.array(nrows, pa.int64()),
                "service": pa.array([service] * len(paths), pa.string()),
            }
        )

    bucketed = df.withColumn("__bucket", F.date_trunc(trunc, F.col("Timestamp")))
    # Memory bound: applyInPandas materializes a whole group per task, so a
    # hot (service, bucket) with 100M rows would OOM an executor. Salt any
    # group beyond max_rows_per_file into ceil(n/max) sub-groups — each task
    # then holds at most one file's worth of rows. The reference has the
    # same invariant via its flush thresholds (D17). The group size comes
    # from a COUNT window over (service, bucket) rather than a pre-count
    # aggregate + join: an aggregate would re-evaluate the upstream frame —
    # for the ingest path that means running the whole Python decode twice —
    # while the window computes the salt in the same single pass (WindowExec
    # spills oversized partitions to disk; only the post-salt applyInPandas
    # groups must fit in memory, and those are bounded by construction).
    wspec = Window.partitionBy("ServiceName", "__bucket")
    bucketed = (
        bucketed.withColumn("__n", F.count("*").over(wspec))
        .withColumn(
            "__chunk",
            F.when(
                F.col("__n") > max_rows_per_file,
                F.pmod(F.xxhash64("Timestamp"), F.ceil(F.col("__n") / max_rows_per_file)),
            ).otherwise(F.lit(0)),
        )
        .drop("__n")
    )
    return bucketed.groupBy("ServiceName", "__bucket", "__chunk").applyInArrow(
        write_group, out_schema
    )


def write_native(
    df: DataFrame,
    table: str,
    root: str,
    *,
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    mode: str = "append",
) -> int:
    """Native-mode write: Hive partitioning on (service, year, month, day,
    hour) — Catalyst partition pruning covers both the time predicates (Q11)
    and service narrowing (SURVEY §4 rows 1-2). `maxRecordsPerFile` enforces
    the reference's 200k-row file-size policy (D17) without a custom batcher.

    Returns the rows this call wrote, counted by an observe() probe in the
    write job itself (reading the table back would also count earlier
    appends).
    """
    path = os.path.join(root, schemas.TABLE_PATH_SEGMENT[table])
    obs = Observation()
    (
        df.withColumn("service", sanitize_service_col(F.col("ServiceName")))
        .withColumn("year", F.year("Timestamp"))
        .withColumn("month", F.month("Timestamp"))
        .withColumn("day", F.dayofmonth("Timestamp"))
        .withColumn("hour", F.hour("Timestamp"))
        # cluster rows so each output file covers one contiguous time range
        # per service (reference batch clustering, SURVEY §4 row 6)
        .repartition("service", "year", "month", "day", "hour")
        # above the shuffle: when the shuffle turns out empty, adaptive
        # execution replaces the stage below it and a probe there is lost
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .sortWithinPartitions("Timestamp")
        .write.mode(mode)
        .option("compression", "snappy")
        .option("maxRecordsPerFile", max_rows_per_file)
        .partitionBy("service", "year", "month", "day", "hour")
        .parquet(path)
    )
    return obs.get["rows"]


def write_table(
    df: DataFrame,
    table: str,
    root: str,
    *,
    layout: str = "parity",
    bucket: str = "hour",
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    run_tag: str | None = None,
) -> int:
    """The layout -> writer dispatch for batch and streaming ingest: write
    one table in `layout` ("parity" or "native"; `bucket` and `run_tag` are
    parity-only) and return the rows THIS call wrote."""
    if layout == "parity":
        acct = write_partitioned(
            df, table, root, bucket=bucket, max_rows_per_file=max_rows_per_file,
            run_tag=run_tag,
        )
        return sum(r.rows for r in acct.collect())
    return write_native(df, table, root, max_rows_per_file=max_rows_per_file)


def read_table(spark, root: str, table: str, *, layout: str = "parity") -> DataFrame:
    """Read-back of a written table (Q10).

    parity layout: recursive lookup (the year=/... dirs under the non-Hive
    `{service}` level are data-path only; the golden schema carries no
    partition columns). native layout: Hive partition discovery, so
    service/year/month/day/hour become prunable partition columns (Q11).
    """
    path = os.path.join(root, schemas.TABLE_PATH_SEGMENT[table])
    if layout == "parity":
        return spark.read.option("recursiveFileLookup", "true").parquet(path)
    return spark.read.parquet(path)
