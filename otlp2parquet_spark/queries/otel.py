"""Reference-documented queries over the REAL otel_* tables (SURVEY §2.2,
reference docs/querying.md).

The oracle harness runs these shapes over the driver's synthetic tables
(queries/otel_surface.py); this module is the production form over ingested
data — registered views named exactly as the reference's table names
(src/types.rs:121-127) and one builder per documented query, including the
binary-vs-hex TraceId bridge the reference glosses over (SURVEY §7 hard-part
2). Exercised by pytest over decoded fixture data.
"""

from __future__ import annotations

from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otlp2parquet_spark.otel import schemas, writer

OTEL_TABLES = tuple(schemas.TABLE_COLUMNS)


def _present_tables(
    spark: SparkSession, root: str, layout: str, tables=None
) -> dict[str, DataFrame]:
    """{table: frame} per table under `root`. Only an absent table dir
    (e.g. summary) is skipped; any other read error raises."""
    out = {}
    for table in tables or OTEL_TABLES:
        try:
            out[table] = writer.read_table(spark, root, table, layout=layout)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
    return out


def register_otel_views(
    spark: SparkSession, root: str, *, layout: str = "parity", tables=None
) -> None:
    """`otel_logs` / `otel_traces` / `otel_metrics_*` temp views over a
    written layout (reference docs/querying.md preamble)."""
    for table, df in _present_tables(spark, root, layout, tables).items():
        df.createOrReplaceTempView(table)


def recent_logs(spark: SparkSession, limit: int = 10) -> DataFrame:
    """Q1 (docs/querying.md:11-16): newest records, 3 columns."""
    return (
        spark.table("otel_logs")
        .select("Timestamp", "ServiceName", "Body")
        .orderBy(F.desc("Timestamp"))
        .limit(limit)
    )


def logs_last_hour(spark: SparkSession) -> DataFrame:
    """Q2 (docs/querying.md:33-37): time filter with interval arithmetic.
    Partition-pruned under the native layout (year/month/day/hour cols)."""
    return spark.table("otel_logs").filter(
        F.col("Timestamp") > F.current_timestamp() - F.expr("INTERVAL 1 HOUR")
    )


def logs_by_service(spark: SparkSession) -> DataFrame:
    """Q3 (docs/querying.md:43-48)."""
    return (
        spark.table("otel_logs")
        .groupBy("ServiceName")
        .agg(F.count("*").alias("log_count"))
        .orderBy(F.desc("log_count"), "ServiceName")
    )


def recent_errors(spark: SparkSession, limit: int = 50) -> DataFrame:
    """Q4 (docs/querying.md:52-59)."""
    return (
        spark.table("otel_logs")
        .filter(F.col("SeverityText").isin("ERROR", "FATAL"))
        .select("Timestamp", "ServiceName", "SeverityText", "Body")
        .orderBy(F.desc("Timestamp"))
        .limit(limit)
    )


def error_traces(spark: SparkSession, limit: int = 20) -> DataFrame:
    """Q5 (docs/querying.md:63-69)."""
    return (
        spark.table("otel_traces")
        .filter(F.col("StatusCode") == "STATUS_CODE_ERROR")
        .select("Timestamp", "ServiceName", "SpanName", "Duration", "StatusMessage")
        .orderBy(F.desc("Duration"))
        .limit(limit)
    )


def slow_traces(spark: SparkSession, threshold_ns: int = 5_000_000_000) -> DataFrame:
    """Q6 (docs/querying.md:73-83): Duration ns -> seconds projection."""
    return (
        spark.table("otel_traces")
        .filter(F.col("Duration") > threshold_ns)
        .withColumn("duration_seconds", F.col("Duration") / 1e9)
        .select("Timestamp", "ServiceName", "SpanName", "Duration", "duration_seconds")
        .orderBy(F.desc("Duration"))
    )


def metrics_hourly(spark: SparkSession, table: str = "otel_metrics_gauge") -> DataFrame:
    """Q7 (docs/querying.md:87-95)."""
    return (
        spark.table(table)
        .groupBy(F.date_trunc("hour", "Timestamp").alias("hour"), "MetricName")
        .agg(F.avg("Value").alias("avg_value"), F.count("*").alias("n"))
        .orderBy("hour", "MetricName")
    )


def histogram_p95(spark: SparkSession) -> DataFrame:
    """Q8 (docs/querying.md:99-108): p95 upper bound from BucketCounts /
    ExplicitBounds — pure higher-order functions, no UDF. Walks the
    cumulative bucket counts to the first bucket covering rank 0.95*Count."""
    h = spark.table("otel_metrics_histogram")
    # cumulative counts per row: cum[i] = sum(BucketCounts[0..i])
    cum = F.expr(
        """
        transform(BucketCounts,
                  (c, i) -> aggregate(slice(BucketCounts, 1, i + 1),
                                      0L, (a, x) -> a + x))
        """
    )
    first_idx = F.expr(
        "array_position(transform(__cum, c -> c >= cast(ceil(0.95 * Count) as bigint)), true)"
    )
    return (
        h.withColumn("__cum", cum)
        .withColumn("__idx", first_idx)
        .withColumn(
            "p95_upper_bound",
            F.when(F.col("Count") == 0, F.lit(None).cast("double"))
            # bucket i (1-based) upper bound = ExplicitBounds[i-1]; overflow
            # bucket (beyond last bound) has no finite upper bound
            .when(
                F.col("__idx") <= F.size("ExplicitBounds"),
                F.expr("ExplicitBounds[__idx - 1]"),
            )
            .otherwise(F.lit(None).cast("double")),
        )
        .select("Timestamp", "MetricName", "Count", "p95_upper_bound")
        .orderBy("MetricName", "Timestamp")
    )


def exp_histogram_p95(spark: SparkSession, df: DataFrame | None = None) -> DataFrame:
    """Exponential-histogram p95 (r9): the base-2 sibling of histogram_p95
    over otel_metrics_exp_histogram — per row, walk the buckets in VALUE
    order (negative buckets from most- to least-negative, then the zero
    bucket, then positive buckets) to the bucket covering rank
    ceil(0.95 * Count), and report its OTel upper boundary with
    base = 2^(2^-Scale): -base^(NegativeOffset + j) for negative bucket j
    (its least-negative edge), 0.0 inside the zero region, and
    base^(PositiveOffset + i + 1) for positive bucket i (the OTLP
    exponential-histogram mapping; reference schema docs/reference.md
    metrics exponential_histogram section, golden
    testdata/parquet/metrics_exponential_histogram.parquet — whose rows
    carry empty negative arrays, so the negative branch is pinned by the
    synthetic-frame unit test instead). Pure HOFs, no UDF — the same
    cumulative walk as Q8, with the bound computed from the scale instead
    of read from ExplicitBounds.

    Negative-walk algebra: ascending value order is DESCENDING negative
    index, and the suffix sum counts[j..] is monotone decreasing in j, so
    the covering bucket is the LARGEST j whose suffix sum still reaches
    the rank = (number of indices whose suffix sum reaches it) - 1 — a
    size(filter(...)) instead of a second walk. `df` overrides the table
    lookup so tests can pin crafted bucket layouts."""
    h = df if df is not None else spark.table("otel_metrics_exponential_histogram")
    rank = "cast(ceil(0.95 * Count) as bigint)"
    neg_total = F.expr("aggregate(NegativeBucketCounts, 0L, (a, x) -> a + x)")
    # suffix sums of the negative counts: __nsuf[j] = sum(counts[j..end])
    nsuf = F.expr(
        """
        transform(NegativeBucketCounts,
                  (c, j) -> aggregate(
                      slice(NegativeBucketCounts, j + 1,
                            size(NegativeBucketCounts) - j),
                      0L, (a, x) -> a + x))
        """
    )
    cum = F.expr(
        f"""
        transform(PositiveBucketCounts,
                  (c, i) -> __neg + ZeroCount + aggregate(
                      slice(PositiveBucketCounts, 1, i + 1),
                      0L, (a, x) -> a + x))
        """
    )
    first_idx = F.expr(
        f"array_position(transform(__cum, c -> c >= {rank}), true)"
    )
    # largest negative index whose suffix sum reaches the rank (0-based)
    neg_idx = F.expr(f"size(filter(__nsuf, c -> c >= {rank})) - 1")
    base = F.pow(F.lit(2.0), F.pow(F.lit(2.0), -F.col("Scale").cast("double")))
    return (
        h.withColumn("__neg", neg_total)
        .withColumn("__nsuf", nsuf)
        .withColumn("__cum", cum)
        .withColumn("__idx", first_idx)
        .withColumn("__nidx", neg_idx)
        .withColumn(
            "p95_upper_bound",
            F.when(F.col("Count") == 0, F.lit(None).cast("double"))
            # rank inside the negative region: the covering bucket's
            # least-negative edge, -base^(NegativeOffset + j)
            .when(
                F.col("__neg") >= F.expr(rank),
                -F.pow(base, (F.col("NegativeOffset") + F.col("__nidx")).cast("double")),
            )
            # rank inside the zero bucket: no exponential boundary
            .when(
                F.col("__neg") + F.col("ZeroCount") >= F.expr(rank),
                F.lit(0.0),
            )
            # positive bucket i (1-based) upper bound = base^(offset + i):
            # 0-based index (i - 1), OTel upper exponent = offset + (i-1) + 1
            .when(
                F.col("__idx").isNotNull(),
                F.pow(base, (F.col("PositiveOffset") + F.col("__idx")).cast("double")),
            )
            .otherwise(F.lit(None).cast("double")),
        )
        .select(
            "Timestamp", "MetricName", "Count", "Scale", "ZeroCount", "p95_upper_bound"
        )
        .orderBy("MetricName", "Timestamp")
    )


def logs_with_traces(spark: SparkSession) -> DataFrame:
    """Q9 (docs/querying.md:112-124): logs ⋈ traces on TraceId. Logs carry
    binary ids, traces carry lowercase hex (§1.3.7) — the bridge is
    `lower(hex(TraceId))`, which the reference's doc query omits."""
    logs = spark.table("otel_logs").withColumn("TraceIdHex", F.lower(F.hex("TraceId")))
    traces = spark.table("otel_traces")
    return (
        logs.filter(F.col("SeverityText").isin("ERROR", "FATAL", "INFO"))
        .join(traces, logs.TraceIdHex == traces.TraceId, "inner")
        .select(
            logs.Timestamp.alias("log_time"),
            logs.ServiceName.alias("log_service"),
            logs.Body,
            traces.SpanName,
            traces.Duration,
        )
    )


def table_counts(spark: SparkSession, root: str, *, layout: str = "parity") -> DataFrame:
    """Q10 (reference tests/harness/mod.rs:207-249): per-table row counts;
    an empty (table_name, n) frame when no table is written yet."""
    dfs = [
        df.agg(F.count("*").alias("n")).select(F.lit(table).alias("table_name"), "n")
        for table, df in _present_tables(spark, root, layout).items()
    ]
    if not dfs:
        return spark.createDataFrame([], "table_name string, n bigint")
    return reduce(DataFrame.unionAll, dfs).orderBy("table_name")
