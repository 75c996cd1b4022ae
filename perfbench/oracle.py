"""Order-insensitive result fingerprints and the DuckDB twins of the
documented OTLP queries (`otlp2parquet_spark.queries.otel`)."""

from __future__ import annotations

import datetime as dt
import hashlib
import os

EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _canon(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return (v - EPOCH) // dt.timedelta(microseconds=1)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def fingerprint(table) -> tuple[int, str]:
    """(row count, hash of the sorted canonical rows) of a pyarrow Table,
    columns taken in name order so both engines may order them freely."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted(repr(tuple(_canon(c[i]) for c in cols)) for i in range(table.num_rows))
    h = hashlib.sha256(repr(names).encode())
    for r in rows:
        h.update(r.encode())
    return table.num_rows, h.hexdigest()


# -- DuckDB over a written parity layout ------------------------------------

def duckdb_over_layout(root: str):
    """DuckDB connection with one view per otel table present under a
    parity-layout root; returns (connection, present table names)."""
    import duckdb

    from otlp2parquet_spark.otel.schemas import TABLE_PATH_SEGMENT

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    present = []
    for table, seg in TABLE_PATH_SEGMENT.items():
        d = os.path.join(root, seg)
        if os.path.isdir(d) and any(f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs):
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet("
                f"'{d}/**/*.parquet', hive_partitioning=false)"
            )
            present.append(table)
    return con, present


RANK = "CAST(ceil(0.95 * Count) AS BIGINT)"

DOC_SQL = {
    "recent_logs": "SELECT Timestamp, ServiceName, Body FROM otel_logs ORDER BY Timestamp DESC LIMIT 10",
    "logs_last_hour": "SELECT * FROM otel_logs WHERE Timestamp > now() - INTERVAL 1 HOUR",
    "logs_by_service": "SELECT ServiceName, count(*) AS log_count FROM otel_logs GROUP BY ServiceName",
    "recent_errors": (
        "SELECT Timestamp, ServiceName, SeverityText, Body FROM otel_logs "
        "WHERE SeverityText IN ('ERROR', 'FATAL') ORDER BY Timestamp DESC LIMIT 50"
    ),
    "error_traces": (
        "SELECT Timestamp, ServiceName, SpanName, Duration, StatusMessage FROM otel_traces "
        "WHERE StatusCode = 'STATUS_CODE_ERROR' ORDER BY Duration DESC LIMIT 20"
    ),
    "slow_traces": (
        "SELECT Timestamp, ServiceName, SpanName, Duration, Duration / 1e9 AS duration_seconds "
        "FROM otel_traces WHERE Duration > 5000000000"
    ),
    "metrics_hourly": (
        "SELECT date_trunc('hour', Timestamp) AS hour, MetricName, avg(Value) AS avg_value, "
        "count(*) AS n FROM otel_metrics_gauge GROUP BY 1, 2"
    ),
    "histogram_p95": f"""
        SELECT Timestamp, MetricName, Count,
               CASE WHEN Count = 0 THEN NULL
                    WHEN idx <= len(ExplicitBounds) THEN ExplicitBounds[idx] END AS p95_upper_bound
        FROM (SELECT *, list_position(list_transform(BucketCounts,
                  (c, i) -> list_sum(BucketCounts[1:i]) >= {RANK}), true) AS idx
              FROM otel_metrics_histogram)""",
    "exp_histogram_p95": f"""
        SELECT Timestamp, MetricName, Count, Scale, ZeroCount,
               CASE WHEN Count = 0 THEN NULL
                    WHEN neg >= {RANK} THEN -pow(base, NegativeOffset + nidx)
                    WHEN neg + ZeroCount >= {RANK} THEN 0.0
                    WHEN idx IS NOT NULL THEN pow(base, PositiveOffset + idx) END AS p95_upper_bound
        FROM (SELECT *,
                list_position(list_transform(PositiveBucketCounts,
                  (c, i) -> neg + ZeroCount + list_sum(PositiveBucketCounts[1:i]) >= {RANK}), true) AS idx,
                len(list_filter(list_transform(NegativeBucketCounts,
                  (c, j) -> list_sum(NegativeBucketCounts[j:])), s -> s >= {RANK})) - 1 AS nidx
              FROM (SELECT *, coalesce(list_sum(NegativeBucketCounts), 0) AS neg,
                           pow(2.0, pow(2.0, -Scale)) AS base
                    FROM otel_metrics_exponential_histogram))""",
    "logs_with_traces": """
        SELECT l.Timestamp AS log_time, l.ServiceName AS log_service, l.Body, t.SpanName, t.Duration
        FROM otel_logs l JOIN otel_traces t ON lower(hex(l.TraceId)) = t.TraceId
        WHERE l.SeverityText IN ('ERROR', 'FATAL', 'INFO')""",
}


def table_counts_sql(present: list[str]) -> str:
    return " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, count(*) AS n FROM {t}" for t in present
    )


def duckdb_fingerprint(con, sql: str) -> tuple[int, str]:
    return fingerprint(con.execute(sql).arrow())
