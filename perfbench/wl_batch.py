"""otlp_batch: the `ingest` CLI path, the documented queries, then the
registry operators.

One pass = for logs, traces and metrics: `ingest.ingest_directory(...,
quarantine_dir=...)` -> `writer.write_partitioned(...).collect()` per
table (parity layout, hour buckets, default max rows) -> accounting
(rejected, quarantined, skipped summaries); then
`queries.otel.register_otel_views` and every documented builder, forced
by collecting its result as Arrow (the results are then checked against
DuckDB without running the queries again); then the operator suite
(opsuite.py) over generated tables.
"""

from __future__ import annotations

import os
import shutil
import time

import opsuite
import oracle
import otlpgen
from harness import Bench, engine_phase, median, noop, pct

SIGNALS = ("logs", "traces", "metrics")
SPEC = otlpgen.BatchSpec()
PROBE_SPEC = otlpgen.BatchSpec(log_payloads=3, logs_per_payload=20, trace_payloads=2,
                               spans_per_payload=20, metric_payloads=2, points_per_payload=10,
                               malformed_per_signal=1, oversize_per_signal=1)


def builders(root: str):
    from otlp2parquet_spark.queries import otel as q

    return {
        "recent_logs": q.recent_logs,
        "logs_last_hour": q.logs_last_hour,
        "logs_by_service": q.logs_by_service,
        "recent_errors": q.recent_errors,
        "error_traces": q.error_traces,
        "slow_traces": q.slow_traces,
        "metrics_hourly": q.metrics_hourly,
        "histogram_p95": q.histogram_p95,
        "exp_histogram_p95": q.exp_histogram_p95,
        "logs_with_traces": q.logs_with_traces,
        "table_counts": lambda spark: q.table_counts(spark, root),
    }


def ingest_pass(b: Bench, landing: str, out: str, qroot: str, max_payload: int) -> dict:
    """Ingest every signal of `landing` into `out`; returns accounting and
    the time each signal's rows became readable, relative to the start."""
    from otlp2parquet_spark.otel import ingest, writer

    spark = b.spark
    acct: dict = {"rows": {}, "by_service": {}, "rejected": {}, "quarantined": {},
                  "summaries": 0, "files": [], "done_at": {}}
    t0 = time.time()
    for signal in SIGNALS:
        qdir = os.path.join(qroot, signal)
        with b.tracer.span("otel.ingest"):
            tables = ingest.ingest_directory(
                spark, os.path.join(landing, signal), signal,
                max_payload_bytes=max_payload, quarantine_dir=qdir,
            )
        for name, df in tables.items():
            if name.startswith("_"):
                continue
            with b.tracer.span("otel.writer"):
                rows = writer.write_partitioned(df, name, out).collect()
            acct["rows"][name] = sum(r.rows for r in rows)
            acct["files"].extend((r.path, r.rows) for r in rows)
            if name == "otel_logs":
                for r in rows:
                    acct["by_service"][r.service] = acct["by_service"].get(r.service, 0) + r.rows
        with b.tracer.span("otel.ingest.accounting"):
            acct["rejected"][signal] = tables["_rejected"].count()
            acct["quarantined"][signal] = ingest.read_quarantine(spark, qdir).count()
            if "_skipped" in tables:
                acct["summaries"] = sum(
                    r["count"] for r in tables["_skipped"].collect() if r["reason"] == "summaries")
                tables["_union"].unpersist()
        acct["done_at"][signal] = time.time() - t0
    acct["wall_s"] = time.time() - t0
    return acct


def query_pass(b: Bench, out: str) -> tuple[dict[str, float], dict]:
    """Every documented builder over the written layout, each forced by
    collecting its result as Arrow; returns (seconds, result) per query."""
    from otlp2parquet_spark.queries import otel as q

    spark = b.spark
    times, results = {}, {}
    with b.tracer.span("queries.otel"):
        q.register_otel_views(spark, out)
        for name, build in builders(out).items():
            t = time.time()
            with b.tracer.span(f"queries.otel.{name}"):
                try:
                    results[name] = build(spark).toArrow()
                except Exception as e:  # counted, reported, never fatal
                    b.failures.append(f"query {name}: {e!r}"[:300])
            times[name] = time.time() - t
            b.op(name in results, f"query {name}")
    return times, results


def check_queries(b: Bench, out: str, results: dict, exp: dict) -> None:
    """Every documented query's result against its DuckDB twin over the
    same written Parquet, plus the generator's known answers."""
    con, present = oracle.duckdb_over_layout(out)
    sqls = dict(oracle.DOC_SQL, table_counts=oracle.table_counts_sql(present))
    for name, result in results.items():
        got = oracle.fingerprint(result)
        want = oracle.duckdb_fingerprint(con, sqls[name])
        b.check(got == want, f"query {name}: spark {got} != duckdb {want}")
        if name == "logs_last_hour":
            b.check(got[0] == exp["logs_last_hour"],
                    f"logs_last_hour rows {got[0]} != generated {exp['logs_last_hour']}")
        if name in ("logs_with_traces", "recent_errors", "error_traces", "slow_traces"):
            b.check(got[0] > 0, f"query {name} returned no rows")
    con.close()


def decode_only(b: Bench, landing: str, max_payload: int, signals=SIGNALS) -> None:
    """Traced run only: scan and decode-only noop actions over the same
    payloads, per signal and per format."""
    from pyspark.sql import functions as F

    from otlp2parquet_spark.otel import ingest

    spark = b.spark
    rows_fmt: dict[str, float] = {}
    secs_fmt: dict[str, float] = {}
    payloads = rejected = 0
    t_scan = 0.0
    for signal in signals:
        d = os.path.join(landing, signal)
        t = time.time()
        with b.tracer.span("decode_only.scan"):
            acc, rej = ingest.read_landing_auto(spark, d, max_payload_bytes=max_payload)
            payloads += acc.count()
            rejected += rej.count()
        t_scan += time.time() - t
        decode = {"logs": ingest.decode_logs, "traces": ingest.decode_traces,
                  "metrics": ingest.decode_metrics_union}[signal]
        t = time.time()
        with b.tracer.span("decode_only.decode"):
            noop(decode(acc, "skip"))
        b.layer[f"decode.{signal}_s"] = time.time() - t
        for fmt in otlpgen.FORMATS[signal]:
            part = acc.filter(F.col("fmt") == fmt)
            frame = decode(part, "skip")
            if signal == "metrics":
                frame = frame.filter(F.col("MetricType") != "skipped")
            t = time.time()
            n = frame.count()
            secs_fmt[fmt] = secs_fmt.get(fmt, 0.0) + time.time() - t
            rows_fmt[fmt] = rows_fmt.get(fmt, 0.0) + n
    b.layer["scan.s"] = t_scan
    b.layer["scan.payloads"] = float(payloads)
    b.layer["scan.rejected"] = float(rejected)
    for fmt in ("pb", "json", "jsonl"):
        if secs_fmt.get(fmt):
            b.layer[f"decode.rows_per_s.{fmt}"] = rows_fmt[fmt] / secs_fmt[fmt]


def run(b: Bench) -> None:
    anchor = int(time.time()) * otlpgen.NS
    t = time.time()
    landing = b.path("landing")
    exp = otlpgen.build_landing(landing, b.seed, anchor, SPEC)
    probe_landing = b.path("probe-landing")
    otlpgen.build_landing(probe_landing, b.seed + 1, anchor, PROBE_SPEC)
    suite = opsuite.Suite(b)
    b.gen_s = time.time() - t
    n_dirs = [0]

    def fresh_dirs():
        n_dirs[0] += 1
        return b.path(f"out{n_dirs[0]}"), b.path(f"quarantine{n_dirs[0]}")

    def probe():
        from otlp2parquet_spark.otel import ingest

        acc, rej = ingest.read_landing_auto(b.spark, os.path.join(probe_landing, "logs"),
                                            max_payload_bytes=PROBE_SPEC.max_payload_bytes)
        b.check(acc.count() == PROBE_SPEC.log_payloads + PROBE_SPEC.malformed_per_signal
                and rej.count() == PROBE_SPEC.oversize_per_signal, "probe: landing scan counts")

    b.setup(probe)

    # each pass is a fresh CLI-style ingest of the whole landing directory;
    # passes repeat until --seconds have elapsed (one pass takes longer)
    passes = []
    t_end = time.time() + b.seconds
    out = None
    while not passes or time.time() < t_end:
        if out:
            shutil.rmtree(out, ignore_errors=True)
        out, qroot = fresh_dirs()
        tp = time.time()
        with b.tracer.span("pass"):
            with engine_phase(b, "ingest"):
                acct = ingest_pass(b, landing, out, qroot, SPEC.max_payload_bytes)
            with engine_phase(b, "query"):
                qt, results = query_pass(b, out)
            with engine_phase(b, "ops"):
                ot = suite.run_pass()
        pass_s = time.time() - tp
        for signal in SIGNALS:
            b.op(check_ingest_signal(b, acct, exp, signal), f"ingest {signal}")
        passes.append((pass_s, acct, qt, ot))
        b.log(f"pass {len(passes)} {pass_s:.2f}s (ingest {acct['wall_s']:.2f}s, "
              f"queries {sum(qt.values()):.2f}s, operators {sum(ot.values()):.2f}s)")
        shutil.rmtree(qroot, ignore_errors=True)
    check_queries(b, out, results, exp)
    suite.check_oracles()
    b.log("output checks done")

    rows = sum(exp["rows"].values())
    payloads = {s: len(os.listdir(os.path.join(landing, s))) for s in SIGNALS}
    fresh = [a["done_at"][s] for _, a, _, _ in passes for s in SIGNALS for _ in range(payloads[s])]
    b.e2e.update(
        pass_s=median([p for p, _, _, _ in passes]),
        rows_per_s=median([rows / a["wall_s"] for _, a, _, _ in passes]),
        fresh_p50_s=pct(fresh, 50), fresh_p95_s=pct(fresh, 95),
    )
    b.report += [
        ("ingest_rows_per_s", b.e2e["rows_per_s"], "rows/s"),
        ("otel_query_s", median([sum(qt.values()) for _, _, qt, _ in passes]), "s"),
        ("ops_suite_s", median([sum(ot.values()) for _, _, _, ot in passes]), "s"),
        ("passes", float(len(passes)), "count"),
    ]
    if b.trace:
        layer_metrics(b, passes, exp, landing)
        suite.layer_metrics([ot for _, _, _, ot in passes])


def check_ingest_signal(b: Bench, acct: dict, exp: dict, signal: str) -> bool:
    """One signal's written rows and accounting against the generator."""
    tables = {"logs": ["otel_logs"], "traces": ["otel_traces"],
              "metrics": [t for t in exp["rows"] if t.startswith("otel_metrics")]}[signal]
    got = {t: acct["rows"].get(t, 0) for t in tables}
    want = {t: exp["rows"][t] for t in tables}
    for k in ("rejected", "quarantined"):
        got[k], want[k] = acct[k][signal], exp[k][signal]
    if signal == "metrics":
        got["summaries"], want["summaries"] = acct["summaries"], exp["summaries"]
    if signal == "logs":
        got["by_service"], want["by_service"] = acct["by_service"], exp["logs_by_service"]
    return b.check(got == want, f"ingest {signal}: {got} != {want}")


def layer_metrics(b: Bench, passes, exp: dict, landing: str) -> None:
    n = len(passes)
    b.layer["trace.pass_s"] = median([p for p, _, _, _ in passes])
    tot = b.tracer.totals()
    for k in list(b.layer):
        if k.startswith(("spark.ingest.", "spark.query.", "spark.ops.")):
            b.layer[k] /= n
    decode_only(b, landing, SPEC.max_payload_bytes)
    decode_s = sum(b.layer.get(f"decode.{s}_s", 0.0) for s in SIGNALS)
    b.layer["writer.s"] = max(0.0, tot.get("otel.writer", 0.0) / n - decode_s)
    files = passes[-1][1]["files"]
    b.layer["writer.files"] = float(len(files))
    b.layer["writer.bytes"] = float(sum(os.path.getsize(p) for p, _ in files if os.path.exists(p)))
    b.layer["writer.rows_per_file_p50"] = median([r for _, r in files]) if files else 0.0
    b.layer["decode.rows"] = float(sum(exp["rows"].values()))
    b.layer["decode.quarantined"] = float(sum(exp["quarantined"].values()))
    b.layer["decode.skipped_summaries"] = float(exp["summaries"])
    for name in builders("").keys():
        b.layer[f"otel_query.{name}_s"] = median([qt[name] for _, _, qt, _ in passes])
