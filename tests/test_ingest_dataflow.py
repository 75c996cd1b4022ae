"""End-to-end test of the OTLP ingest dataflow, default tier, no external
fixtures: landing scan -> decode -> table split -> write, batch and
streaming, over a seeded landing set rendered with the wire-property
encoders (tests/test_wire_property.py).

Each signal directory holds valid payloads as pb, json, jsonl and pb.gz,
plus the four kinds of bad input the pipeline must account for: a 9 MiB
`.pb` (D4 size guard), a `.txt` (D3 unknown format), malformed JSON and a
corrupt gzip body (both quarantined, D25).
"""

from __future__ import annotations

import collections
import gzip
import json
import os
import random

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from otlp2parquet_spark import cli
from otlp2parquet_spark.otel import fast_flatten, fast_wire, ingest, schemas, writer
from otlp2parquet_spark.queries import otel as oq
from otlp2parquet_spark.streaming import ingest as sing
from test_wire_property import encode_message, encode_metrics_request, render_json

SIGNALS = ("logs", "traces", "metrics")
BASE_NS = 1_700_000_000_000_000_000  # 2023-11-14T22:13:20Z
SPREAD_NS = 300 * 10**9  # every timestamp within five minutes of BASE_NS
REQUEST_MSG = {
    "logs": "ExportLogsServiceRequest",
    "traces": "ExportTraceServiceRequest",
    "metrics": "ExportMetricsServiceRequest",
}
VALID = ("a.pb", "b.json", "c.jsonl", "d.pb.gz")
REJECTED = {"payload too large": 1, "unknown format": 1}
QUARANTINED = {"broken.json": "E-JSON", "corrupt.pb.gz": "E-DECODE"}


# ---------------------------------------------------------------------------
# Seeded OTLP trees


def _ts(rng) -> int:
    return BASE_NS + rng.randrange(SPREAD_NS)


def _attrs(rng) -> list[dict]:
    vals = [
        {"string_value": f"s{rng.randrange(100)}"},
        {"int_value": rng.randrange(-(2**40), 2**40)},
        {"bool_value": rng.random() < 0.5},
        {"double_value": round(rng.uniform(-1e3, 1e3), 3)},
    ]
    return [{"key": f"k{i}", "value": rng.choice(vals)} for i in range(rng.randrange(0, 3))]


def _resource(svc: str) -> dict:
    return {"attributes": [{"key": "service.name", "value": {"string_value": svc}}]}


def _log(rng, i: int) -> dict:
    return {
        "time_unix_nano": _ts(rng),
        "observed_time_unix_nano": _ts(rng),
        "severity_number": rng.randrange(1, 25),
        "severity_text": rng.choice(["INFO", "WARN", "ERROR"]),
        "body": {"string_value": f"message {i}"},
        "attributes": _attrs(rng),
        "trace_id": rng.randbytes(16),
        "span_id": rng.randbytes(8),
    }


def _span(rng, i: int) -> dict:
    start = _ts(rng)
    return {
        "trace_id": rng.randbytes(16),
        "span_id": rng.randbytes(8),
        "parent_span_id": rng.randbytes(8),
        "name": f"op{i}",
        "kind": rng.randrange(0, 6),
        "start_time_unix_nano": start,
        "end_time_unix_nano": start + rng.randrange(10**9),
        "attributes": _attrs(rng),
        "status": {"code": rng.randrange(0, 3), "message": rng.choice(["", "failed"])},
        "events": [{"time_unix_nano": _ts(rng), "name": "ev", "attributes": _attrs(rng)}],
        "links": [{"trace_id": rng.randbytes(16), "span_id": rng.randbytes(8)}],
    }


def _metric(rng, i: int, kind: str) -> dict:
    def number_dp():
        dp = {"time_unix_nano": _ts(rng), "attributes": _attrs(rng)}
        if rng.random() < 0.5:
            dp["as_double"] = round(rng.uniform(-1e6, 1e6), 4)
        else:
            dp["as_int"] = rng.randrange(-(2**40), 2**40)
        return dp

    m: dict = {"name": f"m{i}", "unit": "ms", "description": f"metric {i}"}
    if kind == "gauge":
        m["gauge"] = {"data_points": [number_dp() for _ in range(2)]}
    elif kind == "sum":
        m["sum"] = {
            "data_points": [number_dp() for _ in range(2)],
            "aggregation_temporality": 2,
            "is_monotonic": True,
        }
    elif kind == "histogram":
        m["histogram"] = {
            "data_points": [
                {
                    "time_unix_nano": _ts(rng),
                    "count": 6,
                    "sum": 12.5,
                    "bucket_counts": [1, 2, 3],
                    "explicit_bounds": [1.0, 5.0],
                    "attributes": _attrs(rng),
                }
            ],
            "aggregation_temporality": 2,
        }
    elif kind == "exponential_histogram":
        m["exponential_histogram"] = {
            "data_points": [
                {
                    "time_unix_nano": _ts(rng),
                    "count": 4,
                    "sum": 8.0,
                    "scale": 2,
                    "zero_count": 1,
                    "positive": {"offset": -1, "bucket_counts": [1, 2]},
                    "attributes": _attrs(rng),
                }
            ],
            "aggregation_temporality": 1,
        }
    else:
        m["summary"] = {
            "data_points": [
                {
                    "time_unix_nano": _ts(rng),
                    "count": 3,
                    "sum": 9.0,
                    "quantile_values": [{"quantile": 0.5, "value": 2.0}],
                }
            ]
        }
    return m


def _tree(signal: str, rng, svc: str) -> dict:
    n = rng.randrange(2, 6)
    if signal == "logs":
        scope = {"scope": {"name": "lib", "version": "1.0"},
                 "log_records": [_log(rng, i) for i in range(n)]}
        return {"resource_logs": [{"resource": _resource(svc), "scope_logs": [scope]}]}
    if signal == "traces":
        scope = {"scope": {"name": "lib"}, "spans": [_span(rng, i) for i in range(n)]}
        return {"resource_spans": [{"resource": _resource(svc), "scope_spans": [scope]}]}
    kinds = ("gauge", "sum", "histogram", "exponential_histogram", "summary")
    scope = {"scope": {"name": "lib"}, "metrics": [_metric(rng, i, k) for i, k in enumerate(kinds)]}
    return {"resource_metrics": [{"resource": _resource(svc), "scope_metrics": [scope]}]}


def _pb(signal: str, tree: dict) -> bytes:
    if signal == "metrics":
        return encode_metrics_request(tree)
    return encode_message(tree, REQUEST_MSG[signal])


def _json(signal: str, tree: dict) -> str:
    return json.dumps(render_json(tree, REQUEST_MSG[signal]))


def write_landing_set(root, seed: int = 7) -> None:
    """root/{logs,traces,metrics}/ with the VALID payloads and the bad
    inputs named in REJECTED/QUARANTINED."""
    rng = random.Random(seed)
    for signal in SIGNALS:
        d = root / signal
        d.mkdir()
        tree = lambda i: _tree(signal, rng, f"svc-{signal}-{i % 2}")  # noqa: E731
        (d / "a.pb").write_bytes(_pb(signal, tree(0)))
        (d / "b.json").write_text(_json(signal, tree(1)))
        (d / "c.jsonl").write_text(_json(signal, tree(2)) + "\n" + _json(signal, tree(3)) + "\n")
        (d / "d.pb.gz").write_bytes(gzip.compress(_pb(signal, tree(4))))
        (d / "big.pb").write_bytes(b"\0" * (9 * 1024 * 1024))
        (d / "notes.txt").write_text("not an OTLP payload")
        (d / "broken.json").write_text('{"resource')
        (d / "corrupt.pb.gz").write_bytes(b"\x1f\x8b" + b"not gzip at all")


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    root = tmp_path_factory.mktemp("dataflow_landing")
    write_landing_set(root)
    return root


# ---------------------------------------------------------------------------
# Expected rows: the walkers called directly on the landed bytes


def _walk(signal: str, name: str, content: bytes):
    """-> list of (per_type rows, skipped) for metrics, rows otherwise."""
    if name.endswith(".gz"):
        content = gzip.decompress(content)
    fmt = name.removesuffix(".gz").rsplit(".", 1)[-1]
    if signal == "metrics":
        if fmt == "pb":
            return [fast_wire.flatten_metrics_pb(content)]
        if fmt == "json":
            return [fast_flatten.flatten_metrics_request_json(content)]
        return fast_flatten.flatten_metrics_request_jsonl(content)
    if fmt == "pb":
        walk = fast_wire.flatten_logs_pb if signal == "logs" else fast_wire.flatten_traces_pb
        return walk(content)
    if fmt == "json":
        return fast_flatten.flatten_request_json(content, signal)
    return fast_flatten.flatten_request_jsonl(content, signal)


def expected_tables(landing, signal: str) -> tuple[dict[str, list], dict[str, int]]:
    """{table: raw walker rows}, {skip reason: count} over the VALID files."""
    rows: dict[str, list] = collections.defaultdict(list)
    skipped: collections.Counter = collections.Counter()
    for name in VALID:
        out = _walk(signal, name, (landing / signal / name).read_bytes())
        if signal != "metrics":
            rows[f"otel_{signal}"].extend(out)
            continue
        for per_type, skips in out:
            for mtype, trows in per_type.items():
                if mtype in schemas.PERSISTED_METRIC_TYPES:
                    rows[schemas.METRIC_TABLES[mtype]].extend(trows)
            skipped.update({k: v for k, v in skips.items() if v})
    return rows, dict(skipped)


def _sorted(df_or_rows) -> list:
    rows = df_or_rows.collect() if hasattr(df_or_rows, "collect") else df_or_rows
    return sorted((tuple(r) for r in rows), key=repr)


def _as_golden(spark, table: str, raw_rows: list):
    raw = pa.Table.from_pylist(raw_rows, schema=to_arrow_schema(schemas.raw_spark_schema(table)))
    return ingest.finalize(spark.createDataFrame(raw), table)


def _unpersist(tables: dict) -> None:
    if "_union" in tables:
        tables["_union"].unpersist()


# ---------------------------------------------------------------------------
# Batch: ingest_directory


@pytest.mark.parametrize("signal", SIGNALS)
def test_batch_ingest_matches_walkers(spark, landing, tmp_path, signal):
    """Per-table rows equal a direct walker decode of the same bytes;
    refused files are counted by reason and bad payloads quarantined with
    their typed codes."""
    qdir = str(tmp_path / "q")
    tables = ingest.ingest_directory(spark, str(landing / signal), signal, quarantine_dir=qdir)
    want, want_skipped = expected_tables(landing, signal)
    got = {k: v for k, v in tables.items() if not k.startswith("_")}
    assert set(got) == set(want)
    for table, raw_rows in want.items():
        assert raw_rows, table
        assert _sorted(got[table]) == _sorted(_as_golden(spark, table, raw_rows)), table
    if signal == "metrics":
        skipped = {r.reason: r["count"] for r in tables["_skipped"].collect()}
        assert skipped == want_skipped and skipped
    rejected = collections.Counter(r.reason for r in tables["_rejected"].collect())
    assert rejected == REJECTED
    codes = {os.path.basename(r.path): r.code for r in ingest.read_quarantine(spark, qdir).collect()}
    assert codes == QUARANTINED
    _unpersist(tables)


@pytest.mark.parametrize("signal", SIGNALS)
def test_locality_lane_matches_content_lane(spark, landing, signal):
    """The payload-locality reader (bytes opened in the Python worker) and
    the binaryFile content reader refuse the same files and decode to the
    same rows, for every signal's decode kernel."""
    decode = {
        "logs": ingest.decode_logs,
        "traces": ingest.decode_traces,
        "metrics": ingest.decode_metrics_union,
    }[signal]
    d = str(landing / signal)
    content, content_rejected = ingest.read_landing(spark, d)
    meta, meta_rejected = ingest.read_landing_meta(spark, d)
    assert "content" not in meta.columns
    assert _sorted(content_rejected) == _sorted(meta_rejected)
    a = _sorted(decode(content, "skip"))
    assert a and a == _sorted(decode(meta, "skip"))


# ---------------------------------------------------------------------------
# Streaming: stream_ingest


def _stream(spark, landing_dir, signal, out, ckpt, qdir, **kw):
    q = sing.stream_ingest(
        spark, landing_dir, signal, out, ckpt, available_now=True, quarantine_dir=qdir, **kw
    )
    q.awaitTermination(300)
    q.stop()
    assert q.exception() is None
    return q


@pytest.mark.parametrize(
    "signal,layout",
    [("logs", "parity"), ("traces", "parity"), ("metrics", "parity"), ("metrics", "native")],
)
def test_stream_writes_same_rows_as_batch(spark, landing, tmp_path, signal, layout):
    """stream_ingest(available_now=True) over the landing set writes the
    same row multiset per table as ingest_directory + the batch writer of
    the same layout, and quarantines the same payloads."""
    batch_out, stream_out = str(tmp_path / "batch"), str(tmp_path / "stream")
    tables = ingest.ingest_directory(
        spark, str(landing / signal), signal, quarantine_dir=str(tmp_path / "qb")
    )
    names = [k for k in tables if not k.startswith("_")]
    for name in names:
        if layout == "parity":
            writer.write_partitioned(tables[name], name, batch_out).collect()
        else:
            writer.write_native(tables[name], name, batch_out)
    _unpersist(tables)
    _stream(spark, str(landing / signal), signal, stream_out, str(tmp_path / "ckpt"),
            str(tmp_path / "qs"), layout=layout)
    for name in names:
        a = _sorted(writer.read_table(spark, batch_out, name, layout=layout))
        b = _sorted(writer.read_table(spark, stream_out, name, layout=layout))
        assert a and a == b, name
    q_stream = {os.path.basename(r.path): r.code
                for r in ingest.read_quarantine(spark, str(tmp_path / "qs")).collect()}
    assert q_stream == QUARANTINED


def test_stream_counts_rejected_landing_files(spark, tmp_path):
    """Oversized and unknown-extension files never reach the streaming
    decode; each micro-batch's progress event counts them under the
    `landing` observation instead of dropping them silently."""
    root = tmp_path / "set"
    root.mkdir()
    write_landing_set(root)
    logs = root / "logs"
    for name in QUARANTINED:
        os.remove(logs / name)
    out = str(tmp_path / "out")
    q = _stream(spark, str(logs), "logs", out, str(tmp_path / "ckpt"), None)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    rejected = sum(int(p["observedMetrics"]["landing"]["rejected"]) for p in progress)
    assert rejected == sum(REJECTED.values())
    want, _ = expected_tables(root, "logs")
    assert writer.read_table(spark, out, "otel_logs").count() == len(want["otel_logs"])


# ---------------------------------------------------------------------------
# CLI ingest


def test_cli_native_ingest_reports_rows_written_by_this_call(
    spark, landing, tmp_path, monkeypatch, capsys
):
    """`written` counts the rows one `ingest` call wrote, not the table:
    a second ingest into the same native root reports the same number, and
    one whose landing files are all refused reports 0."""
    monkeypatch.setenv("OTLP2PARQUET_LAYOUT", "native")
    out = str(tmp_path / "out")
    refused = tmp_path / "refused"
    refused.mkdir()
    (refused / "big.pb").write_bytes(b"\0" * (9 * 1024 * 1024))
    (refused / "notes.txt").write_text("not an OTLP payload")
    n = len(expected_tables(landing, "logs")[0]["otel_logs"])
    for run, (src, want) in enumerate([(landing / "logs", n), (landing / "logs", n), (refused, 0)]):
        argv = ["--output", out, "ingest", str(src), "logs", "--quarantine", str(tmp_path / "q")]
        assert cli.main(argv) == 0
        resp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert resp["written"] == {"otel_logs": want}, run
        assert resp["rejected"] == REJECTED
    assert writer.read_table(spark, out, "otel_logs", layout="native").count() == 2 * n


# ---------------------------------------------------------------------------
# Q10 views over a written root


def test_views_raise_on_unreadable_table(spark, tmp_path):
    """A table directory that exists but cannot be read is an error, not a
    missing table: only an absent directory is skipped."""
    root = tmp_path / "root"
    bad = root / "logs" / "svc" / "year=2024"
    bad.mkdir(parents=True)
    (bad / "corrupt.parquet").write_bytes(b"PAR1 definitely not parquet PAR1")
    with pytest.raises(Exception, match="corrupt.parquet"):
        oq.register_otel_views(spark, str(root), tables=["otel_logs", "otel_traces"])
    with pytest.raises(Exception, match="corrupt.parquet"):
        oq.table_counts(spark, str(root)).collect()


def test_table_counts_on_empty_root(spark, tmp_path):
    out = oq.table_counts(spark, str(tmp_path / "nothing-written"))
    assert out.columns == ["table_name", "n"]
    assert out.collect() == []
