"""Differential verification of the fused OTLP/JSON walker
(otel/fast_flatten.py) against the semantic authority — the two-step
parse_request_json + flatten pair — over Hypothesis-generated requests,
both JSON spellings, and the reference fixtures (tests/e2e.rs decode
semantics; invalid fixtures testdata/invalid/README.md)."""

from __future__ import annotations

import base64
import json

import pytest
from hypothesis import given, settings

from otlp2parquet_spark.otel import fast_flatten, flatten, otlp_json, wire
from otlp2parquet_spark.otel.wire import OtlpDecodeError

from test_wire_property import (
    _INT64_KINDS,
    _logs_request,
    _traces_request,
    render_json,
)


def render_json_snake(obj: dict, msg: str) -> dict:
    """snake_case spelling, ints as JSON numbers, ids as hex — the other
    half of the accepted input space (render_json covers camel/str/b64)."""
    desc = wire.DESCRIPTORS[msg]
    by_name = {name: (kind, rep) for _, (name, kind, rep) in desc.items()}
    out = {}
    for name, val in obj.items():
        kind, rep = by_name[name]

        def one(v):
            if kind.startswith("msg:"):
                return render_json_snake(v, kind[4:])
            if kind == "bytes":
                return v.hex() if v else ""
            return v

        out[name] = [one(v) for v in val] if rep else one(val)
    return out


def _slow_logs(doc: str):
    return flatten.flatten_logs(otlp_json.parse_request_json(doc, "logs"))


def _slow_traces(doc: str):
    return flatten.flatten_traces(otlp_json.parse_request_json(doc, "traces"))


@settings(max_examples=150, deadline=None)
@given(_logs_request)
def test_logs_fused_matches_slow_camel(tree):
    doc = json.dumps(render_json(tree, "ExportLogsServiceRequest"))
    assert fast_flatten.flatten_request_json(doc, "logs") == _slow_logs(doc)


@settings(max_examples=150, deadline=None)
@given(_logs_request)
def test_logs_fused_matches_slow_snake(tree):
    doc = json.dumps(render_json_snake(tree, "ExportLogsServiceRequest"))
    assert fast_flatten.flatten_request_json(doc, "logs") == _slow_logs(doc)


@settings(max_examples=150, deadline=None)
@given(_traces_request)
def test_traces_fused_matches_slow_camel(tree):
    doc = json.dumps(render_json(tree, "ExportTraceServiceRequest"))
    assert fast_flatten.flatten_request_json(doc, "traces") == _slow_traces(doc)


@settings(max_examples=150, deadline=None)
@given(_traces_request)
def test_traces_fused_matches_slow_snake(tree):
    doc = json.dumps(render_json_snake(tree, "ExportTraceServiceRequest"))
    assert fast_flatten.flatten_request_json(doc, "traces") == _slow_traces(doc)


def test_reference_fixture_parity():
    body = open("/root/reference/testdata/logs.jsonl").read()
    slow = []
    for req in otlp_json.parse_request_jsonl(body, "logs"):
        slow.extend(flatten.flatten_logs(req))
    assert fast_flatten.flatten_request_jsonl(body, "logs") == slow

    tr = open("/root/reference/testdata/trace.json").read()
    assert fast_flatten.flatten_request_json(tr, "traces") == _slow_traces(tr)


# Error parity: every payload the slow lane rejects, the fused lane must
# reject too (class-level; messages may differ in wording).
_BAD_LOGS = [
    "not json",
    "[1,2,3]",
    '{"resourceLogs": 7}',
    '{"resourceLogs": [7]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"timeUnixNano": true}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"severityNumber": "NOPE"}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"traceId": "zz!"}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"traceId": "abcd"}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"severityText": 5}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"attributes": 3}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"attributes": [{"key": 1}]}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"body": {"intValue": "x"}}]}]}]}',
    '{"resourceLogs": [{"resource": {"attributes": [{"value": {"stringValue": 9}}]}}]}',
    # float({}) used to escape as TypeError and fail the Spark task instead
    # of quarantining the payload (round-6 ADVICE finding)
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"body": {"doubleValue": {}}}]}]}]}',
]

_BAD_TRACES = [
    '{"resourceSpans": [{"scopeSpans": [{"spans": [{"kind": 99}]}]}]}',
    '{"resourceSpans": [{"scopeSpans": [{"spans": [{"kind": "SPAN_KIND_BOGUS"}]}]}]}',
    '{"resourceSpans": [{"scopeSpans": [{"spans": [{"status": {"code": 9}}]}]}]}',
    '{"resourceSpans": [{"scopeSpans": [{"spans": [{"spanId": "xyz"}]}]}]}',
    '{"resourceSpans": [{"scopeSpans": [{"spans": [{"startTimeUnixNano": []}]}]}]}',
    '{"resourceSpans": [{"scopeSpans": [{"spans": [{"links": [{"traceId": "0102"}]}]}]}]}',
]


@pytest.mark.parametrize("doc", _BAD_LOGS)
def test_bad_logs_rejected_by_both(doc):
    with pytest.raises(OtlpDecodeError):
        _slow_logs(doc)
    with pytest.raises(OtlpDecodeError):
        fast_flatten.flatten_request_json(doc, "logs")


@pytest.mark.parametrize("doc", _BAD_TRACES)
def test_bad_traces_rejected_by_both(doc):
    with pytest.raises(OtlpDecodeError):
        _slow_traces(doc)
    with pytest.raises(OtlpDecodeError):
        fast_flatten.flatten_request_json(doc, "traces")


def test_body_with_no_known_member_is_null():
    """{} and unknown-member AnyValue bodies encode as NULL, not "null"."""
    for body in ("{}", '{"mystery": 1}'):
        doc = f'{{"resourceLogs": [{{"scopeLogs": [{{"logRecords": [{{"body": {body}}}]}}]}}]}}'
        slow = _slow_logs(doc)
        fast = fast_flatten.flatten_request_json(doc, "logs")
        assert fast == slow
        assert fast[0]["Body"] is None


def test_bytes_value_roundtrip_matches():
    raw = b"\x00\xffhello"
    b64 = base64.b64encode(raw).decode()
    doc = json.dumps(
        {
            "resourceLogs": [
                {
                    "scopeLogs": [
                        {"logRecords": [{"body": {"bytesValue": b64}}]}
                    ]
                }
            ]
        }
    )
    assert fast_flatten.flatten_request_json(doc, "logs") == _slow_logs(doc)


def test_int64_kinds_exported():
    # guard the shared-import surface this module leans on
    assert "fixed64" in _INT64_KINDS


from test_wire_property import _metrics_request  # noqa: E402


def _slow_metrics_json(doc: str):
    from otlp2parquet_spark.otel import flatten as _fl

    return _fl.flatten_metrics(otlp_json.parse_request_json(doc, "metrics"))


@settings(max_examples=150, deadline=None)
@given(_metrics_request)
def test_metrics_fused_matches_slow_camel(tree):
    doc = json.dumps(render_json(tree, "ExportMetricsServiceRequest"))
    assert fast_flatten.flatten_metrics_json(json.loads(doc)) == _slow_metrics_json(doc)


@settings(max_examples=150, deadline=None)
@given(_metrics_request)
def test_metrics_fused_matches_slow_snake(tree):
    doc = json.dumps(render_json_snake(tree, "ExportMetricsServiceRequest"))
    assert fast_flatten.flatten_metrics_json(json.loads(doc)) == _slow_metrics_json(doc)


def test_metrics_fused_exotic_and_fixture_parity():
    import copy as _copy

    from test_wire_property import gen_exotic_metrics_tree

    # exotic trees rendered to protobuf-JSON (exemplars stripped — the
    # canonical strategy shape only; pb-side exemplars are covered in
    # test_fast_wire)
    def strip(o):
        if isinstance(o, dict):
            return {k: strip(v) for k, v in o.items() if k != "__exemplars__"}
        if isinstance(o, list):
            return [strip(v) for v in o]
        return o

    for seed in range(25):
        tree = strip(_copy.deepcopy(gen_exotic_metrics_tree(seed)))
        for render in (render_json, render_json_snake):
            doc = json.dumps(render(tree, "ExportMetricsServiceRequest"))
            assert fast_flatten.flatten_metrics_json(
                json.loads(doc)
            ) == _slow_metrics_json(doc), (seed, render.__name__)


def test_bad_metrics_rejected_not_crashed():
    """Malformed metrics payloads must raise OtlpDecodeError (the class the
    ingest quarantine catches), never a bare AttributeError/TypeError that
    would fail the Spark task (round-5 review finding)."""
    bad = [
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"summary":{"dataPoints":[{"quantileValues":[1]}]}}]}]}]}',
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"gauge":{"dataPoints":[7]}}]}]}]}',
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"sum":{"aggregationTemporality":"BOGUS"}}]}]}]}',
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"histogram":{"dataPoints":[{"bucketCounts":7}]}}]}]}]}',
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"sum":{"isMonotonic":3}}]}]}]}',
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"gauge":{"dataPoints":[{"asDouble":{}}]}}]}]}]}',
        # numeric temporality outside {0,1,2} must not be persisted
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"sum":{"aggregationTemporality":7}}]}]}]}',
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"sum":{"aggregationTemporality":-1}}]}]}]}',
    ]
    for doc in bad:
        with pytest.raises(OtlpDecodeError):
            fast_flatten.flatten_metrics_json(json.loads(doc))
        with pytest.raises(OtlpDecodeError):
            _slow_metrics_json(doc)


def test_metrics_skip_counters_nan_infinity_missing():
    """Missing, literal-NaN, literal-Infinity and overflowing (1e400)
    values are counted per reason, like summary points, not landed."""
    gauge = (
        '{"timeUnixNano": "1000"}, {"timeUnixNano": "2000", "asDouble": 1.5}, '
        '{"asDouble": NaN}, {"asDouble": -Infinity}, {"asDouble": 1e400}'
    )
    summary = (
        '{"timeUnixNano": "3000", "count": "4", "sum": 10.0, '
        '"quantileValues": [{"value": 1.0}, {"quantile": 0.5, "value": 2.0}]}'
    )
    doc = (
        '{"resourceMetrics": [{"scopeMetrics": [{"metrics": ['
        f'{{"name": "g", "gauge": {{"dataPoints": [{gauge}]}}}}, '
        f'{{"name": "s", "summary": {{"dataPoints": [{summary}]}}}}'
        "]}]}]}"
    )
    fast = fast_flatten.flatten_metrics_json(json.loads(doc))
    assert fast == _slow_metrics_json(doc)
    per_type, skipped = fast
    assert [r["Value"] for r in per_type["gauge"]] == [1.5]
    assert skipped == {
        "missing_values": 1,
        "nan_values": 1,
        "infinity_values": 2,
        "summaries": 1,
    }


def test_int_value_beyond_int64_kept_exact():
    """An intValue past int64 is encoded as the exact integer, not dropped
    or rounded through a double."""
    big = 2**63 + 5
    doc = (
        '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"timeUnixNano": "1", '
        f'"attributes": [{{"key": "big", "value": {{"intValue": "{big}"}}}}]}}]}}]}}]}}'
    )
    fast = fast_flatten.flatten_request_json(doc, "logs")
    assert fast == _slow_logs(doc)
    assert fast[0]["LogAttributes"] == f'{{"big":{big}}}'


def test_traces_enum_names_events_and_links():
    """Enum NAMES (the strategies render numbers), events and links with
    base64 ids: the fused walker maps them like the two-step lane."""
    span = {
        "traceId": "a71f3d1a6d2d3cadb3669cbd50e165e4",
        "spanId": "34249d8b829f4116",
        "name": "op",
        "kind": "SPAN_KIND_CLIENT",
        "startTimeUnixNano": "1760738064624180000",
        "endTimeUnixNano": "1760738064991180000",
        "status": {"code": "STATUS_CODE_ERROR", "message": "boom"},
        "events": [
            {
                "timeUnixNano": "1760738064700000000",
                "name": "retry",
                "attributes": [{"key": "n", "value": {"intValue": "2"}}],
            }
        ],
        "links": [{"traceId": "px89Gm0tPK2zZpy9UOFl5A==", "spanId": "NCSdi4KfQRY="}],
    }
    doc = json.dumps({"resourceSpans": [{"scopeSpans": [{"spans": [span]}]}]})
    fast = fast_flatten.flatten_request_json(doc, "traces")
    assert fast == _slow_traces(doc)
    row = fast[0]
    assert row["SpanKind"] == "SPAN_KIND_CLIENT"
    assert row["StatusCode"] == "STATUS_CODE_ERROR"
    assert row["Duration"] == 367000000
    assert row["EventsAttributes"] == ['{"n":2}']
    assert row["LinksTraceId"] == ["a71f3d1a6d2d3cadb3669cbd50e165e4"]
