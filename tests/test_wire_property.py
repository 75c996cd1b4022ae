"""Property-based cross-validation of the two OTLP decoders.

Strategy: generate random-but-valid OTLP trees (hypothesis), render each tree
BOTH as protobuf wire bytes (tiny encoder below, written from the public wire
spec — the inverse of otel/wire.py) AND as protobuf-JSON, decode each with
the corresponding production decoder, flatten both, and require identical
rows. Any field-number, wire-type, zigzag, enum or id-encoding disagreement
between the two independent paths fails the property.

(The reference has no property tests — SURVEY §5.9; this goes beyond it.)
"""

from __future__ import annotations

import base64
import random
import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from otlp2parquet_spark.otel import flatten, otlp_json, wire

# ---------------------------------------------------------------------------
# Minimal protobuf encoder driven by the SAME descriptors (inverse of wire.py)


def _enc_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_zigzag(n: int) -> bytes:
    return _enc_varint((n << 1) ^ (n >> 63) if n < 0 else n << 1)


def encode_message(obj: dict, msg: str) -> bytes:
    desc = wire.DESCRIPTORS[msg]
    by_name = {name: (no, kind, rep) for no, (name, kind, rep) in desc.items()}
    out = bytearray()
    for name, val in obj.items():
        no, kind, rep = by_name[name]
        vals = val if rep else [val]
        for v in vals:
            if kind.startswith("msg:"):
                body = encode_message(v, kind[4:])
                out += _enc_varint(no << 3 | 2) + _enc_varint(len(body)) + body
            elif kind == "string":
                b = v.encode("utf-8")
                out += _enc_varint(no << 3 | 2) + _enc_varint(len(b)) + b
            elif kind == "bytes":
                out += _enc_varint(no << 3 | 2) + _enc_varint(len(v)) + v
            elif kind == "double":
                out += _enc_varint(no << 3 | 1) + struct.pack("<d", v)
            elif kind in ("fixed64",):
                out += _enc_varint(no << 3 | 1) + struct.pack("<Q", v)
            elif kind == "sfixed64":
                out += _enc_varint(no << 3 | 1) + struct.pack("<q", v)
            elif kind == "fixed32":
                out += _enc_varint(no << 3 | 5) + struct.pack("<I", v)
            elif kind == "sint32":
                out += _enc_varint(no << 3 | 0) + _enc_zigzag(v)
            elif kind == "bool":
                out += _enc_varint(no << 3 | 0) + _enc_varint(1 if v else 0)
            else:  # varint int64/uint64/int32/uint32/enum
                out += _enc_varint(no << 3 | 0) + _enc_varint(v & 0xFFFFFFFFFFFFFFFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# JSON rendering of the same canonical tree (protobuf-JSON mapping)

_INT64_KINDS = {"fixed64", "sfixed64", "int64", "uint64"}


def render_json(obj: dict, msg: str) -> dict:
    desc = wire.DESCRIPTORS[msg]
    by_name = {name: (kind, rep) for _, (name, kind, rep) in desc.items()}
    out = {}
    for name, val in obj.items():
        kind, rep = by_name[name]

        def one(v):
            if kind.startswith("msg:"):
                return render_json(v, kind[4:])
            if kind == "bytes":
                return base64.b64encode(v).decode()
            if kind in _INT64_KINDS:
                return str(v)  # protobuf-JSON renders 64-bit ints as strings
            return v

        out[otlp_json._camel(name)] = [one(v) for v in val] if rep else one(val)
    return out


# ---------------------------------------------------------------------------
# Strategies

_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=12
)
_key = st.text(alphabet="abcdefghij.x_", min_size=1, max_size=8)
_ns = st.integers(min_value=0, max_value=2**62)


def anyvalue(depth: int = 2):
    base = st.one_of(
        st.fixed_dictionaries({"string_value": _text}),
        st.fixed_dictionaries({"bool_value": st.booleans()}),
        st.fixed_dictionaries({"int_value": st.integers(-(2**53), 2**53)}),
        st.fixed_dictionaries(
            {"double_value": st.floats(allow_nan=False, allow_infinity=False, width=32)}
        ),
    )
    if depth <= 0:
        return base
    return st.one_of(
        base,
        st.fixed_dictionaries(
            {"array_value": st.fixed_dictionaries({"values": st.lists(anyvalue(depth - 1), max_size=3)})}
        ),
        st.fixed_dictionaries(
            {
                "kvlist_value": st.fixed_dictionaries(
                    {"values": st.lists(keyvalue(depth - 1), max_size=3, unique_by=lambda kv: kv["key"])}
                )
            }
        ),
    )


def keyvalue(depth: int = 1):
    return st.fixed_dictionaries({"key": _key, "value": anyvalue(depth)})


_attrs = st.lists(keyvalue(), max_size=4, unique_by=lambda kv: kv["key"])

_log_record = st.fixed_dictionaries(
    {},
    optional={
        "time_unix_nano": _ns,
        "observed_time_unix_nano": _ns,
        "severity_number": st.integers(0, 24),
        "severity_text": _text,
        "body": anyvalue(),
        "attributes": _attrs,
        "flags": st.integers(0, 2**32 - 1),
        "trace_id": st.binary(min_size=16, max_size=16),
        "span_id": st.binary(min_size=8, max_size=8),
    },
)

_scope = st.fixed_dictionaries({}, optional={"name": _text, "version": _text})
_resource = st.fixed_dictionaries({}, optional={"attributes": _attrs})

_logs_request = st.fixed_dictionaries(
    {
        "resource_logs": st.lists(
            st.fixed_dictionaries(
                {"scope_logs": st.lists(
                    st.fixed_dictionaries(
                        {"log_records": st.lists(_log_record, max_size=3)},
                        optional={"scope": _scope, "schema_url": _text},
                    ),
                    max_size=2,
                )},
                optional={"resource": _resource, "schema_url": _text},
            ),
            max_size=2,
        )
    }
)

_span = st.fixed_dictionaries(
    {
        "trace_id": st.binary(min_size=16, max_size=16),
        "span_id": st.binary(min_size=8, max_size=8),
    },
    optional={
        "parent_span_id": st.binary(min_size=8, max_size=8),
        "name": _text,
        "kind": st.integers(0, 5),
        "start_time_unix_nano": _ns,
        "end_time_unix_nano": _ns,
        "attributes": _attrs,
        "status": st.fixed_dictionaries({}, optional={"message": _text, "code": st.integers(0, 2)}),
        "events": st.lists(
            st.fixed_dictionaries(
                {}, optional={"time_unix_nano": _ns, "name": _text, "attributes": _attrs}
            ),
            max_size=2,
        ),
        "links": st.lists(
            st.fixed_dictionaries(
                {
                    "trace_id": st.binary(min_size=16, max_size=16),
                    "span_id": st.binary(min_size=8, max_size=8),
                },
                optional={"trace_state": _text, "attributes": _attrs},
            ),
            max_size=2,
        ),
    },
)

_traces_request = st.fixed_dictionaries(
    {
        "resource_spans": st.lists(
            st.fixed_dictionaries(
                {"scope_spans": st.lists(
                    st.fixed_dictionaries({"spans": st.lists(_span, max_size=3)}, optional={"scope": _scope}),
                    max_size=2,
                )},
                optional={"resource": _resource},
            ),
            max_size=2,
        )
    }
)

_number_dp = st.fixed_dictionaries(
    {"time_unix_nano": _ns},
    optional={
        "as_double": st.floats(allow_nan=False, allow_infinity=False),
        "as_int": st.integers(-(2**62), 2**62),
        "attributes": _attrs,
    },
)

_metrics_request = st.fixed_dictionaries(
    {
        "resource_metrics": st.lists(
            st.fixed_dictionaries(
                {
                    "scope_metrics": st.lists(
                        st.fixed_dictionaries(
                            {
                                "metrics": st.lists(
                                    st.fixed_dictionaries(
                                        {"name": _text},
                                        optional={
                                            "description": _text,
                                            "unit": _text,
                                            "gauge": st.fixed_dictionaries(
                                                {"data_points": st.lists(_number_dp, max_size=3)}
                                            ),
                                            "sum": st.fixed_dictionaries(
                                                {
                                                    "data_points": st.lists(_number_dp, max_size=3),
                                                    "aggregation_temporality": st.integers(0, 2),
                                                    "is_monotonic": st.booleans(),
                                                }
                                            ),
                                        },
                                    ),
                                    max_size=2,
                                )
                            },
                            optional={"scope": _scope},
                        ),
                        max_size=2,
                    )
                },
                optional={"resource": _resource},
            ),
            max_size=2,
        )
    }
)


# ---------------------------------------------------------------------------
# Exotic metrics shapes: a seeded generator for the shapes the strategies
# above leave out — exponential-histogram bucket geometry (negative
# offsets/scales, empty or one-sided buckets), exemplars on every data-point
# type, histogram min/max presence (absent vs explicit 0.0), summary
# quantiles and multi-member resource/scope nesting. The fused walkers are
# swept over it in test_fast_wire.py (pb) and test_fast_flatten.py (JSON).

# Exemplar per the official opentelemetry-proto (metrics.proto): wire.py has
# no Exemplar descriptor by design (the tables keep no exemplar columns), so
# the encoder needs a local overlay and the decoders exercise their
# unknown-field skip on it.
_EXEMPLAR_DESC = {
    2: ("time_unix_nano", "fixed64", False),
    3: ("as_double", "double", False),
    4: ("span_id", "bytes", False),
    5: ("trace_id", "bytes", False),
    6: ("as_int", "sfixed64", False),
    7: ("filtered_attributes", "msg:KeyValue", True),
}
# data-point message -> exemplars field number (official proto)
_EXEMPLAR_FIELD = {
    "NumberDataPoint": 5,
    "HistogramDataPoint": 8,
    "ExponentialHistogramDataPoint": 11,
}


def _encode_exemplar(ex: dict) -> bytes:
    out = bytearray()
    for no, (name, kind, rep) in _EXEMPLAR_DESC.items():
        if name not in ex:
            continue
        vals = ex[name] if rep else [ex[name]]
        for v in vals:
            if kind == "fixed64":
                out += _enc_varint(no << 3 | 1) + struct.pack("<Q", v)
            elif kind == "sfixed64":
                out += _enc_varint(no << 3 | 1) + struct.pack("<q", v)
            elif kind == "double":
                out += _enc_varint(no << 3 | 1) + struct.pack("<d", v)
            elif kind == "bytes":
                out += _enc_varint(no << 3 | 2) + _enc_varint(len(v)) + v
            else:  # msg:KeyValue
                body = encode_message(v, "KeyValue")
                out += _enc_varint(no << 3 | 2) + _enc_varint(len(body)) + body
    return bytes(out)


def _splice_exemplars(dp_bytes: bytes, msg: str, exemplars: list[dict]) -> bytes:
    """Append exemplar submessages to an encoded data-point message —
    protobuf field order is free, so appending is a valid encoding."""
    no = _EXEMPLAR_FIELD[msg]
    out = bytearray(dp_bytes)
    for ex in exemplars:
        body = _encode_exemplar(ex)
        out += _enc_varint(no << 3 | 2) + _enc_varint(len(body)) + body
    return bytes(out)


def encode_metrics_request(tree: dict) -> bytes:
    """encode_message + exemplar splice: `__exemplars__` keys (stripped from
    the wire-descriptor view) become real Exemplar submessages."""

    def enc_dp(dp: dict, msg: str) -> bytes:
        exemplars = dp.pop("__exemplars__", [])
        raw = encode_message(dp, msg)
        return _splice_exemplars(raw, msg, exemplars) if exemplars else raw

    out = bytearray()
    for rm in tree["resource_metrics"]:
        rm_body = bytearray()
        if "resource" in rm:
            body = encode_message(rm["resource"], "Resource")
            rm_body += _enc_varint(1 << 3 | 2) + _enc_varint(len(body)) + body
        for sm in rm["scope_metrics"]:
            sm_body = bytearray()
            if "scope" in sm:
                body = encode_message(sm["scope"], "InstrumentationScope")
                sm_body += _enc_varint(1 << 3 | 2) + _enc_varint(len(body)) + body
            for metric in sm["metrics"]:
                m_body = bytearray()
                for name, no in (("name", 1), ("description", 2), ("unit", 3)):
                    if name in metric:
                        b = metric[name].encode()
                        m_body += _enc_varint(no << 3 | 2) + _enc_varint(len(b)) + b
                for kind, no, dp_msg, c_msg in (
                    ("gauge", 5, "NumberDataPoint", "Gauge"),
                    ("sum", 7, "NumberDataPoint", "Sum"),
                    ("histogram", 9, "HistogramDataPoint", "Histogram"),
                    ("exponential_histogram", 10, "ExponentialHistogramDataPoint", "ExponentialHistogram"),
                    ("summary", 11, "SummaryDataPoint", "Summary"),
                ):
                    if kind not in metric:
                        continue
                    container = dict(metric[kind])
                    dps = container.pop("data_points", [])
                    c_body = bytearray()
                    for dp in dps:
                        b = enc_dp(dict(dp), dp_msg)
                        c_body += _enc_varint(1 << 3 | 2) + _enc_varint(len(b)) + b
                    c_body += encode_message(container, c_msg)
                    m_body += _enc_varint(no << 3 | 2) + _enc_varint(len(c_body)) + c_body
                sm_body += _enc_varint(2 << 3 | 2) + _enc_varint(len(m_body)) + m_body
            rm_body += _enc_varint(2 << 3 | 2) + _enc_varint(len(sm_body)) + sm_body
        out += _enc_varint(1 << 3 | 2) + _enc_varint(len(rm_body)) + rm_body
    return bytes(out)


def _gen_exemplar(rng: random.Random) -> dict:
    ex: dict = {"time_unix_nano": rng.randrange(0, 2**62)}
    if rng.random() < 0.5:
        ex["as_double"] = round(rng.uniform(-1e6, 1e6), 3)
    else:
        ex["as_int"] = rng.randrange(-(2**40), 2**40)
    if rng.random() < 0.6:
        ex["trace_id"] = rng.randbytes(16)
        ex["span_id"] = rng.randbytes(8)
    if rng.random() < 0.4:
        ex["filtered_attributes"] = [
            {"key": f"f{i}", "value": {"string_value": f"v{rng.randrange(9)}"}}
            for i in range(rng.randrange(1, 3))
        ]
    return ex


def _gen_attrs(rng: random.Random) -> list[dict]:
    # string/int/bool only: nested, bytes and double values are covered by
    # the Hypothesis strategies above
    vals = [
        {"string_value": "s" + str(rng.randrange(100))},
        {"int_value": rng.randrange(-(2**50), 2**50)},
        {"bool_value": rng.random() < 0.5},
    ]
    return [
        {"key": f"k{i}", "value": rng.choice(vals)}
        for i in range(rng.randrange(0, 4))
    ]


def gen_exotic_metrics_tree(seed: int) -> dict:
    rng = random.Random(seed)
    ts = lambda: rng.randrange(0, 2**62)

    def number_dp():
        dp = {"time_unix_nano": ts(), "attributes": _gen_attrs(rng)}
        if rng.random() < 0.5:
            dp["as_double"] = round(rng.uniform(-1e9, 1e9), 4)
        else:
            dp["as_int"] = rng.randrange(-(2**53), 2**53)
        if rng.random() < 0.3:
            dp["start_time_unix_nano"] = ts()
        if rng.random() < 0.5:
            dp["__exemplars__"] = [_gen_exemplar(rng) for _ in range(rng.randrange(1, 3))]
        return dp

    def hist_dp():
        n_b = rng.randrange(0, 5)
        dp = {
            "time_unix_nano": ts(),
            "count": rng.randrange(0, 2**50),
            "sum": round(rng.uniform(0, 1e9), 4),
            "bucket_counts": [rng.randrange(0, 2**40) for _ in range(n_b + 1)] if n_b else [],
            "explicit_bounds": sorted(round(rng.uniform(-100, 1e6), 2) for _ in range(n_b)),
            "attributes": _gen_attrs(rng),
        }
        # min/max presence matrix: absent, explicit 0.0, ordinary value
        r = rng.random()
        if r < 0.33:
            dp["min"], dp["max"] = 0.0, 0.0
        elif r < 0.66:
            dp["min"] = round(rng.uniform(-1e3, 1e3), 3)
            dp["max"] = dp["min"] + abs(round(rng.uniform(0, 1e3), 3))
        if rng.random() < 0.4:
            dp["__exemplars__"] = [_gen_exemplar(rng)]
        return dp

    def exp_dp():
        def buckets():
            return {
                "offset": rng.randrange(-20, 20),
                "bucket_counts": [rng.randrange(0, 2**30) for _ in range(rng.randrange(0, 4))],
            }

        dp = {
            "time_unix_nano": ts(),
            "count": rng.randrange(0, 2**50),
            "sum": round(rng.uniform(-1e6, 1e6), 4),
            "scale": rng.randrange(-10, 21),
            "zero_count": rng.randrange(0, 2**30),
            "attributes": _gen_attrs(rng),
        }
        if rng.random() < 0.8:
            dp["positive"] = buckets()
        if rng.random() < 0.5:
            dp["negative"] = buckets()
        if rng.random() < 0.5:
            dp["min"] = round(rng.uniform(-1e3, 0), 3)
            dp["max"] = round(rng.uniform(0, 1e3), 3)
        if rng.random() < 0.4:
            dp["__exemplars__"] = [_gen_exemplar(rng) for _ in range(rng.randrange(1, 3))]
        return dp

    def summary_dp():
        qs = sorted(rng.uniform(0, 1) for _ in range(rng.randrange(0, 4)))
        return {
            "time_unix_nano": ts(),
            "count": rng.randrange(0, 2**40),
            "sum": round(rng.uniform(0, 1e6), 4),
            "quantile_values": [
                {"quantile": round(q, 4), "value": round(rng.uniform(0, 1e3), 4)} for q in qs
            ],
            "attributes": _gen_attrs(rng),
        }

    def metric(i: int):
        m = {"name": f"m{i}", "unit": rng.choice(["", "ms", "1", "By"])}
        if rng.random() < 0.5:
            m["description"] = f"d{i}"
        kind = rng.choice(["gauge", "sum", "histogram", "exponential_histogram", "summary"])
        if kind == "gauge":
            m["gauge"] = {"data_points": [number_dp() for _ in range(rng.randrange(1, 4))]}
        elif kind == "sum":
            m["sum"] = {
                "data_points": [number_dp() for _ in range(rng.randrange(1, 4))],
                "aggregation_temporality": rng.randrange(0, 3),
                "is_monotonic": rng.random() < 0.5,
            }
        elif kind == "histogram":
            m["histogram"] = {
                "data_points": [hist_dp() for _ in range(rng.randrange(1, 3))],
                "aggregation_temporality": rng.randrange(0, 3),
            }
        elif kind == "exponential_histogram":
            m["exponential_histogram"] = {
                "data_points": [exp_dp() for _ in range(rng.randrange(1, 3))],
                "aggregation_temporality": rng.randrange(0, 3),
            }
        else:
            m["summary"] = {"data_points": [summary_dp() for _ in range(rng.randrange(1, 3))]}
        return m

    return {
        "resource_metrics": [
            {
                "resource": {
                    "attributes": [
                        {"key": "service.name", "value": {"string_value": f"svc{seed}-{r}"}},
                        *_gen_attrs(rng),
                    ]
                },
                "scope_metrics": [
                    {
                        "scope": {
                            "name": f"scope{s}",
                            "version": rng.choice(["", "1.2.3"]),
                            "attributes": _gen_attrs(rng),
                        },
                        "metrics": [metric(i) for i in range(rng.randrange(1, 4))],
                    }
                    for s in range(rng.randrange(1, 3))
                ],
            }
            for r in range(rng.randrange(1, 3))
        ]
    }


# ---------------------------------------------------------------------------


@settings(max_examples=150, deadline=None)
@given(_logs_request)
def test_logs_pb_json_agree(tree):
    pb_rows = flatten.flatten_logs(
        wire.parse_request_pb(encode_message(tree, "ExportLogsServiceRequest"), "logs")
    )
    js_rows = flatten.flatten_logs(
        otlp_json.parse_request_json(
            __import__("json").dumps(render_json(tree, "ExportLogsServiceRequest")), "logs"
        )
    )
    assert pb_rows == js_rows


@settings(max_examples=150, deadline=None)
@given(_traces_request)
def test_traces_pb_json_agree(tree):
    pb_rows = flatten.flatten_traces(
        wire.parse_request_pb(encode_message(tree, "ExportTraceServiceRequest"), "traces")
    )
    js_rows = flatten.flatten_traces(
        otlp_json.parse_request_json(
            __import__("json").dumps(render_json(tree, "ExportTraceServiceRequest")), "traces"
        )
    )
    assert pb_rows == js_rows


@settings(max_examples=100, deadline=None)
@given(_metrics_request)
def test_metrics_pb_json_agree(tree):
    pb_out, pb_skip = flatten.flatten_metrics(
        wire.parse_request_pb(encode_message(tree, "ExportMetricsServiceRequest"), "metrics")
    )
    js_out, js_skip = flatten.flatten_metrics(
        otlp_json.parse_request_json(
            __import__("json").dumps(render_json(tree, "ExportMetricsServiceRequest")), "metrics"
        )
    )
    assert pb_out == js_out and pb_skip == js_skip


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=16, max_size=16))
def test_id_hex_base64_equivalent(raw):
    """The two accepted JSON id encodings decode to the same bytes."""
    assert otlp_json.decode_id_bytes(raw.hex(), "t") == raw
    assert otlp_json.decode_id_bytes(base64.b64encode(raw).decode(), "t") == raw
