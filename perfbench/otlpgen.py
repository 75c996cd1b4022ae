"""Seeded OTLP request generator with its own protobuf and JSON renderers.

Every request is first built as a plain-Python model (dicts and lists with
the OTLP field names), then rendered either as protobuf, with the small
encoder below written from the public OTLP field numbers
(opentelemetry-proto v1), or as OTLP/JSON. The package's own codecs are
never imported here, so the generator stays an independent source of truth.

All randomness comes from one ``random.Random(seed)``; timestamps are
offsets from an ``anchor_ns`` the caller passes in, so one (seed, anchor)
pair always yields byte-identical payloads.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import struct
from dataclasses import dataclass, field

NS = 1_000_000_000
SERVICES = [
    "frontend", "checkout", "cart", "payment", "catalog", "shipping",
    "email", "ads", "recommendation", "currency", "quote", "fraud-detection",
]
SEVERITIES = [(5, "DEBUG"), (9, "INFO"), (13, "WARN"), (17, "ERROR"), (21, "FATAL")]
SEVERITY_WEIGHTS = [10, 60, 15, 12, 3]
WORDS = (
    "request served cache miss retry timeout upstream downstream order item "
    "user session token queue batch flush commit rollback shard replica"
).split()


# ---------------------------------------------------------------------------
# protobuf encoder (varint / fixed / length-delimited), field numbers from
# opentelemetry/proto/{common,resource,logs,trace,metrics}/v1/*.proto


def _varint(n: int) -> bytes:
    if n < 0:
        n += 1 << 64
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _key(fno: int, wt: int) -> bytes:
    return _varint((fno << 3) | wt)


def _ld(fno: int, payload: bytes) -> bytes:
    return _key(fno, 2) + _varint(len(payload)) + payload


def _str(fno: int, s: str) -> bytes:
    return _ld(fno, s.encode())


def _u(fno: int, n: int) -> bytes:
    return _key(fno, 0) + _varint(n)


def _f64(fno: int, n: int) -> bytes:
    return _key(fno, 1) + struct.pack("<Q", n)


def _sf64(fno: int, n: int) -> bytes:
    return _key(fno, 1) + struct.pack("<q", n)


def _dbl(fno: int, x: float) -> bytes:
    return _key(fno, 1) + struct.pack("<d", x)


def _f32(fno: int, n: int) -> bytes:
    return _key(fno, 5) + struct.pack("<I", n)


def _zz(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _anyvalue_pb(v) -> bytes:
    if isinstance(v, bool):
        return _u(2, int(v))
    if isinstance(v, int):
        return _u(3, v)
    if isinstance(v, float):
        return _dbl(4, v)
    if isinstance(v, dict):  # kvlist
        return _ld(6, b"".join(_ld(1, _kv_pb(k, x)) for k, x in v.items()))
    return _str(1, v)


def _kv_pb(k: str, v) -> bytes:
    return _str(1, k) + _ld(2, _anyvalue_pb(v))


def _attrs_pb(fno: int, attrs: dict) -> bytes:
    return b"".join(_ld(fno, _kv_pb(k, v)) for k, v in attrs.items())


def _resource_pb(res: dict) -> bytes:
    return _ld(1, _attrs_pb(1, res))


def _scope_pb(scope: dict) -> bytes:
    return _ld(1, _str(1, scope["name"]) + _str(2, scope["version"]))


def _log_pb(r: dict) -> bytes:
    b = _f64(1, r["time"]) + _u(2, r["sev"]) + _str(3, r["sev_text"])
    b += _ld(5, _anyvalue_pb(r["body"])) + _attrs_pb(6, r["attrs"])
    if r["trace_id"]:
        b += _f32(8, 1) + _ld(9, r["trace_id"]) + _ld(10, r["span_id"])
    return b + _f64(11, r["observed"])


def _span_pb(s: dict) -> bytes:
    b = _ld(1, s["trace_id"]) + _ld(2, s["span_id"])
    if s["parent"]:
        b += _ld(4, s["parent"])
    b += _str(5, s["name"]) + _u(6, s["kind"])
    b += _f64(7, s["start"]) + _f64(8, s["end"]) + _attrs_pb(9, s["attrs"])
    for ev in s["events"]:
        b += _ld(11, _f64(1, ev["time"]) + _str(2, ev["name"]) + _attrs_pb(3, ev["attrs"]))
    st = b""
    if s["status_msg"]:
        st += _str(2, s["status_msg"])
    if s["status"]:
        st += _u(3, s["status"])
    return b + _ld(15, st)


def _packed_f64(fno: int, xs, fmt: str) -> bytes:
    return _ld(fno, b"".join(struct.pack(fmt, x) for x in xs))


def _dp_head(dp: dict, attrs_fno: int) -> bytes:
    return _attrs_pb(attrs_fno, dp["attrs"]) + _f64(2, dp["start"]) + _f64(3, dp["time"])


def _metric_pb(m: dict) -> bytes:
    b = _str(1, m["name"]) + _str(2, m["description"]) + _str(3, m["unit"])
    t = m["type"]
    dps = m["points"]
    if t in ("gauge", "sum"):
        body = b""
        for dp in dps:
            v = dp["value"]
            val = _dbl(4, v) if isinstance(v, float) else _sf64(6, v)
            body += _ld(1, _dp_head(dp, 7) + val)
        if t == "sum":
            body += _u(2, m["temporality"]) + _u(3, int(m["monotonic"]))
        return b + _ld(5 if t == "gauge" else 7, body)
    if t == "histogram":
        body = b""
        for dp in dps:
            body += _ld(1, _dp_head(dp, 9) + _f64(4, dp["count"]) + _dbl(5, dp["sum"])
                        + _packed_f64(6, dp["bucket_counts"], "<Q")
                        + _packed_f64(7, dp["bounds"], "<d")
                        + _dbl(11, dp["min"]) + _dbl(12, dp["max"]))
        return b + _ld(9, body + _u(2, m["temporality"]))
    if t == "exponential_histogram":
        body = b""
        for dp in dps:
            def buckets(bk):
                return _u(1, _zz(bk["offset"])) + _ld(2, b"".join(_varint(c) for c in bk["counts"]))
            body += _ld(1, _dp_head(dp, 1) + _f64(4, dp["count"]) + _dbl(5, dp["sum"])
                        + _u(6, _zz(dp["scale"])) + _f64(7, dp["zero_count"])
                        + _ld(8, buckets(dp["positive"])) + _ld(9, buckets(dp["negative"]))
                        + _dbl(12, dp["min"]) + _dbl(13, dp["max"]))
        return b + _ld(10, body + _u(2, m["temporality"]))
    body = b""
    for dp in dps:  # summary
        q = b"".join(_ld(6, _dbl(1, qq) + _dbl(2, vv)) for qq, vv in dp["quantiles"])
        body += _ld(1, _dp_head(dp, 7) + _f64(4, dp["count"]) + _dbl(5, dp["sum"]) + q)
    return b + _ld(11, body)


def render_pb(signal: str, req: dict) -> bytes:
    """One ExportLogs/Trace/MetricsServiceRequest model -> protobuf bytes."""
    out = b""
    for res in req["resources"]:
        inner = _resource_pb(res["attrs"])
        for sc in res["scopes"]:
            if signal == "logs":
                items = b"".join(_ld(2, _log_pb(r)) for r in sc["items"])
            elif signal == "traces":
                items = b"".join(_ld(2, _span_pb(s)) for s in sc["items"])
            else:
                items = b"".join(_ld(2, _metric_pb(m)) for m in sc["items"])
            inner += _ld(2, _scope_pb(sc["scope"]) + items)
        out += _ld(1, inner)
    return out


# ---------------------------------------------------------------------------
# OTLP/JSON renderer (camelCase, 64-bit integers as strings, hex ids)


def _anyvalue_json(v) -> dict:
    if isinstance(v, bool):
        return {"boolValue": v}
    if isinstance(v, int):
        return {"intValue": str(v)}
    if isinstance(v, float):
        return {"doubleValue": v}
    if isinstance(v, dict):
        return {"kvlistValue": {"values": _attrs_json(v)}}
    return {"stringValue": v}


def _attrs_json(attrs: dict) -> list:
    return [{"key": k, "value": _anyvalue_json(v)} for k, v in attrs.items()]


def _log_json(r: dict) -> dict:
    o = {
        "timeUnixNano": str(r["time"]),
        "observedTimeUnixNano": str(r["observed"]),
        "severityNumber": r["sev"],
        "severityText": r["sev_text"],
        "body": _anyvalue_json(r["body"]),
        "attributes": _attrs_json(r["attrs"]),
    }
    if r["trace_id"]:
        o.update(flags=1, traceId=r["trace_id"].hex(), spanId=r["span_id"].hex())
    return o


def _span_json(s: dict) -> dict:
    o = {
        "traceId": s["trace_id"].hex(),
        "spanId": s["span_id"].hex(),
        "name": s["name"],
        "kind": s["kind"],
        "startTimeUnixNano": str(s["start"]),
        "endTimeUnixNano": str(s["end"]),
        "attributes": _attrs_json(s["attrs"]),
        "events": [
            {"timeUnixNano": str(e["time"]), "name": e["name"], "attributes": _attrs_json(e["attrs"])}
            for e in s["events"]
        ],
        "status": {k: v for k, v in (("code", s["status"]), ("message", s["status_msg"])) if v},
    }
    if s["parent"]:
        o["parentSpanId"] = s["parent"].hex()
    return o


def _dp_json(dp: dict) -> dict:
    return {
        "attributes": _attrs_json(dp["attrs"]),
        "startTimeUnixNano": str(dp["start"]),
        "timeUnixNano": str(dp["time"]),
    }


def _metric_json(m: dict) -> dict:
    o = {"name": m["name"], "description": m["description"], "unit": m["unit"]}
    t = m["type"]
    if t in ("gauge", "sum"):
        pts = []
        for dp in m["points"]:
            v = dp["value"]
            pts.append(_dp_json(dp) | ({"asDouble": v} if isinstance(v, float) else {"asInt": str(v)}))
        if t == "gauge":
            o["gauge"] = {"dataPoints": pts}
        else:
            o["sum"] = {"dataPoints": pts, "aggregationTemporality": m["temporality"],
                        "isMonotonic": m["monotonic"]}
    elif t == "histogram":
        o["histogram"] = {"aggregationTemporality": m["temporality"], "dataPoints": [
            _dp_json(dp) | {"count": str(dp["count"]), "sum": dp["sum"],
                            "bucketCounts": [str(c) for c in dp["bucket_counts"]],
                            "explicitBounds": dp["bounds"], "min": dp["min"], "max": dp["max"]}
            for dp in m["points"]]}
    elif t == "exponential_histogram":
        def buckets(bk):
            return {"offset": bk["offset"], "bucketCounts": [str(c) for c in bk["counts"]]}
        o["exponentialHistogram"] = {"aggregationTemporality": m["temporality"], "dataPoints": [
            _dp_json(dp) | {"count": str(dp["count"]), "sum": dp["sum"], "scale": dp["scale"],
                            "zeroCount": str(dp["zero_count"]),
                            "positive": buckets(dp["positive"]), "negative": buckets(dp["negative"]),
                            "min": dp["min"], "max": dp["max"]}
            for dp in m["points"]]}
    else:
        o["summary"] = {"dataPoints": [
            _dp_json(dp) | {"count": str(dp["count"]), "sum": dp["sum"],
                            "quantileValues": [{"quantile": q, "value": v} for q, v in dp["quantiles"]]}
            for dp in m["points"]]}
    return o


_JSON_KEYS = {
    "logs": ("resourceLogs", "scopeLogs", "logRecords", _log_json),
    "traces": ("resourceSpans", "scopeSpans", "spans", _span_json),
    "metrics": ("resourceMetrics", "scopeMetrics", "metrics", _metric_json),
}


def request_json_obj(signal: str, req: dict) -> dict:
    rk, sk, ik, item = _JSON_KEYS[signal]
    return {rk: [
        {"resource": {"attributes": _attrs_json(res["attrs"])},
         sk: [{"scope": sc["scope"], ik: [item(x) for x in sc["items"]]} for sc in res["scopes"]]}
        for res in req["resources"]]}


def render_json(signal: str, req: dict) -> bytes:
    return json.dumps(request_json_obj(signal, req), separators=(",", ":")).encode()


def render(signal: str, reqs: list[dict], fmt: str) -> bytes:
    """`reqs` rendered as one payload: pb/json take exactly one request,
    jsonl takes one request per line."""
    if fmt == "pb":
        (req,) = reqs
        return render_pb(signal, req)
    if fmt == "json":
        (req,) = reqs
        return render_json(signal, req)
    return b"\n".join(render_json(signal, r) for r in reqs) + b"\n"


# ---------------------------------------------------------------------------
# request model generator


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k ** s) for k in range(1, n + 1)]


@dataclass
class Gen:
    """Seeded request-model factory. Timestamps are unique per record
    (``_tick``), so every ORDER BY over them is total."""

    seed: int
    anchor_ns: int
    span_s: int = 4 * 3600
    rng: random.Random = field(init=False)
    _svc_w: list[float] = field(init=False)
    _tick: int = field(init=False, default=0)
    traces: list[tuple[bytes, bytes]] = field(init=False, default_factory=list)
    window: tuple[int, int] | None = None  # overrides the ts() range when set

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        self._svc_w = zipf_weights(len(SERVICES))

    def service(self) -> str:
        return self.rng.choices(SERVICES, self._svc_w)[0]

    def ts(self) -> int:
        """A unique timestamp in `window` if set, else in
        [anchor - span_s, anchor - 10 min], kept
        10 minutes clear of the anchor - 1 h boundary, so a
        `current_timestamp() - 1 hour` filter run within 10 minutes of the
        anchor selects an exact, known set."""
        self._tick += 1
        if self.window:
            return self.rng.randrange(*self.window) // 1000 * 1000 + self._tick % 1000
        lo, hi = self.anchor_ns - self.span_s * NS, self.anchor_ns - 600 * NS
        while True:
            t = self.rng.randrange(lo, hi) // 1000 * 1000 + self._tick % 1000
            if abs(t - (self.anchor_ns - 3600 * NS)) > 600 * NS:
                return t

    def _res(self, svc: str) -> dict:
        return {"service.name": svc, "host.name": f"host-{self.rng.randrange(4)}",
                "deployment.environment": "bench"}

    def _scope(self) -> dict:
        return {"name": self.rng.choice(["otel.http", "otel.db", "app"]), "version": "1.2.0"}

    def _words(self, n: int) -> str:
        return " ".join(self.rng.choice(WORDS) for _ in range(n))

    def log_record(self, extra_attrs: dict | None = None) -> dict:
        sev, text = self.rng.choices(SEVERITIES, SEVERITY_WEIGHTS)[0]
        t = self.ts()
        trace_id = span_id = b""
        if self.traces and self.rng.random() < 0.3:
            trace_id, span_id = self.rng.choice(self.traces)
        body = (
            self._words(self.rng.randrange(3, 12))
            if self.rng.random() < 0.9
            else {"event": self.rng.choice(WORDS), "n": self.rng.randrange(100)}
        )
        attrs = {"http.status": self.rng.choice([200, 200, 200, 404, 500]),
                 "latency": round(self.rng.random() * 100, 3),
                 "retry": self.rng.random() < 0.1}
        attrs.update(extra_attrs or {})
        return {"time": t, "observed": t + 1000, "sev": sev, "sev_text": text, "body": body,
                "attrs": attrs, "trace_id": trace_id, "span_id": span_id}

    def spans_of_trace(self) -> list[dict]:
        """One trace: a root span plus 0-4 children. About 10% of spans are
        errors and 3% run longer than 5 s (unique durations throughout)."""
        tid = self.rng.randbytes(16)
        root = self.rng.randbytes(8)
        out = []
        for i in range(1 + self.rng.randrange(5)):
            sid = root if i == 0 else self.rng.randbytes(8)
            start = self.ts()
            dur = (self.rng.randrange(5, 60) * NS if self.rng.random() < 0.03
                   else self.rng.randrange(1, 500) * 1_000_000) + self._tick
            err = self.rng.random() < 0.1
            events = ([{"time": start + dur // 2, "name": "exception" if err else "checkpoint",
                        "attrs": {"attempt": self.rng.randrange(3)}}]
                      if self.rng.random() < 0.3 else [])
            out.append({"trace_id": tid, "span_id": sid, "parent": b"" if i == 0 else root,
                        "name": self.rng.choice(["GET /cart", "POST /pay", "db.query", "render"]),
                        "kind": self.rng.randrange(1, 6), "start": start, "end": start + dur,
                        "attrs": {"http.route": self.rng.choice(["/a", "/b", "/c"]),
                                  "bytes": self.rng.randrange(10_000)},
                        "events": events, "status": 2 if err else self.rng.choice([0, 1]),
                        "status_msg": "upstream failed" if err else ""})
        self.traces.append((tid, root))
        return out

    def metric(self, mtype: str, n_points: int) -> dict:
        pts = []
        for _ in range(n_points):
            t = self.ts()
            dp = {"attrs": {"core": self.rng.randrange(4)}, "start": t - 60 * NS, "time": t}
            if mtype in ("gauge", "sum"):
                dp["value"] = (round(self.rng.random() * 100, 4) if self.rng.random() < 0.6
                               else self.rng.randrange(1 << 40))
            elif mtype == "histogram":
                counts = [self.rng.randrange(0, 20) for _ in range(7)]
                counts[self.rng.randrange(7)] += 1  # count > 0
                dp.update(count=sum(counts), bucket_counts=counts,
                          bounds=[5.0, 10.0, 25.0, 50.0, 100.0, 250.0],
                          sum=round(self.rng.random() * 1000, 3), min=0.5, max=400.0)
            elif mtype == "exponential_histogram":
                pos = [self.rng.randrange(0, 9) for _ in range(self.rng.randrange(1, 6))]
                neg = ([self.rng.randrange(0, 5) for _ in range(self.rng.randrange(1, 4))]
                       if self.rng.random() < 0.3 else [])
                zero = self.rng.randrange(0, 3)
                pos[0] += 1
                dp.update(count=sum(pos) + sum(neg) + zero, sum=round(self.rng.random() * 500, 3),
                          scale=self.rng.choice([0, 1, 3]), zero_count=zero,
                          positive={"offset": self.rng.randrange(-2, 4), "counts": pos},
                          negative={"offset": self.rng.randrange(0, 3), "counts": neg},
                          min=-3.0 if neg else 0.0, max=200.0)
            else:
                dp.update(count=self.rng.randrange(1, 100), sum=round(self.rng.random() * 50, 3),
                          quantiles=[(0.5, 1.5), (0.99, 9.5)])
            pts.append(dp)
        m = {"name": f"{mtype}.{self.rng.choice(['cpu', 'mem', 'rps'])}", "description": "bench",
             "unit": "1", "type": mtype, "points": pts}
        if mtype == "sum":
            m.update(temporality=2, monotonic=True)
        elif mtype in ("histogram", "exponential_histogram"):
            m["temporality"] = 2
        return m

    def request(self, signal: str, n_items: int, svc: str | None = None,
                extra_attrs: dict | None = None) -> dict:
        """One single-resource request of about `n_items` records (spans
        come in whole traces, metrics as 5 one-type metrics per scope)."""
        svc = svc or self.service()
        if signal == "logs":
            items = [self.log_record(extra_attrs) for _ in range(n_items)]
        elif signal == "traces":
            items = []
            while len(items) < n_items:
                items.extend(self.spans_of_trace())
        else:
            per = max(1, n_items // 5)
            items = [self.metric(t, per) for t in
                     ("gauge", "sum", "histogram", "exponential_histogram", "summary")]
        return {"resources": [{"attrs": self._res(svc), "scopes": [{"scope": self._scope(), "items": items}]}]}


def count_rows(signal: str, reqs: list[dict]) -> dict[str, int]:
    """Rows each request model must produce per output table, plus the
    skipped-summary count."""
    out: dict[str, int] = {}
    for req in reqs:
        for res in req["resources"]:
            for sc in res["scopes"]:
                if signal == "logs":
                    out["otel_logs"] = out.get("otel_logs", 0) + len(sc["items"])
                elif signal == "traces":
                    out["otel_traces"] = out.get("otel_traces", 0) + len(sc["items"])
                else:
                    for m in sc["items"]:
                        key = ("summaries" if m["type"] == "summary"
                               else f"otel_metrics_{m['type']}")
                        out[key] = out.get(key, 0) + len(m["points"])
    return out


def service_of(req: dict) -> str:
    return req["resources"][0]["attrs"]["service.name"]


# ---------------------------------------------------------------------------
# landing directory for the batch workload


@dataclass(frozen=True)
class BatchSpec:
    """Shape of one landing directory. Sizes are payload counts per
    signal; `max_payload_bytes` is the ingest size guard the run uses."""

    log_payloads: int = 80
    logs_per_payload: int = 250
    trace_payloads: int = 40
    spans_per_payload: int = 150
    metric_payloads: int = 30
    points_per_payload: int = 150
    gzip_share: float = 0.2
    malformed_per_signal: int = 2
    oversize_per_signal: int = 1
    max_payload_bytes: int = 1 << 20


FORMATS = {"logs": ("pb", "json", "jsonl"), "traces": ("pb", "json"), "metrics": ("pb", "json")}


def _malformed(payload: bytes, fmt: str) -> bytes:
    """A payload no decoder can accept: pb cut inside its first
    length-delimited field, JSON cut mid-document."""
    cut = max(8, len(payload) // 2)
    if fmt == "pb":
        return payload[:cut]
    return payload[:cut] + b'"'


def build_landing(root: str, seed: int, anchor_ns: int, spec: BatchSpec = BatchSpec()) -> dict:
    """Write <root>/{logs,traces,metrics}/ payload files and return the
    expectations the output checks compare against."""
    g = Gen(seed, anchor_ns)
    sizes = {
        "traces": (spec.trace_payloads, spec.spans_per_payload),
        "logs": (spec.log_payloads, spec.logs_per_payload),
        "metrics": (spec.metric_payloads, spec.points_per_payload),
    }
    exp: dict = {"rows": {}, "quarantined": {}, "rejected": {}, "summaries": 0,
                 "logs_by_service": {}, "logs_last_hour": 0, "payloads": 0, "bytes": 0}
    # traces first so ~30% of logs can carry trace ids that exist
    for signal in ("traces", "logs", "metrics"):
        d = os.path.join(root, signal)
        os.makedirs(d, exist_ok=True)
        n, per = sizes[signal]
        fmts = FORMATS[signal]
        for i in range(n):
            fmt = fmts[i % len(fmts)]
            lines = 4 if fmt == "jsonl" else 1
            reqs = [g.request(signal, max(1, per // lines)) for _ in range(lines)]
            body = render(signal, reqs, fmt)
            name = f"{i:05d}.{fmt}"
            if g.rng.random() < spec.gzip_share:
                body, name = gzip.compress(body, mtime=0), name + ".gz"
            _write(d, name, body)
            exp["payloads"] += 1
            exp["bytes"] += len(body)
            for k, v in count_rows(signal, reqs).items():
                if k == "summaries":
                    exp["summaries"] += v
                else:
                    exp["rows"][k] = exp["rows"].get(k, 0) + v
            if signal == "logs":
                for r in reqs:
                    svc = service_of(r)
                    recs = r["resources"][0]["scopes"][0]["items"]
                    exp["logs_by_service"][svc] = exp["logs_by_service"].get(svc, 0) + len(recs)
                    exp["logs_last_hour"] += sum(
                        1 for x in recs if x["time"] > anchor_ns - 3600 * NS)
        for j in range(spec.malformed_per_signal):
            fmt = fmts[j % len(fmts)]
            body = _malformed(render(signal, [g.request(signal, 5)], "pb" if fmt == "pb" else "json"), fmt)
            _write(d, f"bad-{j:03d}.{fmt}", body)
        for j in range(spec.oversize_per_signal):
            req = g.request(signal, 5)
            body = render(signal, [req], "json")
            body = body + b" " * (spec.max_payload_bytes + 1 - len(body))  # valid JSON, too large
            _write(d, f"big-{j:03d}.json", body)
        exp["quarantined"][signal] = spec.malformed_per_signal
        exp["rejected"][signal] = spec.oversize_per_signal
    for t in ("otel_logs", "otel_traces", "otel_metrics_gauge", "otel_metrics_sum",
              "otel_metrics_histogram", "otel_metrics_exponential_histogram"):
        exp["rows"].setdefault(t, 0)
    return exp


def _write(d: str, name: str, body: bytes) -> None:
    with open(os.path.join(d, name), "wb") as f:
        f.write(body)
