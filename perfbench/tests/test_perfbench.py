"""Tests for the benchmark's own code.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import host  # noqa: E402
import otlpgen  # noqa: E402
import tablegen  # noqa: E402
import tracing  # noqa: E402
import wl_stream  # noqa: E402

ANCHOR = 1_760_000_000 * otlpgen.NS
SMALL = otlpgen.BatchSpec(log_payloads=6, logs_per_payload=30, trace_payloads=4,
                          spans_per_payload=20, metric_payloads=4, points_per_payload=20)


def _tree(d: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(d):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_gives_identical_inputs(tmp_path):
    a = otlpgen.build_landing(str(tmp_path / "a"), 7, ANCHOR, SMALL)
    b = otlpgen.build_landing(str(tmp_path / "b"), 7, ANCHOR, SMALL)
    c = otlpgen.build_landing(str(tmp_path / "c"), 8, ANCHOR, SMALL)
    assert a == b
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert _tree(str(tmp_path / "a")) != _tree(str(tmp_path / "c"))
    ra = wl_stream.make_requests(str(tmp_path / "ra"), 3, ANCHOR, 12, 30.0)
    rb = wl_stream.make_requests(str(tmp_path / "rb"), 3, ANCHOR, 12, 30.0)
    assert [r["rows"] for r in ra] == [r["rows"] for r in rb]
    assert list(_tree(str(tmp_path / "ra")).values()) == list(_tree(str(tmp_path / "rb")).values())
    tablegen.build(str(tmp_path / "ta"), 5, docs=50, vecs=20, lines=100)
    tablegen.build(str(tmp_path / "tb"), 5, docs=50, vecs=20, lines=100)
    assert _tree(str(tmp_path / "ta")) == _tree(str(tmp_path / "tb"))


def test_landing_mix():
    """gzip share, malformed and oversize payloads, and Q2's known share."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        exp = otlpgen.build_landing(d, 1, ANCHOR, otlpgen.BatchSpec())
        names = [f for _, _, fs in os.walk(d) for f in fs]
    gz = sum(f.endswith(".gz") for f in names)
    assert 0.1 < gz / exp["payloads"] < 0.3
    assert sum(f.startswith("bad-") for f in names) == 6
    assert sum(f.startswith("big-") for f in names) == 3
    assert 0 < exp["logs_last_hour"] < exp["rows"]["otel_logs"]
    assert exp["summaries"] > 0
    counts = sorted(exp["logs_by_service"].values(), reverse=True)
    assert counts[0] > 3 * counts[-1]  # Zipf-skewed services


@pytest.fixture(scope="module")
def spark():
    import tempfile

    from harness import spark_conf

    os.environ["PYTHONPATH"] = ROOT
    from otlp2parquet_spark.session import get_spark

    s = get_spark(master="local[2]", shuffle_partitions=2,
                  extra_conf=spark_conf(tempfile.gettempdir()))
    yield s
    s.stop()


@pytest.mark.parametrize("signal", ["logs", "traces", "metrics"])
def test_pb_and_json_renderings_decode_to_identical_rows(spark, signal):
    from otlp2parquet_spark.otel import ingest

    g = otlpgen.Gen(11, ANCHOR)
    g.request("traces", 10)  # so logs carry trace ids
    req = g.request(signal, 25)
    decode = {"logs": ingest.decode_logs, "traces": ingest.decode_traces,
              "metrics": ingest.decode_metrics_union}[signal]

    def rows(fmt: str):
        body = otlpgen.render(signal, [req], fmt)
        df = spark.createDataFrame([(f"x.{fmt}", body, fmt)], "path string, content binary, fmt string")
        return sorted(repr(sorted(r.asDict().items())) for r in decode(df).collect())

    pb, js = rows("pb"), rows("json")
    assert pb == js
    assert len(pb) >= 25


def _finish(trace: bool, monkeypatch) -> dict:
    import tempfile

    from harness import Bench

    # Bench points TMPDIR at its own work directory; restore it afterwards
    monkeypatch.setenv("TMPDIR", tempfile.gettempdir())
    monkeypatch.setattr(tempfile, "tempdir", None)

    b = Bench("otlp_batch", 1, 1.0, trace)
    b.setups = [1.0, 2.0, 3.0]
    b.e2e.update(pass_s=1.5)
    s = spec()
    e2e = {m["name"]: m["unit"] for m in s["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in s["per_layer"]}
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert b.finish(list(e2e), e2e, list(layer), layer) == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_names_every_metric(trace, monkeypatch):
    out = _finish(trace, monkeypatch)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    s = spec()
    want = s["per_layer"] if trace else s["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(out["metrics"][m["name"]]["value"], float)
    if not trace:
        assert out["metrics"]["setup_s"]["value"] == 2.0


def test_metric_docs_cover_benchmark_json():
    with open(os.path.join(BENCH, "metrics.json")) as f:
        docs = json.load(f)
    s = spec()
    assert set(docs["end_to_end"]) == {m["name"] for m in s["end_to_end"]}
    assert set(docs["per_layer"]) == {m["name"] for m in s["per_layer"]}
    workloads = {w["name"] for w in s["workloads"]}
    for d in docs["end_to_end"].values():
        assert set(d["definition"]) == workloads
    for name, d in docs["per_layer"].items():
        assert set(d["workloads"]) <= workloads, name


def test_cpu_line_parser_tolerates_short_lines():
    assert host.parse_cpu_line("cpu  1 2 3 4") is None
    assert host.parse_cpu_line("cpu  1 2 3 4 5 6 7") is None
    assert host.parse_cpu_line("intr 1 2 3 4 5 6 7 8 9") is None
    assert host.parse_cpu_line("cpu  1 2 3 4 5 6 7 8 9 10") == [1, 2, 3, 4, 5, 6, 7, 8]
    assert host.steal_pct([0] * 8, [10, 0, 0, 80, 0, 0, 0, 10]) == 10.0
    assert host.steal_pct(None, [1] * 8) is None


def test_self_time_subtracts_union_of_children():
    t = tracing.Tracer(True)
    t.add("root", 0.0, 10.0, None)
    t.add("a", 1.0, 4.0, 0)
    t.add("b", 3.0, 6.0, 0)  # overlaps a
    t.add("c", 9.0, 12.0, 0)  # clipped to the parent
    st = t.self_times()
    assert st["root"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["a"] == pytest.approx(3.0)
