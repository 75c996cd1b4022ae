"""bench.py must not crash on an unusual host: a short /proc/stat cpu line
or a checkout without the reference ingest fixtures degrades to a stamped
field instead of an exception that aborts the headline suite."""

from __future__ import annotations

import io

import bench


def _fake_open(text):
    return lambda *a, **k: io.StringIO(text)


def test_cpu_stat_short_line_is_none(monkeypatch):
    # seven counters: steal (the eighth, which _steal_pct indexes) missing
    monkeypatch.setattr(bench, "open", _fake_open("cpu 1 2 3 4 5 6 7\n"), raising=False)
    assert bench._cpu_stat() is None
    assert bench._steal_pct(bench._cpu_stat(), bench._cpu_stat()) is None
    monkeypatch.setattr(
        bench, "open", _fake_open("cpu 10 0 10 70 0 0 0 10 0 0\n"), raising=False
    )
    assert bench._steal_pct([0] * 8, bench._cpu_stat()) == 10.0


def test_ingest_metrics_fixture_absent(monkeypatch):
    def missing(path, *a, **k):
        raise FileNotFoundError(path)

    monkeypatch.setattr(bench, "open", missing, raising=False)
    assert bench._ingest_metrics(spark=None) == {"ingest_lanes": "fixture-absent"}
