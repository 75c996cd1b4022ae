"""Default-tier smoke of the CLI: the epoch-verdict lane table wires every
entry to a parser and to real pipeline functions, one lane runs end to end
through its runner, and `ingest` reports the landing files it refused.

The per-lane live == batch suites are full tier (tests/test_config_cli.py,
tests/test_streaming_*.py)."""

from __future__ import annotations

import argparse
import json
import os

from otlp2parquet_spark import cli
from otlp2parquet_spark.session import load_table
from otlp2parquet_spark.streaming import pipeline as stream_pipeline
from tests.conftest import SF_SMOKE


def _last_json(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_every_lane_has_a_parser_and_pipeline_functions():
    sub = next(
        a for a in cli._build_parser()._actions
        if isinstance(a, argparse._SubParsersAction)
    )
    for name, lane in cli.LANES.items():
        dests = {a.dest for a in sub.choices[name]._actions}
        opts = {flag[2:].replace("-", "_") for flag, *_ in lane.opts}
        assert {"landing_dir", "checkpoint", "compact", lane.root} | opts <= dests, name
        assert callable(getattr(stream_pipeline, lane.stream)), name
        for _, fn, _ in lane.compactors:
            assert callable(getattr(stream_pipeline, fn)), (name, fn)


def test_dsir_lane_end_to_end(spark, tmp_path, capsys):
    """dsirtrain -> dsirselect --compact over 50 docs in 3 landing files:
    3 epochs, of which the 2 below the newest merge into one."""
    from otlp2parquet_spark.extensions.pipeline import dsir_read_model, dsir_score

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
        .limit(50)
        .collect()
    )
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(docs, schema).write.parquet(corpus)
    model = str(tmp_path / "model")
    assert cli.main(["dsirtrain", corpus, "--model", model]) == 0
    assert _last_json(capsys)["model"] == model

    landing = str(tmp_path / "landing")
    for i in range(3):
        spark.createDataFrame(docs[i::3], schema).coalesce(1).write.parquet(
            str(tmp_path / f"f{i}")
        )
        (part,) = [f for f in os.listdir(tmp_path / f"f{i}") if f.endswith(".parquet")]
        os.makedirs(landing, exist_ok=True)
        os.link(tmp_path / f"f{i}" / part, os.path.join(landing, f"{i:05d}.parquet"))
    out = str(tmp_path / "verdicts")
    argv = ["dsirselect", landing, "--model", model, "--out", out]
    rc = cli.main(argv + ["--checkpoint", str(tmp_path / "ckpt"), "--compact"])
    assert rc == 0
    m, th = dsir_read_model(spark, model)
    want = dsir_score(spark.createDataFrame(docs, schema), m, th)
    assert _last_json(capsys) == {
        "docs_scored": 50,
        "selected": want.filter("keep").count(),
        "verdict_epochs_compacted": 1,
        "out": out,
    }


def test_cli_ingest_reports_rejected_files(spark, tmp_path, capsys):
    """An oversized payload (D4) and an unknown extension (D3) never reach
    decode; the ingest response must count them instead of dropping them."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "big.pb").write_bytes(b"\0" * (9 * 1024 * 1024))
    (landing / "notes.txt").write_text("not an OTLP payload")
    rc = cli.main(["--output", str(tmp_path / "out"), "ingest", str(landing), "logs"])
    assert rc == 0
    resp = _last_json(capsys)
    assert resp["rejected"] == {"payload too large": 1, "unknown format": 1}
    assert resp["written"] == {"otel_logs": 0}
