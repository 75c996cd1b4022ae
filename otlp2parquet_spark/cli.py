"""CLI entry point (reference src/main.rs:33-130 twin, Spark-flavored).

Subcommands:
- OTLP ingest: ``ingest`` (batch-ingest a landing dir for one signal into
  the partitioned layout — the reference's serve+POST dataflow, batch-mode),
  ``stream`` (continuous Structured-Streaming ingest with checkpointing),
  ``serve`` (the out-of-engine HTTP receiver, D1), ``compact`` (merge small
  flush files per partition), ``connect`` (emit client config templates,
  D29), ``validate-config`` (load + validate the layered config and print
  it);
- epoch-verdict document lanes, one runner driven by the ``LANES`` table:
  ``neardup`` (T11), ``xdedup`` (T15), ``badmit`` (T22), ``dsirselect``
  (T14), ``qscore`` (T13), ``dcscore`` (T20), ``lmscore`` (T18), ``funnel``
  (T21);
- the artifacts those lanes score against: ``dsirtrain``, ``qtrain``,
  ``dctrain``, ``lmtrain``;
- other streaming lanes: ``hh`` (heavy hitters, T17), ``annindex`` (IVFPQ
  codes, T12), and the sealed-window event lanes ``wp95`` (T16) and
  ``whll`` (T19), which share one runner;
- ``zorder`` — re-cluster a parquet table by a two-column Morton z-value.

Global flags mirror the reference: ``--config FILE``, ``--output DIR``,
``--log-level LEVEL`` (reference --port applies to the out-of-engine HTTP
receiver and is accepted for parity).
"""

from __future__ import annotations

import argparse
import json
import sys
from dataclasses import dataclass


def _positive_int(s: str) -> int:
    v = int(s)
    if v < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {v}")
    return v


@dataclass(frozen=True)
class _Lane:
    """One epoch-verdict lane: drain a documents landing dir through a
    streaming.pipeline function, optionally compact, then print a JSON
    summary of its first-epoch verdict table.

    opts are the options between landing_dir and --checkpoint, as (flag,
    help[, add_argument overrides]), required by default and in the order
    the stream function takes them. `root` names the state-dir option
    (echoed last); `table` is the verdict subdir under it, read with
    `schema`. aggs are (JSON key, SQL aggregate, int | float); `echo` names
    options printed after them. Each compactor (JSON key, pipeline
    function, subdir) runs as fn(spark, dir); a multi-table one returns a
    count per `group` name, printed as a dict under its key."""

    help: str
    stream: str
    opts: tuple
    root: str
    schema: str
    aggs: tuple[tuple[str, str, type], ...]
    compactors: tuple[tuple[str, str, str], ...]
    table: str = ""
    compact: tuple[str, str] = (
        "--compact",
        "merge committed verdict epochs after the drain",
    )
    echo: tuple[str, ...] = ()
    group: tuple[str, ...] = ()


def _sum(col: str) -> str:
    return f"sum(cast({col} AS bigint))"


_OUT = ("--out", "verdicts root")

LANES: dict[str, _Lane] = {
    "neardup": _Lane(
        help="streaming near-dup dedup over a documents landing dir (T11): "
        "drain available files, flag each doc against the persistent LSH "
        "band index, append per-epoch verdicts under STATE/flags",
        stream="neardup_stream",
        opts=(("--state", "band index + flags root"),),
        root="state",
        table="flags",
        schema="doc_id long, is_neardup boolean, epoch int",
        aggs=(
            ("docs_flagged_total", "count(*)", int),
            ("near_dups", _sum("is_neardup"), int),
        ),
        compact=(
            "--compact-index",
            "merge committed band-index AND flags epochs after the drain "
            "(replay-safe: only epochs below the newest)",
        ),
        # two SEPARATE keys: summing them under the older one would change
        # its meaning round over round (round-8 review)
        compactors=(
            ("index_epochs_compacted", "compact_band_index", ""),
            ("flags_epochs_compacted", "compact_verdicts", "flags"),
        ),
    ),
    "xdedup": _Lane(
        help="streaming EXACT dedup over a documents landing dir (T15): "
        "drain available files, flag each doc against the persistent "
        "content-hash index, append per-epoch verdicts under STATE/flags",
        stream="exactdedup_stream",
        opts=(("--state", "hash index + flags root"),),
        root="state",
        table="flags",
        schema="doc_id long, content_hash string, is_duplicate boolean, "
        "dup_of long, epoch int",
        aggs=(
            ("docs_flagged_total", "count(*)", int),
            ("exact_dups", _sum("is_duplicate"), int),
        ),
        compact=(
            "--compact-index",
            "merge committed hash-index AND flags epochs after the drain",
        ),
        compactors=(
            ("index_epochs_compacted", "compact_hash_index", ""),
            ("flags_epochs_compacted", "compact_verdicts", "flags"),
        ),
    ),
    "dsirselect": _Lane(
        help="streaming DSIR selection (T14): drain available files, score "
        "each doc map-only against the frozen selection model, append "
        "per-epoch keep/drop verdicts under OUT",
        stream="dsir_select_stream",
        opts=(("--model", "dsirtrain artifact"), _OUT),
        root="out",
        schema="doc_id long, liw_micro long, n_tok long, keep boolean, epoch int",
        aggs=(("docs_scored", "count(*)", int), ("selected", _sum("keep"), int)),
        compactors=(("verdict_epochs_compacted", "compact_verdicts", ""),),
    ),
    "badmit": _Lane(
        help="streaming token-budget admission (T22): drain available "
        "files, admit docs in arrival order while the global token count "
        "fits --budget, append per-epoch verdicts under STATE/verdicts. "
        "Input must be doc-unique (run xdedup upstream): budget is "
        "charged per arrival",
        stream="budget_admit_stream",
        opts=(
            ("--state", "verdicts + totals root"),
            ("--budget", "token budget", {"type": _positive_int}),
        ),
        root="state",
        table="verdicts",
        schema="doc_id long, n_tok long, admitted boolean, epoch int",
        aggs=(
            ("docs_seen", "count(*)", int),
            ("docs_admitted", _sum("admitted"), int),
            ("tokens_admitted", "sum(CASE WHEN admitted THEN n_tok ELSE 0 END)", int),
        ),
        echo=("budget",),
        compactors=(("verdict_epochs_compacted", "compact_verdicts", "verdicts"),),
    ),
    "qscore": _Lane(
        help="streaming quality scoring (T13): drain available files, score "
        "each doc map-only against the frozen persisted classifier, append "
        "per-epoch verdicts under OUT",
        stream="quality_score_stream",
        opts=(("--model", "qtrain weight artifact"), _OUT),
        root="out",
        schema="doc_id long, y int, z long, pred int, epoch int",
        aggs=(("docs_scored", "count(*)", int), ("predicted_quality", _sum("pred"), int)),
        compactors=(("score_epochs_compacted", "compact_verdicts", ""),),
    ),
    "dcscore": _Lane(
        help="streaming benchmark decontamination (T20): drain available "
        "files, flag each doc's trigram overlap against the frozen "
        "benchset, append per-epoch verdicts under OUT",
        stream="decontam_stream",
        opts=(("--benchset", "dctrain artifact"), _OUT),
        root="out",
        schema="doc_id long, n_grams long, n_hits long, "
        "contamination double, contaminated boolean, epoch int",
        aggs=(("docs_scored", "count(*)", int), ("contaminated", _sum("contaminated"), int)),
        compactors=(("verdict_epochs_compacted", "compact_verdicts", ""),),
    ),
    "lmscore": _Lane(
        help="streaming frozen-LM perplexity scoring (T18): drain available "
        "files, score each doc against the persisted LM counts, append "
        "per-epoch verdicts under OUT",
        stream="lmscore_stream",
        opts=(("--model", "lmtrain artifact"), _OUT),
        root="out",
        schema="doc_id long, source string, n_bigrams long, lm_score double, epoch int",
        aggs=(
            ("docs_scored", "count(*)", int),
            ("mean_lm_score", "round(avg(lm_score), 4)", float),
        ),
        compactors=(("score_epochs_compacted", "compact_verdicts", ""),),
    ),
    "funnel": _Lane(
        help="composed streaming ingest funnel (T21): drain available files "
        "through exact dedup -> LSH near-dup -> frozen quality classifier -> "
        "frozen decontamination, maintaining the persistent hash/band "
        "indexes and a per-epoch (k1..k4) verdict ledger under STATE",
        stream="ingest_funnel_stream",
        opts=(
            ("--state", "funnel state root"),
            (
                "--qc-model",
                "qtrain weight artifact; omit to run the quality stage "
                "keep-all (the 3-stage skeleton funnel, r12)",
                {"required": False},
            ),
            ("--benchset", "dctrain gram artifact"),
        ),
        root="state",
        table="verdicts",
        schema="doc_id long, source string, k1 boolean, k2 boolean, "
        "k3 boolean, k4 boolean, epoch int",
        aggs=(
            ("docs_ingested", "count(*)", int),
            ("kept_exact", _sum("k1"), int),
            ("kept_neardup", _sum("k2"), int),
            ("kept_quality", _sum("k3"), int),
            ("kept_clean", _sum("k4"), int),
        ),
        compact=("--compact", "compact all three state tables after the drain"),
        compactors=(("compacted", "compact_ingest_funnel", ""),),
        group=("hash_epochs", "band_epochs", "verdict_epochs"),
    ),
}

# the watermark-sealed event-window lanes: (help, --out help, bucketing
# function, read-side walk, JSON key of the walked row count)
_WINDOW_LANES = {
    "wp95": (
        "streaming windowed exp-histogram p95 over an events landing "
        "dir (T16): drain available files, append watermark-sealed "
        "per-(5-min window, event_type) bucket counts under OUT, print "
        "the percentile walk over everything sealed so far",
        "sealed bucket-count table root",
        "exp_hist_buckets",
        "exp_p95_from_buckets",
        "sealed_rows",
    ),
    "whll": (
        "streaming windowed distinct-user estimates over an events "
        "landing dir (T19): drain available files, append watermark-sealed "
        "per-(5-min window, event_type) deterministic-HLL registers under "
        "OUT, print the estimates over everything sealed so far",
        "sealed register table root",
        "hll_reg_buckets",
        "hll_estimate_from_registers",
        "sealed_estimates",
    ),
}


def _add_lane_parser(sub, name: str) -> None:
    lane = LANES[name]
    p = sub.add_parser(name, help=lane.help)
    p.add_argument("landing_dir", help="dir of documents-schema parquet files")
    for flag, help_, *over in lane.opts:
        p.add_argument(flag, **{"required": True, "help": help_, **(over[0] if over else {})})
    p.add_argument("--checkpoint", required=True)
    p.add_argument(lane.compact[0], dest="compact", action="store_true", help=lane.compact[1])


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="otlp2parquet-spark")
    p.add_argument("--config", metavar="FILE", help="TOML config file")
    p.add_argument("--output", metavar="DIR", help="output root (fs backend only)")
    p.add_argument("--port", type=int, help="receiver port (parity flag)")
    p.add_argument("-v", "--log-level", metavar="LEVEL", help="log level")
    sub = p.add_subparsers(dest="command")

    ing = sub.add_parser("ingest", help="batch-ingest a landing directory")
    ing.add_argument("landing_dir")
    ing.add_argument("signal", choices=["logs", "traces", "metrics"])
    ing.add_argument(
        "--quarantine",
        metavar="DIR",
        help="land invalid payloads (+ typed-reason sidecars) here and "
        "continue, instead of failing the job (D25)",
    )

    st = sub.add_parser("stream", help="streaming ingest with checkpoints")
    st.add_argument("landing_dir")
    st.add_argument("signal", choices=["logs", "traces", "metrics"])
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--trigger-seconds", type=float, default=5.0)
    st.add_argument("--available-now", action="store_true")
    st.add_argument("--quarantine", metavar="DIR", help="as in ingest --quarantine")

    con = sub.add_parser("connect", help="emit client config templates")
    con.add_argument("service")
    con.add_argument("--url", default=None)

    srv = sub.add_parser("serve", help="run the out-of-engine HTTP receiver (D1)")
    srv.add_argument("landing_root")
    srv.add_argument("--host", default="0.0.0.0")

    cp = sub.add_parser(
        "compact", help="merge small flush files per partition (parity layout)"
    )
    cp.add_argument("table", help="e.g. otel_logs")
    cp.add_argument("--min-files", type=int, default=2)
    cp.add_argument(
        "--quiesced-sec",
        type=float,
        default=120.0,
        help="refuse when any data file is younger than this (active-writer "
        "guard for the non-atomic swap); --force disables",
    )
    cp.add_argument(
        "--force",
        action="store_true",
        help="compact even if a writer looks active on the root",
    )

    for name in ("neardup", "xdedup"):
        _add_lane_parser(sub, name)

    hhp = sub.add_parser(
        "hh",
        help="streaming heavy-hitter maintenance (T17): drain a documents "
        "landing dir, fold each micro-batch into a per-epoch Misra-Gries "
        "candidate summary under STATE, then extract the EXACT heavy "
        "hitters over everything ingested (one candidate-bounded recount)",
    )
    hhp.add_argument("landing_dir", help="dir of documents-schema parquet files")
    hhp.add_argument("--state", required=True, help="candidate summary root")
    hhp.add_argument("--checkpoint", required=True)
    hhp.add_argument(
        "--compact-state",
        action="store_true",
        help="merge committed candidate/total epochs after the drain",
    )
    hhp.add_argument("--top", type=int, default=10, help="rows to print")

    ann = sub.add_parser(
        "annindex",
        help="streaming ANN index maintenance (T12): train IVFPQ artifacts "
        "on the first batch, encode every arriving embedding batch against "
        "the frozen quantizer, append per-epoch codes under INDEX/codes",
    )
    ann.add_argument("landing_dir", help="dir of embeddings-schema parquet files")
    ann.add_argument("--index", required=True, help="artifact + codes root")
    ann.add_argument("--checkpoint", required=True)
    ann.add_argument(
        "--compact-codes",
        action="store_true",
        help="merge committed codes epochs after the drain "
        "(replay-safe: only epochs below the newest)",
    )

    dt = sub.add_parser(
        "dsirtrain",
        help="train the DSIR selection model (hashed-unigram importance "
        "log-ratios + frozen keep threshold) on a documents-schema parquet "
        "dir and persist the artifact",
    )
    dt.add_argument("corpus_dir", help="documents-schema parquet table")
    dt.add_argument("--model", required=True, help="model artifact destination")

    for name in ("dsirselect", "badmit"):
        _add_lane_parser(sub, name)

    qt = sub.add_parser(
        "qtrain",
        help="train the linear quality classifier (IPM perceptron) on a "
        "documents-schema parquet dir and persist the weight artifact",
    )
    qt.add_argument("corpus_dir", help="documents-schema parquet table")
    qt.add_argument("--model", required=True, help="weight artifact destination")
    qt.add_argument(
        "--rounds", type=_positive_int, default=None, help="IPM rounds (>= 1)"
    )

    _add_lane_parser(sub, "qscore")

    dct = sub.add_parser(
        "dctrain",
        help="extract a benchmark's distinct trigram set from a "
        "documents-schema parquet dir and persist it (the T20 artifact)",
    )
    dct.add_argument("bench_dir", help="benchmark documents parquet table")
    dct.add_argument("--benchset", required=True, help="gram-set destination")

    _add_lane_parser(sub, "dcscore")

    lt = sub.add_parser(
        "lmtrain",
        help="train a frozen add-one bigram LM on a documents-schema "
        "parquet dir and persist the count artifact (model/prefix/vocab)",
    )
    lt.add_argument("corpus_dir", help="documents-schema parquet table")
    lt.add_argument("--model", required=True, help="artifact destination")

    for name in ("lmscore", "funnel"):
        _add_lane_parser(sub, name)

    zo = sub.add_parser(
        "zorder",
        help="re-cluster a parquet table by the Morton z-value of two "
        "integer/timestamp columns so 2-D box predicates prune at row-group "
        "granularity (OPTIMIZE ZORDER)",
    )
    zo.add_argument("input_dir", help="parquet table to re-cluster")
    zo.add_argument("output_dir", help="destination for the clustered copy")
    zo.add_argument(
        "--by",
        required=True,
        metavar="COL1,COL2",
        help="two columns to interleave; timestamp columns are gridded on "
        "epoch-micros",
    )
    zo.add_argument("--files", type=int, default=32, help="output file count")

    for name, (help_, out_help, *_) in _WINDOW_LANES.items():
        wl = sub.add_parser(name, help=help_)
        wl.add_argument("landing_dir", help="dir of events-schema parquet files")
        wl.add_argument("--out", required=True, help=out_help)
        wl.add_argument("--checkpoint", required=True)

    sub.add_parser("validate-config", help="load, validate and print config")
    return p


def _file_sink_has_commits(out_dir: str) -> bool:
    """Whether a streaming file sink has COMMITTED anything: gate on the
    sink's _spark_metadata log, never a *.parquet tree walk — an aborted
    batch can leave uncommitted part files a walk would count as data while
    the metadata-aware read (correctly) ignores them. Used by the
    sealed-window runner (wp95, whll)."""
    import os

    meta_dir = os.path.join(out_dir, "_spark_metadata")
    return os.path.isdir(meta_dir) and any(
        os.path.getsize(os.path.join(meta_dir, f)) > 0
        for f in os.listdir(meta_dir)
        if not f.endswith(".tmp") and not f.startswith(".")
    )


def _epoch_table(spark, table_dir: str, schema: str):
    """Epoch-partitioned verdict/score table resolved to ONE row per doc:
    explicit schema (a rowless epoch must summarize as empty, not crash
    inference) + first-epoch resolution (a doc re-delivered in a later
    landing file carries a DIFFERENT verdict there — the min-epoch row is
    the ledger verdict; see streaming.pipeline.first_epoch_rows). `schema`
    must name the `epoch int` partition column.

    Returns None when the table has no committed epoch yet (dir absent,
    or no epoch= children — e.g. an empty landing dir that never flushed):
    the caller's zero-summary path. The guard lives HERE so the whole
    epoch-table read contract has one owner (r12 review finding)."""
    import os

    from otlp2parquet_spark.streaming.pipeline import first_epoch_rows

    if not (
        os.path.isdir(table_dir)
        and any(d.startswith("epoch=") for d in os.listdir(table_dir))
    ):
        return None
    return first_epoch_rows(
        spark.read.schema(schema).parquet(table_dir), ("doc_id",)
    )


def _load_cfg(args):
    from otlp2parquet_spark.otel.config import load_config

    overrides: dict = {}
    if args.output:
        overrides.setdefault("storage", {})["output"] = args.output
    if args.port:
        overrides.setdefault("server", {})["port"] = args.port
    if args.log_level:
        overrides.setdefault("server", {})["log_level"] = args.log_level
    return load_config(args.config, overrides)


def _emit(**fields) -> int:
    """Print a command's result as one JSON line; exit code 0."""
    print(json.dumps(fields))
    return 0


def _run_lane(spark, args) -> int:
    """Drain, optionally compact, and summarize one LANES entry."""
    import os

    from otlp2parquet_spark.streaming import pipeline as stream_pipeline

    lane = LANES[args.command]
    root = getattr(args, lane.root)

    def at(subdir: str) -> str:
        return os.path.join(root, subdir) if subdir else root

    inputs = [getattr(args, flag[2:].replace("-", "_")) for flag, *_ in lane.opts]
    drain = getattr(stream_pipeline, lane.stream)
    drain(spark, args.landing_dir, *inputs, args.checkpoint).awaitTermination()
    # every compactor returns 0 when no epoch ever flushed (empty landing dir)
    compacted = {}
    for key, fn, subdir in lane.compactors:
        n = getattr(stream_pipeline, fn)(spark, at(subdir)) if args.compact else 0
        if lane.group:  # a multi-table compactor: one count per group name
            n = dict(zip(lane.group, n or (0,) * len(lane.group)))
        compacted[key] = n
    # first_epoch_rows: crash-window copies AND re-delivered docs (whose
    # second verdict differs) resolve to the first epoch's row
    table = _epoch_table(spark, at(lane.table), lane.schema)
    if table is None:  # empty landing dir: no epoch flushed
        row = [None] * len(lane.aggs)
    else:
        row = table.selectExpr(*(sql for _, sql, _ in lane.aggs)).first()
    # a count or sum over nothing prints 0; a mean over nothing prints null
    out = {
        key: None if v is None and kind is float else kind(v or 0)
        for (key, _, kind), v in zip(lane.aggs, row)
    }
    out.update((k, getattr(args, k)) for k in lane.echo)
    out.update(compacted)
    out[lane.root] = root
    return _emit(**out)


def _run_window_lane(args) -> int:
    """Drain an events landing dir into a watermark-sealed parquet sink,
    then summarize everything sealed so far (the wp95 and whll lanes)."""
    from otlp2parquet_spark.session import get_spark
    from otlp2parquet_spark.streaming import pipeline as stream_pipeline

    _, _, buckets, walk, rows_key = _WINDOW_LANES[args.command]
    spark = get_spark(app_name=f"otlp2parquet-{args.command}")
    stream = stream_pipeline.events_stream(spark, args.landing_dir)
    (
        getattr(stream_pipeline, buckets)(stream)
        .writeStream.format("parquet")
        .option("path", args.out)
        .option("checkpointLocation", args.checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    rows = windows = 0
    # empty landing dir / nothing sealed: the file sink may never have
    # written a footer — summarize zero instead of raising on the read
    if _file_sink_has_commits(args.out):
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        try:
            walked = getattr(stream_pipeline, walk)(spark.read.parquet(args.out))
            # one job for both summary integers — the walk is the
            # expensive part of the lane
            rows, windows = walked.agg(
                F.count("*"), F.countDistinct("window_start")
            ).first()
        except AnalysisException:
            # a commit log whose every batch sealed zero windows lists
            # no files -> nothing to infer a schema from
            rows = windows = 0
    return _emit(**{rows_key: rows}, windows_sealed=windows, out=args.out)


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.command == "connect":
        from otlp2parquet_spark.otel import connect

        endpoint = args.url or connect.DEFAULT_ENDPOINT
        try:
            print(connect.generate(args.service, endpoint))
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        return 0

    if args.command in _WINDOW_LANES:
        return _run_window_lane(args)

    try:
        cfg = _load_cfg(args)
    except Exception as e:
        print(f"configuration error: {e}", file=sys.stderr)
        return 2

    if args.command == "validate-config":
        print(json.dumps(cfg.__dict__, indent=2, default=str))
        return 0

    if args.command == "serve":
        from otlp2parquet_spark.otel import receiver

        srv = receiver.make_server(
            args.landing_root,
            args.host,
            cfg.server["port"],
            max_payload_bytes=cfg.request["max_payload_bytes"],
            quiet=False,
        )
        print(
            f"listening on {args.host}:{srv.server_address[1]}, "
            f"landing -> {args.landing_root}"
        )
        try:
            srv.serve_forever()
        except KeyboardInterrupt:
            pass
        finally:
            srv.server_close()
        return 0

    if args.command is None:
        _build_parser().print_help()
        return 0

    from otlp2parquet_spark.session import get_spark

    spark = get_spark(app_name=f"otlp2parquet-{args.command}")

    if args.command == "compact":
        from otlp2parquet_spark.otel import compact as compact_mod

        # Non-atomic swap (see compact.py docstring): new files land before
        # fragment deletion, so a racing reader can see duplicated rows for
        # the duration, and a crash in between leaves both generations until
        # re-run. Surfacing this here is the operational gate the plain-
        # parquet layout allows (a table format would give a real commit).
        print(
            "warning: compaction swap is non-atomic — do not run while a "
            "streaming sink or readers are active on this root (racing "
            "readers may see duplicated rows until the swap completes)",
            file=sys.stderr,
        )
        try:
            acct_df = compact_mod.compact_table(
                spark,
                cfg.output_root(),
                args.table,
                max_rows_per_file=cfg.batch["max_rows"],
                min_files_per_partition=args.min_files,
                require_quiesced_sec=0.0 if args.force else args.quiesced_sec,
            )
        except compact_mod.CompactionActiveError as e:
            # active-writer refusal (compact_table's quiesce guard); its own
            # type — a broad RuntimeError catch would also swallow
            # NotImplementedError (a RuntimeError subclass) and unrelated
            # engine errors, mislabeling them as the refusal
            print(f"error: {e}", file=sys.stderr)
            return 3
        except NotImplementedError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        acct = acct_df.collect()
        return _emit(
            compacted_files=len(acct), rows=int(sum(r.rows for r in acct)),
            output=cfg.output_root(),
        )

    if args.command in LANES:
        return _run_lane(spark, args)

    if args.command == "hh":
        import os

        from otlp2parquet_spark.streaming import pipeline as stream_pipeline

        q = stream_pipeline.heavyhitters_stream(
            spark, args.landing_dir, args.state, args.checkpoint
        )
        q.awaitTermination()
        cands_removed = totals_removed = 0
        if args.compact_state:
            cands_removed, totals_removed = stream_pipeline.compact_hh_state(
                spark, args.state
            )
        if os.path.isdir(os.path.join(args.state, "cands")):
            docs = spark.read.schema(stream_pipeline.DOCS_SCHEMA).parquet(
                args.landing_dir
            )
            hh = stream_pipeline.heavy_hitters_from_state(
                spark, args.state, docs
            ).collect()
            top = [{"token": r.token, "cnt": int(r.cnt)} for r in hh[: args.top]]
            n_hh = len(hh)
        else:
            # empty landing dir: no epoch flushed, nothing to extract
            top, n_hh = [], 0
        return _emit(
            heavy_hitters=n_hh, top=top, cands_epochs_compacted=cands_removed,
            totals_epochs_compacted=totals_removed, state=args.state,
        )

    if args.command == "annindex":
        import os

        from otlp2parquet_spark.streaming import pipeline as stream_pipeline

        q = stream_pipeline.ivfpq_index_stream(
            spark, args.landing_dir, args.index, args.checkpoint
        )
        q.awaitTermination()
        compacted = 0
        if args.compact_codes:
            # returns 0 when no epoch ever flushed (empty landing dir)
            compacted = stream_pipeline.compact_codes_index(spark, args.index)
        codes_dir = os.path.join(args.index, "codes")
        n_codes = n_vecs = 0
        if os.path.isdir(codes_dir):
            from pyspark.sql import functions as F

            from otlp2parquet_spark.extensions.similarity import (
                IVFPQ_CODES_SCHEMA,
            )

            codes = spark.read.schema(IVFPQ_CODES_SCHEMA).parquet(codes_dir)
            n_codes, n_vecs = codes.agg(
                F.count("*"), F.countDistinct("vec_id")
            ).first()
        return _emit(
            vectors_encoded=int(n_vecs), code_rows=int(n_codes),
            codes_epochs_compacted=compacted, index=args.index,
        )

    if args.command == "dsirtrain":
        from otlp2parquet_spark.extensions.pipeline import (
            dsir_build_model,
            dsir_write_model,
        )

        docs = spark.read.parquet(args.corpus_dir)
        model, th = dsir_build_model(docs)
        dsir_write_model(spark, model, th, args.model)
        return _emit(
            model_buckets=model.count(), threshold_micro=int(th), model=args.model,
        )

    if args.command == "qtrain":
        from pyspark.sql import functions as F

        from otlp2parquet_spark.extensions.text import (
            _QC_ROUNDS,
            _qc_features,
            qc_shards_for,
            qc_write_model,
            quality_classifier_train,
        )

        docs = spark.read.parquet(args.corpus_dir).select("doc_id", "text")
        # corpus-derived shard count (metadata-only parquet count)
        shards = qc_shards_for(docs.count())
        feat = _qc_features(docs, shards=shards).localCheckpoint(eager=False)
        rounds = args.rounds if args.rounds is not None else _QC_ROUNDS
        w = quality_classifier_train(feat, rounds=rounds, shards=shards)
        qc_write_model(spark, w, args.model, shards=shards, rounds=rounds)
        n, n_pos = feat.agg(F.count("*"), F.sum("y")).first()
        return _emit(
            docs_trained=int(n), label_balance=int(n_pos or 0),
            nonzero_weights=sum(1 for v in w if v), shards=shards, model=args.model,
        )

    if args.command == "dctrain":
        from otlp2parquet_spark.extensions.pipeline import (
            decontam_read_benchset,
            decontam_write_benchset,
        )

        bench = spark.read.parquet(args.bench_dir).select("doc_id", "text")
        decontam_write_benchset(bench, args.benchset)
        n = decontam_read_benchset(spark, args.benchset).count()
        return _emit(bench_grams=int(n), benchset=args.benchset)

    if args.command == "lmtrain":
        from otlp2parquet_spark.extensions.text import lm_read_model, lm_write_model

        docs = spark.read.parquet(args.corpus_dir).select("doc_id", "text", "source")
        lm_write_model(docs, args.model)
        _m, _p, vocab, n_model, _np = lm_read_model(spark, args.model)
        return _emit(
            model_bigram_types=int(n_model), sources=vocab.count(), model=args.model,
        )

    if args.command == "zorder":
        from pyspark.sql import functions as F
        from pyspark.sql import types as SQLT

        from otlp2parquet_spark.layout import grid16, zorder_write, zvalue16

        cols = [c.strip() for c in args.by.split(",")]
        if len(cols) != 2:
            print(json.dumps({"error": "--by needs exactly two columns"}))
            return 2
        df = spark.read.parquet(args.input_dir)

        types = {fld.name: fld.dataType for fld in df.schema.fields}
        missing = [c for c in cols if c not in types]
        if missing:
            print(json.dumps({"error": f"columns not in input: {missing}"}))
            return 2

        def as_int(c: str):
            if isinstance(types[c], (SQLT.TimestampType, SQLT.TimestampNTZType)):
                return F.unix_micros(F.col(c).cast("timestamp"))
            return F.col(c).cast("long")

        x, y = as_int(cols[0]), as_int(cols[1])
        # extremes are ONE bounded driver row, inlined as literals so the
        # grid arithmetic is the registry operator's exact integer DIV
        xmin, xmax, ymin, ymax = df.agg(
            F.min(x), F.max(x), F.min(y), F.max(y)
        ).first()
        if xmin is None or ymin is None:
            # empty table (or all-null cluster keys): nothing to cluster
            print(json.dumps({"error": "no rows with non-null cluster keys"}))
            return 2
        zed = df.withColumn("_zx", x).withColumn("_zy", y)
        zcol = zvalue16(
            grid16("_zx", int(xmin), int(xmax)),
            grid16("_zy", int(ymin), int(ymax)),
        ).cast("long")
        zorder_write(
            zed, zcol, args.output_dir, n_files=args.files, drop=("_zx", "_zy")
        )
        n = spark.read.parquet(args.output_dir).count()
        return _emit(rows=int(n), by=cols, files=args.files, output=args.output_dir)

    if args.command in ("ingest", "stream"):
        from otlp2parquet_spark.otel import config as cfgmod
        from otlp2parquet_spark.otel import ingest as batch_ingest
        from otlp2parquet_spark.otel import writer

        cfgmod.apply_storage_conf(spark, cfg)
        root = cfg.output_root()

        if args.command == "ingest":
            tables = batch_ingest.ingest_directory(
                spark,
                args.landing_dir,
                args.signal,
                max_payload_bytes=cfg.request["max_payload_bytes"],
                quarantine_dir=args.quarantine,
            )
            summary = {
                name: writer.write_table(
                    df, name, root, layout=cfg.engine["layout"],
                    max_rows_per_file=cfg.batch["max_rows"],
                )
                for name, df in tables.items()
                if not name.startswith("_")
            }
            if "_union" in tables:
                tables["_union"].unpersist()
            # D27 response-accounting twin
            resp = {"written": summary, "output": root}
            if args.quarantine:
                qdf = batch_ingest.read_quarantine(spark, args.quarantine)
                resp["quarantined"] = {
                    r.code: r["count"] for r in qdf.groupBy("code").count().collect()
                }
            # files refused before decode: oversized (D4) or unknown extension (D3)
            rej = tables["_rejected"].groupBy("reason").count().collect()
            resp["rejected"] = {r.reason: r["count"] for r in rej}
            return _emit(**resp)

        from otlp2parquet_spark.streaming.ingest import stream_ingest

        q = stream_ingest(
            spark,
            args.landing_dir,
            args.signal,
            root,
            args.checkpoint,
            layout=cfg.engine["layout"],
            trigger_seconds=None if args.available_now else args.trigger_seconds,
            available_now=args.available_now,
            max_rows_per_file=cfg.batch["max_rows"],
            quarantine_dir=args.quarantine,
        )
        q.awaitTermination()
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
