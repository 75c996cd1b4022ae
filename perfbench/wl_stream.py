"""otlp_stream: the `serve` + `stream` CLI path, then `compact`.

The receiver runs in its own process through its public entry point
(`python -m otlp2parquet_spark.otel.receiver`). `streaming.ingest.stream_ingest`
runs on its landing directory with a fixed processingTime trigger while
an open-loop generator process (loadgen.py) POSTs small logs requests at a
fixed rate over a few keep-alive connections. After the backlog drains the
stream stops and `compact.compact_table` runs on its minute-bucket
fragments, once per copy of the stream's output.
"""

from __future__ import annotations

import datetime as dt
import glob
import gzip
import json
import os
import re
import shutil
import socket
import subprocess
import sys
import time
import urllib.request

import oracle
import otlpgen
from harness import ROOT, Bench, engine_phase, median, pct

RATE = 12.5  # POSTs per second, offered
CONNECTIONS = 4
LOGS_PER_POST = 20
TRIGGER_S = 2.0
COMPACT_COPIES = 3
WARM_POSTS = 10
CONTENT_TYPES = {"pb": "application/x-protobuf", "json": "application/json",
                 "jsonl": "application/jsonl"}


def make_requests(d: str, seed: int, anchor_ns: int, n: int, rate: float,
                  first_id: int = 0) -> list[dict]:
    """n logs requests, each tagged with a `bench.req` id (from `first_id`)
    on every record and timestamped around its due time (live telemetry)."""
    os.makedirs(d, exist_ok=True)
    g = otlpgen.Gen(seed, anchor_ns)
    reqs = []
    for i in range(first_id, first_id + n):
        due = anchor_ns + int(i / rate * otlpgen.NS)
        g.window = (due - 5 * otlpgen.NS, due)
        fmt = ("pb", "json", "jsonl")[i % 3]
        lines = 2 if fmt == "jsonl" else 1
        models = [g.request("logs", LOGS_PER_POST // lines, extra_attrs={"bench.req": i})
                  for _ in range(lines)]
        body = otlpgen.render("logs", models, fmt)
        gz = g.rng.random() < 0.2
        if gz:
            body = gzip.compress(body, mtime=0)
        path = os.path.join(d, f"req-{i:05d}.{fmt}")
        with open(path, "wb") as f:
            f.write(body)
        reqs.append({"id": i, "file": path, "path": "/v1/logs",
                     "content_type": CONTENT_TYPES[fmt], "gzip": gz,
                     "rows": sum(otlpgen.count_rows("logs", models).values())})
    return reqs


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Receiver:
    """The receiver process, started through its public entry point."""

    def __init__(self, b: Bench, landing_root: str, cpus: set[int]) -> None:
        self.port = free_port()
        env = dict(os.environ, PYTHONPATH=ROOT)
        self.log = open(b.path("receiver.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "otlp2parquet_spark.otel.receiver", landing_root,
             "--host", "127.0.0.1", "--port", str(self.port)],
            cwd=ROOT, env=env, stdout=self.log, stderr=subprocess.STDOUT,
            preexec_fn=lambda: os.sched_setaffinity(0, cpus),
        )
        deadline = time.time() + 30
        while True:
            try:
                with urllib.request.urlopen(f"http://127.0.0.1:{self.port}/health", timeout=1):
                    return
            except OSError:
                if time.time() > deadline or self.proc.poll() is not None:
                    self.stop()
                    raise RuntimeError("receiver did not become healthy")
                time.sleep(0.1)

    def stop(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.log.close()


def write_files(d: str, reqs: list[dict]) -> None:
    """Land request bodies directly (no receiver), decompressed like the
    receiver does, for the set-up probe."""
    os.makedirs(d, exist_ok=True)
    for r in reqs:
        with open(r["file"], "rb") as f:
            body = f.read()
        if r["gzip"]:
            body = gzip.decompress(body)
        with open(os.path.join(d, os.path.basename(r["file"])), "wb") as f:
            f.write(body)


def compact(b: Bench, root: str) -> dict:
    from otlp2parquet_spark.otel import compact as compact_mod

    before = set(glob.glob(os.path.join(root, "logs", "**", "*.parquet"), recursive=True))
    t = time.time()
    acct = compact_mod.compact_table(b.spark, root, "otel_logs", require_quiesced_sec=0.0).collect()
    secs = time.time() - t
    after = set(glob.glob(os.path.join(root, "logs", "**", "*.parquet"), recursive=True))
    new = after - before
    return {"s": secs, "files_in": len(before - after), "files_out": len(new),
            "bytes": sum(os.path.getsize(p) for p in new), "rows": sum(r.rows for r in acct)}


def layout_fingerprint(root: str) -> tuple[int, str]:
    con, _ = oracle.duckdb_over_layout(root)
    fp = oracle.duckdb_fingerprint(con, "SELECT * FROM otel_logs")
    con.close()
    return fp


def _progress_time(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def run(b: Bench) -> None:
    # the receiver and the generator run out of engine, as in a deployment
    # where the receiver has its own host: they get the first CPU, Spark
    # (launched from this process, so inheriting its affinity) the rest
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) > 1:
        os.sched_setaffinity(0, cpus[1:])
        b.cores = len(cpus) - 1
    edge = {cpus[0]}
    anchor = int(time.time()) * otlpgen.NS
    t = time.time()
    n = max(1, int(RATE * b.seconds))
    reqs = make_requests(b.path("reqs"), b.seed, anchor, n, RATE)
    probe_reqs = make_requests(b.path("probe-reqs"), b.seed + 1, anchor, 3, RATE)
    warm_reqs = make_requests(b.path("warm-reqs"), b.seed + 2, anchor, WARM_POSTS, RATE,
                              first_id=n)
    manifest = b.path("manifest.json")
    with open(manifest, "w") as f:
        json.dump(reqs, f)
    b.gen_s = time.time() - t
    write_files(b.path("probe-landing"), probe_reqs)

    def probe():
        from otlp2parquet_spark.otel import ingest

        acc, _ = ingest.read_landing_auto(b.spark, b.path("probe-landing"))
        b.check(acc.count() == len(probe_reqs), "probe: landing scan count")

    b.setup(probe)

    landing_root = b.path("landing")
    # landed before the stream starts: its first (cold) micro-batch takes
    # them, and the timed load begins once they are committed
    write_files(os.path.join(landing_root, "logs"), warm_reqs)
    receiver = Receiver(b, landing_root, edge)
    try:
        with b.tracer.span("pass"):
            episode(b, receiver, landing_root, manifest, reqs, warm_reqs, edge)
    finally:
        receiver.stop()


def wait_for_files(q, n: int, timeout_s: float = 60.0) -> None:
    """Until the stream's micro-batches have taken `n` files in total (or
    it failed, or the timeout passed)."""
    deadline = time.time() + timeout_s
    while sum(p["numInputRows"] for p in q.recentProgress) < n:
        if q.exception() is not None or time.time() > deadline:
            return
        time.sleep(0.1)


def episode(b: Bench, receiver: Receiver, landing_root: str, manifest: str, reqs,
            warm_reqs, edge: set[int]) -> None:
    from otlp2parquet_spark.streaming.ingest import stream_ingest

    spark = b.spark
    out, ckpt, qdir = b.path("out"), b.path("ckpt"), b.path("quarantine")
    results_path = b.path("results.json")
    with b.tracer.span("streaming.ingest") as stream_span, engine_phase(b, "stream"):
        q = stream_ingest(spark, os.path.join(landing_root, "logs"), "logs", out, ckpt,
                          trigger_seconds=TRIGGER_S, quarantine_dir=qdir)
        wait_for_files(q, len(warm_reqs))
        # processingTime triggers fire on multiples of the interval since the
        # epoch; starting the load just after one keeps the POSTs' phase
        # against the trigger the same in every run
        start = (int(time.time() / TRIGGER_S) + 2) * TRIGGER_S + 0.05
        with b.tracer.span("otel.receiver"):
            gen = subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
                 manifest, results_path, "--port", str(receiver.port), "--rate", str(RATE),
                 "--connections", str(CONNECTIONS), "--start", repr(start)],
                cwd=ROOT, stdout=subprocess.DEVNULL, timeout=120,
                preexec_fn=lambda: os.sched_setaffinity(0, edge),
            )
        with open(results_path) as f:
            results = json.load(f)
        acked = [i for i, r in enumerate(results) if r["status"] == 200]
        wait_for_files(q, len(warm_reqs) + len(acked))
        # the micro-batches of the timed load
        progress = [p for p in q.recentProgress
                    if p["numInputRows"] > 0 and _progress_time(p["timestamp"]) >= start - 0.5]
        q.stop()
    b.log(f"stream drained: {len(acked)}/{len(results)} POSTs acked, batches (files, ms): "
          + " ".join(f"{p['numInputRows']}/{p['durationMs']['triggerExecution']}" for p in progress))
    b.op(gen.returncode == 0, "load generator exit status")
    for i, r in enumerate(results):
        b.op(r["status"] == 200, f"POST {i}: status {r['status']} {r['body'][:100]}")
    b.check(q.exception() is None, f"stream failed: {q.exception()}")

    # every acked POST's rows present exactly once, all in one micro-batch
    con, _ = oracle.duckdb_over_layout(out)
    rows = con.execute(
        "SELECT CAST(json_extract(LogAttributes, '$.\"bench.req\"') AS BIGINT) AS req, "
        "filename, count(*) FROM read_parquet(?, filename=true, hive_partitioning=false) "
        "GROUP BY ALL", [os.path.join(out, "logs", "**", "*.parquet")]).fetchall()
    con.close()
    per_req: dict[int, int] = {}
    epoch_of: dict[int, set[int]] = {}
    for req, fname, cnt in rows:
        per_req[req] = per_req.get(req, 0) + cnt
        m = re.search(r"-epoch(\d+)-", os.path.basename(fname))
        epoch_of.setdefault(req, set()).add(int(m.group(1)) if m else -1)
    want = {reqs[i]["id"]: reqs[i]["rows"] for i in acked}
    want.update((r["id"], r["rows"]) for r in warm_reqs)
    b.check(per_req == want, "stream output: acked POST rows not present exactly once "
            f"({len(per_req)} requests found, {len(want)} acked)")

    commit_at = {p["batchId"]: _progress_time(p["timestamp"])
                 + p["durationMs"]["triggerExecution"] / 1000.0 for p in progress}
    fresh = []
    for i in acked:
        eps = epoch_of.get(reqs[i]["id"], set())
        if len(eps) == 1 and next(iter(eps)) in commit_at:
            fresh.append(commit_at[next(iter(eps))] - results[i]["done"])
    b.check(len(fresh) == len(acked), "freshness: some acked POSTs map to no committed batch")

    # compaction, once per copy of the stream output (the first copy warms
    # the compaction path and is not timed); row multiset kept
    before = layout_fingerprint(out)
    comps = []
    for c in range(COMPACT_COPIES):
        root = b.path(f"compact{c}")
        shutil.copytree(out, root)
        with b.tracer.span("otel.compact"), engine_phase(b, "compact"):
            comp = compact(b, root)
        b.log(f"compaction {c} {comp['s']:.2f}s")
        comps.append(comp)
        b.op(b.check(layout_fingerprint(root) == before,
                     f"compaction copy {c} changed the row multiset"), f"compact {c}")
        shutil.rmtree(root, ignore_errors=True)

    post_ms = [(r["done"] - r["due"]) * 1000 for r in results]
    total_rows = sum(reqs[i]["rows"] for i in acked)
    span_s = max(commit_at.values(), default=start) - start
    b.e2e.update(
        pass_s=median([c["s"] for c in comps[1:]]),
        rows_per_s=total_rows / span_s if span_s > 0 else 0.0,
        fresh_p50_s=pct(fresh, 50) if fresh else 0.0,
        fresh_p95_s=pct(fresh, 95) if fresh else 0.0,
    )
    b.report += [
        ("post_p50_ms", pct(post_ms, 50), "ms"),
        ("post_p95_ms", pct(post_ms, 95), "ms"),
        ("post_p99_ms", pct(post_ms, 99), "ms"),
        ("freshness_p50_s", b.e2e["fresh_p50_s"], "s"),
        ("freshness_p95_s", b.e2e["fresh_p95_s"], "s"),
        ("freshness_p99_s", pct(fresh, 99) if fresh else 0.0, "s"),
        ("compact_s", b.e2e["pass_s"], "s"),
        ("posts", float(len(results)), "count"),
    ]
    if b.trace:
        layer_metrics(b, results, progress, comps, stream_span, out, reqs, landing_root)


def layer_metrics(b: Bench, results, progress, comps, stream_span, out, reqs, landing_root):
    from wl_batch import decode_only

    from otlp2parquet_spark.otel.ingest import DEFAULT_MAX_PAYLOAD_BYTES

    post = [(r["done"] - r["due"]) * 1000 for r in results]
    service = [(r["done"] - r["sent"]) * 1000 for r in results]
    lag = [max(0.0, r["sent"] - r["due"]) * 1000 for r in results]
    landed = 0
    for r in results:
        if r["status"] == 200:
            landed += json.loads(r["body"]).get("bytes", 0)
    b.layer.update({
        "receiver.post_ms_p50": pct(post, 50),
        "receiver.post_ms_p95": pct(post, 95),
        "receiver.service_ms_p50": pct(service, 50),
        "receiver.service_ms_p99": pct(service, 99),
        "receiver.send_lag_ms_p99": pct(lag, 99),
        "receiver.requests": float(len(results)),
        "receiver.non_2xx": float(sum(1 for r in results if not 200 <= r["status"] < 300)),
        "receiver.bytes_landed": float(landed),
    })
    dur = [p["durationMs"] for p in progress]
    b.layer.update({
        "stream.batches": float(len(progress)),
        "stream.trigger_ms_p50": median([d["triggerExecution"] for d in dur]),
        "stream.add_batch_ms_p50": median([d.get("addBatch", 0) for d in dur]),
        "stream.commit_ms_p50": median([d.get("commitOffsets", 0) for d in dur]),
        "stream.latest_offset_ms_p50": median([d.get("latestOffset", 0) for d in dur]),
        "stream.files_per_batch_p50": median([p["numInputRows"] for p in progress]),
    })
    # backlog at each batch start: files acked before it minus files taken
    acks = sorted(r["done"] for r in results if r["status"] == 200)
    taken, backlog = 0, [0]
    for p in progress:
        start = _progress_time(p["timestamp"])
        backlog.append(sum(1 for a in acks if a <= start) - taken)
        taken += p["numInputRows"]
        b.tracer.add("streaming.batch", start,
                     start + p["durationMs"]["triggerExecution"] / 1000.0, stream_span.id)
    b.layer["stream.backlog_files_max"] = float(max(backlog))
    b.layer["trace.pass_s"] = median([c["s"] for c in comps[1:]])
    for k in list(b.layer):
        if k.startswith("spark.compact."):
            b.layer[k] /= len(comps)
    last = comps[-1]
    b.layer.update({
        "compact.s": median([c["s"] for c in comps[1:]]),
        "compact.files_in": float(last["files_in"]),
        "compact.files_out": float(last["files_out"]),
        "compact.bytes_rewritten": float(last["bytes"]),
    })
    files = glob.glob(os.path.join(out, "logs", "**", "*.parquet"), recursive=True)
    import pyarrow.parquet as pq

    per_file = [pq.ParquetFile(f).metadata.num_rows for f in files]
    b.layer.update({
        "writer.files": float(len(files)),
        "writer.bytes": float(sum(os.path.getsize(f) for f in files)),
        "writer.rows_per_file_p50": median(per_file) if per_file else 0.0,
        "decode.rows": float(sum(per_file)),
    })
    decode_only(b, landing_root, DEFAULT_MAX_PAYLOAD_BYTES, signals=("logs",))
    # sink self time: micro-batch time minus a decode-only pass over the
    # same payloads
    b.layer["writer.s"] = max(0.0, sum(d["triggerExecution"] for d in dur) / 1000.0
                              - b.layer.get("decode.logs_s", 0.0))
