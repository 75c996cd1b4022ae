"""Open-loop OTLP/HTTP load generator, run as its own process.

    python3 loadgen.py MANIFEST RESULTS --port N --rate R --connections C [--start START]

MANIFEST is a JSON list of requests ({"file", "path", "content_type",
"gzip"}); request i is due at START + i / R seconds whatever happened to
earlier requests. C keep-alive connections take due requests in order; a
request waiting for a free connection still counts its latency from its
due time. RESULTS gets one record per request: due, sent and done wall
times, HTTP status and the receiver's response body.
"""

from __future__ import annotations

import argparse
import http.client
import json
import threading
import time


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("manifest")
    p.add_argument("results")
    p.add_argument("--port", type=int, required=True)
    p.add_argument("--rate", type=float, required=True)
    p.add_argument("--connections", type=int, required=True)
    p.add_argument("--start", type=float, help="wall time request 0 is due (default: now)")
    args = p.parse_args()
    with open(args.manifest) as f:
        reqs = json.load(f)
    bodies = []
    for r in reqs:
        with open(r["file"], "rb") as f:
            bodies.append(f.read())
    results: list[dict | None] = [None] * len(reqs)
    lock = threading.Lock()
    nxt = [0]
    start = args.start or time.time() + 0.2

    def worker() -> None:
        # open the keep-alive connection before the schedule starts, as a
        # long-running exporter's would be
        conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=30)
        conn.request("GET", "/health")
        conn.getresponse().read()
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(reqs):
                break
            due = start + i / args.rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            r = reqs[i]
            headers = {"Content-Type": r["content_type"]}
            if r["gzip"]:
                headers["Content-Encoding"] = "gzip"
            sent = time.time()
            try:
                conn.request("POST", r["path"], body=bodies[i], headers=headers)
                resp = conn.getresponse()
                body = resp.read().decode()
                status = resp.status
            except (OSError, http.client.HTTPException) as e:
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=30)
                status, body = 0, repr(e)
            results[i] = {"due": due, "sent": sent, "done": time.time(),
                          "status": status, "body": body}
        conn.close()

    threads = [threading.Thread(target=worker) for _ in range(args.connections)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(args.results, "w") as f:
        json.dump(results, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
