"""Seeded benchmark of the shipped OTLP and operator paths.

    python3 perfbench/run.py --workload otlp_batch --seed 1 --seconds 10 --trace 0

Runs one workload (otlp_batch, otlp_stream; see BENCHMARK.json and
perfbench/metrics.json), checks its outputs, prints one line per named
workload metric and, last, one JSON object: {"correct", "attempted",
"failed", "metrics"}. `--trace 0` reports the end-to-end metrics of an
untraced run; `--trace 1` is a separate traced run that reports the
per-layer metrics and writes its spans to .perfbench_work/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

WORKLOADS = ("otlp_batch", "otlp_stream")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import otlp2parquet_spark  # noqa: F401
    except ImportError as e:
        print(f"error: the otlp2parquet_spark package is not importable: {e}", file=sys.stderr)
        return 2
    spec = load_spec()

    from harness import Bench

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    mod = __import__({"otlp_batch": "wl_batch", "otlp_stream": "wl_stream"}[args.workload])
    try:
        mod.run(b)
    except Exception:
        traceback.print_exc()
        b.close()
        return 1
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return b.finish(list(e2e), e2e, list(layer), layer)


if __name__ == "__main__":
    raise SystemExit(main())
