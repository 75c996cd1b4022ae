"""The operator suite of otlp_batch: a fixed subset of registry queries.

The subset holds one query per `extensions/*` module and
`queries/relational.py`, taken from the operators the roadmap names where
the module has one (x6_dedup_funnel and x2_phash_neardup are left out to
keep a run within the benchmark's time budget). Tables are generated from
the seed (tablegen.py). Each query is forced by collecting its (small)
result as Arrow; the result's row count and order-insensitive hash are
checked against the registry's DuckDB oracle where one exists, and
otherwise, when a run makes several passes, against its first pass.
"""

from __future__ import annotations

import os
import time

import oracle
import tablegen
from harness import Bench, median

QUERIES = (
    "x2_minhash_lsh",
    "x4_quality_classifier",
    "x6_e2e_pipeline",
    "x3_cosine_topk",
    "x5_decode_features",
    "a9_quantile_sketch",
)
MODULES = ("dedup", "similarity", "text", "pipeline", "multimodal", "relational")


def module_of(spec) -> str:
    return spec.build.__module__.rsplit(".", 1)[-1]


class Suite:
    """The generated tables, the registry and the first pass's results."""

    def __init__(self, b: Bench) -> None:
        self.b = b
        self.sf = b.path("tables")
        self.sizes = tablegen.build(self.sf, b.seed)
        self.first: dict[str, tuple[int, str] | None] = {}
        self.reg = None

    def run_pass(self) -> dict[str, float]:
        """One pass over the subset; returns seconds per query."""
        from otlp2parquet_spark.queries.registry import all_specs

        b = self.b
        if self.reg is None:
            self.reg = all_specs()
        times = {}
        for name in QUERIES:
            spec = self.reg[name]
            layer = "queries." if module_of(spec) == "relational" else "extensions."
            t0 = time.time()
            with b.tracer.span(f"{layer}{module_of(spec)}.{name}"):
                try:
                    result = spec.build(b.spark, self.sf).toArrow()
                except Exception as e:  # counted, reported, never fatal
                    result = None
                    b.failures.append(f"{name}: {e!r}"[:300])
            times[name] = time.time() - t0
            fp = oracle.fingerprint(result) if result is not None else None
            if name not in self.first:
                self.first[name] = fp
            elif fp is not None:
                b.check(fp == self.first[name], f"{name}: result differs from the first pass")
            b.op(fp is not None, name)
        return times

    def check_oracles(self) -> None:
        """Registry oracles, once per invocation over the generated tables."""
        import duckdb

        con = duckdb.connect()
        for name in self.sizes:
            path = os.path.join(self.sf, name) + ".parquet"
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for name in QUERIES:
            sql = self.reg[name].oracle
            got = self.first.get(name)
            if sql is not None and got is not None:
                want = oracle.duckdb_fingerprint(con, sql)
                self.b.check(got == want, f"{name}: spark {got} != duckdb {want}")
        con.close()

    def layer_metrics(self, times: list[dict[str, float]]) -> None:
        """ops.<query>_s (median over passes) and the per-module sums."""
        layer = self.b.layer
        for name in QUERIES:
            layer[f"ops.{name}_s"] = median([t[name] for t in times])
        for m in MODULES:
            layer[f"ops.{m}_s"] = sum(
                layer[f"ops.{n}_s"] for n in QUERIES if module_of(self.reg[n]) == m)
