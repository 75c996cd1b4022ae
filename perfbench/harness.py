"""Shared benchmark plumbing: the Spark session and its set-up timing, the
engine's per-phase counters, percentiles and the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager, suppress
from dataclasses import dataclass, field

from host import Interval, RssSampler
from tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (falls back to now)."""
    try:
        with open("/proc/self/stat") as f:
            stat = f.read()
        ticks = int(stat[stat.rfind(")") + 2:].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pct(values: list[float], q: float) -> float:
    """Percentile (q in 0..100) of a non-empty list, interpolated linearly
    between the two nearest ranks."""
    xs = sorted(values)
    pos = q / 100.0 * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def noop(df) -> None:
    """Force a DataFrame completely without keeping its output."""
    df.write.format("noop").mode("overwrite").save()


def spark_conf(tmp: str) -> dict[str, str]:
    return {
        # stdout carries only metrics
        "spark.ui.showConsoleProgress": "false",
        # local mode runs everything in the driver heap; a fixed,
        # pre-touched heap keeps the JVM's share of peak RSS constant, so
        # peak_rss_mb moves with off-heap and Python-side memory rather
        # than with GC sizing
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
    }


@dataclass
class Bench:
    """One invocation: arguments, work directory, tracer and results."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    t_proc: float = field(default_factory=process_start_time)
    tracer: Tracer = field(init=False)
    work: str = field(init=False)
    spark: object = None
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    report: list[tuple[str, float, str]] = field(default_factory=list)
    setups: list[float] = field(default_factory=list)
    gen_s: float = 0.0
    cores: int = field(default_factory=cpus)
    engine_read_s: float = 0.0

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.trace)
        self.work = os.path.join(ROOT, ".perfbench_work", f"{self.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        # temporary files of this process, its children and the JVM stay
        # inside the checkout
        self.tmp = self.path("tmp")
        os.makedirs(self.tmp)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        tempfile.tempdir = None
        self.rss = RssSampler()
        self.interval = Interval()

    def log(self, msg: str) -> None:
        """Progress line on stderr, stamped with seconds since process start."""
        print(f"[{time.time() - self.t_proc:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session ---------------------------------------------------------

    def start_spark(self):
        """Build the session the way the CLI does (`get_spark`), sized to
        this host. Python workers inherit PYTHONPATH, so they import the
        package whatever the working directory."""
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        )
        from otlp2parquet_spark.session import get_spark

        n = self.cores
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}", master=f"local[{n}]",
            shuffle_partitions=n, extra_conf=spark_conf(self.tmp),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self, probe, builds: int = 3) -> None:
        """Set-up = process start-up (interpreter, imports; measured once,
        input generation excluded) + building the session and running
        `probe()`, a small fixed JVM-side action. The session is built
        `builds` times (the first launches the JVM, the others follow an
        in-process stop); each set-up sample is start-up + one build."""
        startup = time.time() - self.t_proc - self.gen_s
        for i in range(builds):
            t0 = time.time()
            with self.tracer.span("session.start" if i == 0 else "session.restart"):
                if i:
                    self.spark.stop()
                self.start_spark()
                t1 = time.time()
                probe()
            self.setups.append(startup + time.time() - t0)
            if i == 0:
                self.layer["session.start_s"] = t1 - t0
                self.layer["session.cold_s"] = self.setups[0]
        self.log("set-ups " + " ".join(f"{s:.2f}s" for s in self.setups))

    # -- outcomes --------------------------------------------------------

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def check(self, ok: bool, what: str) -> bool:
        """An output check: failing it fails the run."""
        if not ok:
            self.failures.append(what)
        return ok

    def close(self) -> float:
        """Stop the session and its JVM (waiting for it to exit), stop
        sampling and remove the work directory; returns peak RSS in MB."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            with suppress(Exception):
                self.spark.stop()
            proc = getattr(gateway, "proc", None)
            with suppress(Exception):
                gateway.shutdown()
            if proc is not None:
                with suppress(Exception):
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        return self.rss.stop()

    def finish(self, names_e2e, units_e2e, names_layer, units_layer) -> int:
        """Print the named workload lines, then the result object."""
        self.e2e["setup_s"] = median(self.setups) if self.setups else 0.0
        self.e2e["peak_rss_mb"] = self.close()
        self.layer.update(self.interval.close())
        for name, value, unit in self.report:
            print(f"{self.workload} {name} {value:.6g} {unit}")
        for f in self.failures:
            print(f"check failed: {f}", file=sys.stderr)
        if self.trace:
            self.layer["trace.spans"] = float(len(self.tracer.spans))
            self.layer["trace.overhead_s"] = self.tracer.cost + self.engine_read_s
            self_times = self.tracer.self_times()
            for layer, prefixes in LAYERS.items():
                self.layer[f"self.{layer}_s"] = sum(
                    v for k, v in self_times.items() if k.startswith(prefixes))
            self.tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{self.workload}.json"))
            names, units, values = names_layer, units_layer, self.layer
        else:
            names, units, values = names_e2e, units_e2e, self.e2e
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}
        print(json.dumps({"correct": not self.failures, "attempted": max(1, self.attempted),
                          "failed": self.failed, "metrics": metrics}))
        return 0


# span-name prefixes of each layer, for the per-layer self times
LAYERS = {
    "session": ("session.",),
    "receiver": ("otel.receiver",),
    "ingest": ("otel.ingest",),
    "writer": ("otel.writer",),
    "stream": ("streaming.",),
    "compact": ("otel.compact",),
    "otel_query": ("queries.otel",),
    "ops": ("extensions.", "queries.relational"),
}


# -- Spark engine counters per phase ----------------------------------------

ENGINE_KEYS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s",
               "executor_cpu_s")


class EnginePhase:
    """Engine counters of the jobs that ran between `__init__` and
    `close()`, read from the status store through py4j. Job ids grow
    monotonically, so the phase's jobs are those above the id watermark
    taken at the start; this also catches jobs a streaming query submits
    from its own thread."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.watermark = self._max_job_id()

    def _jobs(self):
        jl = self.store.jobsList(self.spark.sparkContext._jvm.java.util.ArrayList())
        return [jl.apply(i) for i in range(jl.size())]

    def _max_job_id(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def close(self) -> dict[str, float]:
        out = dict.fromkeys(ENGINE_KEYS, 0.0)
        stage_ids: set[int] = set()
        for j in self._jobs():
            if j.jobId() > self.watermark:
                out["jobs"] += 1
                ids = j.stageIds()
                stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        for sid in stage_ids:
            try:
                s = self.store.lastStageAttempt(sid)
            except Exception:
                continue  # skipped stages are never attempted
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
        return out


@contextmanager
def engine_phase(bench: Bench, phase: str):
    """Add the block's engine counters to `spark.<phase>.*` when tracing;
    the time spent reading them counts as tracing overhead."""
    if not bench.trace:
        yield
        return
    t = time.perf_counter()
    ep = EnginePhase(bench.spark)
    bench.engine_read_s += time.perf_counter() - t
    try:
        yield
    finally:
        t = time.perf_counter()
        for k, v in ep.close().items():
            key = f"spark.{phase}.{k}"
            bench.layer[key] = bench.layer.get(key, 0.0) + v
        bench.engine_read_s += time.perf_counter() - t
