"""Per-run plumbing shared by the workloads: the checkout layout, the
Spark process lifetime, repeated set-up, and the result record."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import time
from dataclasses import dataclass, field

from perfbench.stats import median, tail
from perfbench.tracing import Tracer

SETUP_REPS = 3  # set-up is repeated and its median reported


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


@dataclass
class Run:
    """One benchmark invocation: arguments, scratch directory, the live
    SparkSession and everything measured so far."""

    workload: str
    seed: int
    seconds: int
    traced: bool
    work: str
    cores: int = field(default_factory=cpu_count)
    spark: object = None
    setup_times: list[float] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    info: dict[str, object] = field(default_factory=dict)
    tracer: Tracer = None

    def __post_init__(self):
        self.tracer = Tracer(self.traced)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- Spark lifetime ---------------------------------------------------

    def start_spark(self, master: str | None = None, shuffle_partitions: int | None = None):
        from open_pulsar_spark import get_spark

        tmp = self.path("tmp")
        self.spark = get_spark(
            "perfbench",
            master=master or f"local[{self.cores}]",
            shuffle_partitions=shuffle_partitions,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": self.path("warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, warm_up, reps: int = SETUP_REPS) -> None:
        """`reps` times: session start, registry import and the workload's
        warm-up. The first repetition also launches the JVM and imports the
        program; the last one leaves the session running. Spans recorded
        during set-up are dropped: warm-up is excluded from every metric."""
        for rep in range(reps):
            if rep:
                self.stop_spark()
            t0 = time.perf_counter()
            from open_pulsar_spark import registry

            self.start_spark()
            registry.load_all()
            warm_up()
            self.setup_times.append(time.perf_counter() - t0)
        self.tracer.spans.clear()

    # -- result -------------------------------------------------------------

    def put(self, name: str, value: float) -> None:
        self.metrics[name] = float(value)

    def put_latencies(self, samples: list[float]) -> None:
        """latency_p50_s and latency_tail_s (the sample-count rule's
        percentile, which is the median below 20 samples)."""
        pct, val = tail(samples)
        self.put("latency_p50_s", median(samples))
        self.put("latency_tail_s", val)
        self.info["latency_tail_pct"] = pct
        self.info["latency_samples"] = len(samples)

    def fail(self, what: str) -> None:
        self.failures.append(what)


def prepare_environment(root: str, work: str, cores: int) -> None:
    """Confine every file Spark and its workers write to the run's
    scratch directory, and let Python workers import the checkout."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def shutdown_jvm(timeout_s: float = 30.0) -> None:
    """Stop the py4j gateway's JVM (and with it the Python workers) and
    wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is None:
        return
    try:
        proc.stdin.close()  # the launcher exits when its stdin closes
    except (OSError, AttributeError):
        pass
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None


def clean(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
