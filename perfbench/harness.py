"""Run state shared by the workload drivers, and the Spark environment
the benchmark supplies."""

from __future__ import annotations

import os
import shlex
import tempfile
from dataclasses import dataclass, field

from perfbench.procmem import PeakRss, tree_cpu_s
from perfbench.tracing import Tracer

SETUPS = 5  # set-ups per run; setup_s is their median


@dataclass
class Result:
    e2e: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failed: int
    report: dict = field(default_factory=dict)


class Run:
    """One benchmark run: arguments, directories, tracer, session."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work: str, sf_dir: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.setups = SETUPS
        self.work = work
        self.sf_dir = sf_dir
        self.event_log_dir = os.path.join(work, "eventlog")
        self.tracer = Tracer()
        self.get_spark_s: list[float] = []
        self.spark = None
        self.cpu_start = 0.0
        self.cpu_s: float | None = None
        self.rss = PeakRss()
        self.rss.__enter__()

    def start_session(self, restart: bool):
        """``session.get_spark``, first stopping the running session if
        ``restart``; the JVM stays up, the SparkContext is new."""
        from kafka_flink_exactlyonce_example_spark.session import get_spark

        if restart and self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.get_spark") as sp:
            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self.get_spark_s.append(sp.dur)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def begin_timed(self) -> None:
        self.cpu_start = tree_cpu_s(os.getpid())

    def end_timed(self) -> None:
        """Take the timed section's CPU time and stop sampling memory."""
        if self.cpu_s is None:
            self.cpu_s = tree_cpu_s(os.getpid()) - self.cpu_start
        if self.rss.running:
            self.rss.__exit__(None, None, None)

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.end_timed()
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)


def configure_env(work: str, trace: bool) -> None:
    """Set, before pyspark starts the JVM: local[nproc], a fixed 2g driver
    heap unless set, scratch and temp dirs inside the checkout, and for
    traced runs Spark's uncompressed event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the launch starts: temp files in the checkout, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        # a heap of fixed size, touched at start: peak RSS is that heap plus
        # what lies outside it, instead of following when the collector
        # grows and fills the heap (peak RSS spread 40% across seeds without)
        "spark.driver.extraJavaOptions":
            f"-Xms{heap} -XX:+AlwaysPreTouch -Dderby.system.home={work}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
