"""Run environment, Spark session lifecycle, spans and the operation tally
shared by the workloads.

The benchmark drives the package from outside: it calls public
functions only, and everything it measures is timed here, around those
calls. A span is one timed call into a layer; its name doubles as the
Spark job group, so the event-log ledger (ledger.py) can attribute
Spark's own stage and task metrics to the call that caused them.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent  # checkout root
STATE = ROOT / ".perfbench"  # everything a run writes lives under here
WORK = STATE / "work"  # wiped at the start of every run
LEDGERS = STATE / "ledger"  # one ledger file per traced run, kept


def cores() -> int:
    """CPUs this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def pin_environment() -> dict:
    """Fix everything outside the package that changes its speed, before
    the JVM starts: the master (local[nproc], not get_spark's 32-core
    default), Spark's scratch dirs, the temp dir of both runtimes, and
    PYTHONPATH so the Python workers import the package from this
    checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in (WORK / "local", WORK / "tmp", LEDGERS):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("PYSPARK_GATEWAY_PORT", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(ROOT))
    return {
        "master": f"local[{cores()}]",
        "nproc": cores(),
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "PYTHONPATH": os.environ["PYTHONPATH"],
        "python": sys.version.split()[0],
    }


class Session:
    """One driver JVM for the whole run. Spark contexts can be stopped
    and started inside it (the traced phase needs a context with the
    event log on); `close()` stops the context and then waits for the
    JVM process, and with it the Python workers, to exit."""

    def __init__(self, env: dict):
        self.env = env
        self.spark = None

    def start(self, event_log_dir: Path | None = None):
        from use_case_real_time_anomaly_detection_spark.session import get_spark

        confs = {
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's files in the checkout: its temp dir, and no
            # hsperfdata, which HotSpot writes to /tmp regardless
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        }
        if event_log_dir is not None:
            event_log_dir.mkdir(parents=True, exist_ok=True)
            confs.update({
                "spark.eventLog.enabled": "true",
                # Spark 4 compresses event logs with zstd by default,
                # which the stdlib cannot read
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": event_log_dir.as_uri(),
            })
        self.spark = get_spark(self.env["master"], app_name="perfbench", extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.env.setdefault("pyspark", self.spark.version)
        self.env.setdefault(
            "jvm", self.spark._jvm.java.lang.System.getProperty("java.version")
        )
        return self.spark

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM: its peak resident set so far."""
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in /proc status")

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop_context()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


@dataclass
class Span:
    name: str  # "<workload>.<layer-call>", also the Spark job group
    start: float  # epoch seconds
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Recorder:
    """Spans kept in memory and written out when the run ends."""

    workload: str
    spark: object = None
    tag_jobs: bool = False
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, call: str):
        name = f"{self.workload}.{call}"
        sc = self.spark.sparkContext if self.tag_jobs else None
        if sc is not None:
            sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(Span(name, t0, t1))

    def seconds(self, call: str) -> list[float]:
        name = f"{self.workload}.{call}"
        return [s.seconds for s in self.spans if s.name == name]


class Tally:
    """Operations attempted and failed, output checks included. Safe to
    call from the generator's worker threads."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._lock = threading.Lock()

    def op(self, ok: bool, what: str) -> bool:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.problems.append(what)
        return ok

    def check(self, ok: bool, what: str) -> bool:
        return self.op(bool(ok), f"check failed: {what}")

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

