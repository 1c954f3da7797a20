"""Run isolation, the Spark session and run telemetry.

Every run gets its own directory under ``.bench_runs/`` at the root of
the checkout: Spark warehouse, Derby home, Spark local dir, event-log
dir and TMPDIR all live there, and the directory is removed when the
run ends. Nothing is written anywhere else.
"""

from __future__ import annotations

import os
import resource
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
DATA = HERE / "data"
RUNS_DIR = REPO / ".bench_runs"

#: one local[4] session: the benchmark host has 4 cores
CORES = 4
DRIVER_MEMORY = "3g"


def package_importable() -> bool:
    sys.path.insert(0, str(REPO))
    try:
        import datanika_core_spark.session  # noqa: F401
        import datanika_core_spark.workloads  # noqa: F401
    except ImportError:
        return False
    return True


def quantile(values, q: float) -> float:
    """Inclusive linear-interpolation quantile (q in [0, 1])."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _loadavg() -> float:
    return round(os.getloadavg()[0], 2)


def cpu_times() -> tuple[float, float]:
    """(busy, steal) CPU seconds since boot, summed over all CPUs, from
    /proc/stat: busy is user, nice, system, irq and softirq time; steal
    is the time the hypervisor gave to other guests while this one
    wanted to run. On a shared host steal tells a slow run from a slow
    program."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    tick = os.sysconf("SC_CLK_TCK")
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / tick, f[7] / tick


def cpu_since(start: tuple[float, float]) -> tuple[float, float]:
    return tuple(b - a for a, b in zip(start, cpu_times()))


def pass_telemetry(passes, pass_cpu) -> dict:
    """Each timed pass's wall time (its operations' summed latency),
    busy CPU time and steal, for the ``# run`` line."""
    return {"pass_s": [round(sum(dt for dt, _ in p), 3) for p in passes],
            "pass_cpu_s": [round(busy, 2) for busy, _ in pass_cpu],
            "pass_steal_s": [round(steal, 2) for _, steal in pass_cpu]}


class Run:
    """Context manager owning one run's directories and Spark session."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.dir: Path | None = None
        self.spark = None
        self.jvm_peak_rss_mb = 0.0
        self.telemetry: dict = {}

    def __enter__(self) -> "Run":
        RUNS_DIR.mkdir(exist_ok=True)
        self.dir = Path(tempfile.mkdtemp(prefix="run_", dir=RUNS_DIR))
        tmp = self.dir / "tmp"
        tmp.mkdir()
        os.environ["TMPDIR"] = str(tmp)
        tempfile.tempdir = str(tmp)
        # Python workers (UDFs, mapInPandas) import the package too
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory {DRIVER_MEMORY} pyspark-shell")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.dir / "local")
        self.telemetry = {"nproc": len(os.sched_getaffinity(0)),
                          "loadavg_1m_start": _loadavg()}
        return self

    def path(self, name: str) -> Path:
        return self.dir / name

    def session_conf(self) -> dict[str, str]:
        # C1 only: the JIT settles within the warm-up. With the default
        # tiered C2 the timed passes kept getting faster (the first ~35 %
        # slower than the fourth) while C2 threads took 4-6 CPU-seconds
        # a pass from the task slots.
        java_opts = (f"-Dderby.system.home={self.dir} "
                     f"-Djava.io.tmpdir={self.dir / 'tmp'} -XX:-UsePerfData "
                     "-XX:TieredStopAtLevel=1")
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            events = self.dir / "events"
            events.mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start_session(self):
        # attribute lookup at call time, so a traced run sees its wrapper
        from datanika_core_spark import session

        self.spark = session.build_spark(
            app_name="perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            warehouse_dir=str(self.dir / "warehouse"),
            extra_conf=self.session_conf(),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.telemetry["spark_cores"] = self.spark.sparkContext.defaultParallelism
        return self.spark

    def _sample_jvm_rss(self) -> None:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    self.jvm_peak_rss_mb = int(line.split()[1]) / 1024

    def stop_session(self) -> None:
        """Stop Spark, then shut the JVM down and wait for it to exit
        (the event log is complete only after this)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self._sample_jvm_rss()
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    def event_log(self) -> Path | None:
        files = [p for p in (self.dir / "events").iterdir() if p.is_file()]
        return files[0] if files else None

    def finish_telemetry(self) -> dict:
        self.telemetry["loadavg_1m_end"] = _loadavg()
        return self.telemetry

    @staticmethod
    def py_peak_rss_mb() -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    def __exit__(self, *exc) -> None:
        try:
            self.stop_session()
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)
