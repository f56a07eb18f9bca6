"""What every workload shares: the run's temp area, the Spark session,
set-up timing, host counters and the result record."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from .trace import Tracer


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class StealMeter:
    """Share of CPU time the hypervisor stole between start and stop,
    from /proc/stat."""

    def __init__(self):
        self._t0 = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        steal = fields[7] if len(fields) > 7 else 0
        return steal, sum(fields[:8])

    def pct(self) -> float:
        s1, t1 = self._read()
        s0, t0 = self._t0
        return 100.0 * (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0


@dataclass
class Outcome:
    """One workload run: ops attempted/failed, end-to-end metrics
    (seconds, MB), per-layer metrics and the named report lines."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    end_to_end: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """Count one op; a failed or wrong op is recorded by name."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


class Bench:
    """Owns the run's temp directory (inside the checkout), the Spark
    session and the tracer. ``close`` stops Spark and deletes every file
    the run wrote."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, root: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_created = time.perf_counter()
        self._n = 0
        self.tmp = os.path.join(root, ".bench_tmp", f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.tmp)
        for env in ("TMPDIR", "SPARK_LOCAL_DIRS"):
            os.environ[env] = self.scratch(env.lower())
        self.spark = None
        self.tracer: Tracer | None = None
        self.session_start_s = 0.0
        self.steal = StealMeter()

    def scratch(self, name: str) -> str:
        """A fresh directory under the run's temp area."""
        self._n += 1
        path = os.path.join(self.tmp, f"{self._n:03d}-{name}")
        os.makedirs(path)
        return path

    def start_session(self, cpus: int, driver_memory: str):
        from wikistream_event_data_pipeline_aws_spark.session import get_spark

        t0 = time.perf_counter()
        tmp = self.scratch("jvm")
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            cpus=cpus,
            shuffle_partitions=cpus,
            driver_memory=driver_memory,
            extra_confs={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.scratch("warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        if self.trace:
            self.tracer = Tracer(f"{self.workload}-{self.seed}", self.spark.sparkContext)
        return self.spark

    def timed_setup(self, prepare, cpus: int, driver_memory: str) -> tuple[float, object]:
        """Session start on ``local[cpus]``, then ``prepare()`` (input
        generation and warm-up). Returns the seconds from the start of the run (package
        import included) to the end of ``prepare``, and its result."""
        self.start_session(cpus, driver_memory)
        state = prepare()
        return time.perf_counter() - self.t_created, state

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this process."""
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(jvm_pid) + vm_hwm_mb()

    def close(self) -> None:
        if self.tracer is not None:
            self.tracer.unwrap()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            self.spark = None
            # the driver JVM exits when its stdin closes; wait for it
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(self.tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.tmp))  # .bench_tmp, once no run uses it
        except OSError:
            pass
