"""Shared plumbing for the perfbench workloads: the Spark session, the
work directory, percentiles, the host canary, memory high-water marks and
the result line.

Nothing here starts a process or touches the file system at import time;
``run.py`` calls these helpers after it has parsed its arguments.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time

# every run uses the same small driver heap: the benchmark inputs are a
# few hundred MB at most, and the host is shared
DRIVER_MEMORY = "2g"


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


class WorkDir:
    """A work directory under the current directory (``.perfbench_work/``),
    removed on close. Spark's local dirs and the JVM and Python temp
    dirs point into it, so a run writes nothing outside the checkout."""

    def __init__(self, root: str, name: str):
        self.path = os.path.join(root, ".perfbench_work", f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        import tempfile
        tempfile.tempdir = os.environ["TMPDIR"]

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)  # only when no other run is using it
        except OSError:
            pass


class Session:
    """Owns the SparkSession. ``start`` builds (or rebuilds, after
    ``stop``) it through ``aresdb_spark.session.get_spark`` with one core
    per host CPU; ``close`` stops it, shuts the py4j gateway down and
    waits for the JVM to exit."""

    def __init__(self, work: WorkDir):
        self.work = work
        self.spark = None
        self.jvm_pid: int | None = None
        self.jvm_peak_kb = 0
        self._proc = None

    def start(self):
        from aresdb_spark.session import get_spark
        local = self.work.sub("spark-local")
        os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
        os.environ["SPARK_LOCAL_DIRS"] = local
        # spark-submit's own helper JVM: no hsperfdata file in /tmp either
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        cpus = nproc()
        self.spark = get_spark(
            app_name="perfbench", cpus=cpus, shuffle_partitions=cpus,
            extra_conf={
                # temp files under the work dir; no hsperfdata file in /tmp
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work.sub('tmp')} "
                    "-XX:-UsePerfData",
                "spark.sql.warehouse.dir": self.work.sub("warehouse"),
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        # first touch: one tiny job, so set-up includes scheduler start
        self.spark.range(4).count()
        if self.jvm_pid is None:
            self.jvm_pid = int(
                self.spark._jvm.java.lang.ProcessHandle.current().pid())
            from pyspark import SparkContext
            self._proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def stop(self) -> None:
        """Stop the SparkContext but keep the JVM (a later ``start`` is a
        warm restart)."""
        self.sample_jvm_peak()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def sample_jvm_peak(self) -> None:
        if self.jvm_pid is not None:
            self.jvm_peak_kb = max(self.jvm_peak_kb,
                                   vm_hwm_kb(f"/proc/{self.jvm_pid}/status"))

    def close(self) -> None:
        self.stop()
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            finally:
                SparkContext._gateway = None
                SparkContext._jvm = None
        if self._proc is not None:
            try:
                self._proc.stdin.close()
            except OSError:
                pass
            try:
                self._proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — never leave a JVM behind
                self._proc.kill()
                self._proc.wait(timeout=30)


def vm_hwm_kb(status_path: str) -> int:
    """Peak resident set (VmHWM, kB) from a /proc status file; 0 when
    the file is unreadable (process gone, non-Linux host)."""
    try:
        with open(status_path) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_canary_ms(spark) -> float:
    """A fixed amount of work on the host, timed: a numpy kernel (a
    256x256 float64 matmul, repeated) plus a tiny fixed Spark job. The
    same work every run, so a high reading marks a run that shared the
    machine with a busy neighbour rather than a slower program. Median
    of three."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.random((256, 256))
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        b = a
        for _ in range(20):
            b = (b @ a) / 256.0
        spark.range(0, 200_000, 1, 4).selectExpr("sum(id % 7)").collect()
        samples.append((time.perf_counter() - t0) * 1e3)
    return median(samples)


def no_span(_name: str):
    """The span factory of an untraced run."""
    import contextlib
    return contextlib.nullcontext()


def fingerprint(*parts) -> str:
    """A short digest of generated inputs (two seeds must differ)."""
    import hashlib
    return hashlib.sha1(repr(parts).encode()).hexdigest()[:16]


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory tree."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return total, files


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    })
