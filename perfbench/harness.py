"""Session lifetime, host record and the timed request loop.

Everything the workloads share lives here; the workloads only say what
a request is and how its answer is checked.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "elasticsearch_aggregation_geoclustering_spark"
WORK_ROOT = ROOT / ".perfbench_work"

#: session settings of tests/conftest.py (local[4], 8 shuffle partitions,
#: AQE on, Arrow on, UI off), with a smaller driver heap and every scratch
#: file kept inside the checkout
SPARK_CONF = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "2g",
}


def package_present() -> bool:
    return (ROOT / PACKAGE / "__init__.py").is_file()


def make_work_dir(workload: str, seed: int) -> Path:
    work = WORK_ROOT / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def start_session(work: Path):
    """Start the local[4] session; Python workers import the package from ROOT."""
    tmp = str(work / "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata files in the system temp directory from either JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData") if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master("local[4]").appName("perfbench")
    for key, value in SPARK_CONF.items():
        builder = builder.config(key, value)
    # The whole driver heap is committed and touched at start, so its page
    # faults land in set-up.  Faulted in as the heap grew, they fell inside
    # timed requests, and on a shared virtual machine a fault costs up to
    # ~10x more while its neighbours are busy (perfbench/METRICS.md,
    # Steadiness).
    heap = SPARK_CONF["spark.driver.memory"]
    spark = (
        builder.config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM child to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# --- host-noise record (recorded only; never adjusts a metric) ---------------


def calibration_ms() -> float:
    """Time of a fixed pure-Python loop: a loud host reads slower here."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000.0


def host_record() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load_1m": os.getloadavg()[0],
        "calibration_ms": round(calibration_ms(), 3),
    }


# --- answers ------------------------------------------------------------------


def digest(obj) -> str:
    """Stable hash of a canonical answer (nested lists/tuples/dicts/scalars).

    Floats hash by their exact repr, so callers round any value whose last
    bits depend on Spark's partial-aggregate merge order before hashing.
    """
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


# --- the request loop -----------------------------------------------------------


class Runner:
    """Runs requests one at a time (closed loop, one client).

    Every request's answer is reduced to a canonical form by the workload;
    the first answer of each distinct request key (the warm-up's, where the
    warm-up ran that key) is kept for the oracle check after the loop, and
    every timed repeat must hash-equal it.
    """

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}  # series -> wall times (s)
        self.first: dict[tuple, tuple[object, str, str]] = {}  # key -> (answer, digest, kind)
        self.runs: dict[tuple, int] = {}
        self.mismatched: dict[tuple, int] = {}
        self.errors = 0
        self.attempted = 0
        self._rid = 0

    def span(self, name: str):
        if self.tracer is None:
            return _NULL
        return self.tracer.span(name)

    def call(self, kind: str, fn):
        """Run one request untimed-for-samples (set-up steps); returns answer."""
        answer, _ = self._invoke(kind, fn)
        return answer

    def warm(self, kind: str, key: tuple, fn, canon, series: str | None = None) -> None:
        """A request's untimed first call: no sample, but its answer's hash
        is the one the timed repeats of ``key`` must equal."""
        canonical = canon(self.call(kind, fn))
        self.first.setdefault(key, (canonical, digest(canonical), kind))

    def _invoke(self, kind: str, fn):
        self._rid += 1
        tracer = self.tracer
        if tracer is None:
            t0 = time.perf_counter()
            answer = fn()
            return answer, time.perf_counter() - t0
        with tracer.request(self._rid, kind) as req:
            t0 = time.perf_counter()
            answer = fn()
            wall = time.perf_counter() - t0
        tracer.read_counters(req, wall)
        return answer, wall

    def timed(self, kind: str, key: tuple, fn, canon, series: str | None = None) -> None:
        """One timed request: latency sample, answer hash, failure accounting.

        The latency sample joins ``series`` (default: the request type), the
        group of requests that do the same work and so share one median.
        """
        self.attempted += 1
        self.runs[key] = self.runs.get(key, 0) + 1
        try:
            answer, wall = self._invoke(kind, fn)
        except Exception:
            self.errors += 1
            traceback.print_exc(file=sys.stderr)
            return
        self.samples.setdefault(series or kind, []).append(wall)
        canonical = canon(answer)
        h = digest(canonical)
        if key not in self.first:
            self.first[key] = (canonical, h, kind)
        elif self.first[key][1] != h:
            self.mismatched[key] = self.mismatched.get(key, 0) + 1

    def gate(self, check) -> tuple[int, list[str]]:
        """Check each distinct answer once with the workload's oracle.

        Returns (failed request count, messages).  A key whose answer fails
        its oracle fails every timed run of it; a repeat whose hash differs
        from the checked answer fails on its own.  Keys only the warm-up ran
        are not requests of the run and are not checked.
        """
        failed = self.errors + sum(self.mismatched.values())
        messages = [f"{k}: {n} repeat(s) differ from the checked answer" for k, n in self.mismatched.items()]
        for key, (canonical, _, kind) in self.first.items():
            if not self.runs.get(key):
                continue
            try:
                problems = check(key, canonical)
            except Exception:
                problems = ["oracle raised:\n" + traceback.format_exc()]
            if problems:
                failed += self.runs[key] - self.mismatched.get(key, 0)
                messages.extend(f"{kind} {key}: {p}" for p in problems)
        return failed, messages

    def p50_ms(self) -> dict[str, float]:
        """Median latency (ms) of each series."""
        return {k: statistics.median(v) * 1000.0 for k, v in self.samples.items()}


class _Null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL = _Null()
