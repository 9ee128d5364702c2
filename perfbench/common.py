"""Helpers shared by the benchmark workloads: statistics, result digests,
process probes and the Spark session life cycle.

Nothing here imports pyspark at module level, so the statistics and
digest helpers are testable without a JVM.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "travelpulse_spark_stream_tourism_analytics_spark"
JOB_PREFIX = "perfbench"


# ------------------------------ statistics ---------------------------------


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[min(k, len(s)) - 1]


def supported_percentile(n: int, pct: float, min_beyond: int = 10) -> float:
    """The highest percentile <= ``pct`` that leaves at least
    ``min_beyond`` of ``n`` samples beyond it, never below the median.

    A p95 over 60 samples rests on 3 points; the rule reports p83 there
    instead, so a tail figure always has ten samples behind it."""
    if n <= 0:
        raise ValueError("empty sample")
    return max(50.0, min(pct, 100.0 * (1.0 - min_beyond / n)))


def tail(values: list[float], pct: float) -> tuple[float, float]:
    """(value, percentile used) under the supported-percentile rule."""
    used = supported_percentile(len(values), pct)
    return nearest_rank(values, used), used


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------- result digests --------------------------------


def canon(v) -> str:
    """Engine-neutral rendering of one result value: Spark rows and
    DuckDB tuples of equal values render identically."""
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(
            v.items(), key=lambda kv: canon(kv[0]))) + "}"
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        return canon(v.asDict())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(columns: list[str], rows) -> dict:
    """Order-insensitive digest of a result: row count, sorted column
    names and a sha256 over the sorted canonical rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return {
        "rows": len(lines),
        "columns": sorted(columns),
        "sha256": h.hexdigest(),
    }


# ------------------------------ process probes ------------------------------


def proc_peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds a process has used so far."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


# ---------------------------- Spark life cycle ------------------------------


def configure_env(work: str, trace: bool) -> None:
    """Process environment for the Spark driver, set before pyspark
    starts its JVM: UTC clock, the checkout on the Python workers' path,
    every scratch file under ``work``, plain console output, and in a
    traced run an uncompressed event log."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    if ROOT not in sys.path:
        sys.path.append(ROOT)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 1)))
    for sub in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>,
    # from the Spark driver JVM and from spark-submit's launcher JVM alike.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp -XX:-UsePerfData"
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work}/eventlog",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    args = " ".join(f"--conf {c}" for c in confs)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'{args} --driver-java-options "{java_opts}" pyspark-shell'
    )


def start_session():
    """Start the engine's session through ``session.get_spark``."""
    from travelpulse_spark_stream_tourism_analytics_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def timed_setup(stage, warm_up) -> tuple[dict, object]:
    """The run's one cold start: launch the JVM and start the session,
    then ``stage(spark)`` (inputs, first job) and ``warm_up(spark)``
    (a throwaway pass on a small input, so that the measured section
    runs with JIT and code generation done, as a long-running driver
    does). Returns the seconds of each step and of the whole, and the
    session."""
    t0 = time.perf_counter()
    spark = start_session()
    t1 = time.perf_counter()
    stage(spark)
    t2 = time.perf_counter()
    warm_up(spark)
    t3 = time.perf_counter()
    return {"setup_s": t3 - t0, "session_s": t1 - t0, "stage_s": t2 - t1,
            "warmup_s": t3 - t2}, spark


def setup_layers(setup: dict) -> dict:
    """The set-up steps of ``timed_setup`` as per-layer metrics."""
    return {f"setup.{k}": (setup[k], "s") for k in ("session_s", "stage_s", "warmup_s")}


def shutdown_spark() -> None:
    """Stop the session, close the Py4J gateway and wait for the JVM
    (and the Python workers it forked) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_job_label(spark, label: str | None) -> None:
    """Tag the jobs the calling thread starts from here on."""
    spark.sparkContext.setJobDescription(
        None if label is None else f"{JOB_PREFIX}:{label}"
    )
