"""Shared plumbing for the benchmark: the per-run scratch area, the
Spark session, timing statistics, the exact result-compare protocol
and the result line.

Every run works inside ``.perfbench_runs/<pid>`` under the checkout
root (its TMPDIR, Spark local dir, warehouse and generated inputs) and
removes it at exit, so fixtures and checkpoint dirs left by one run
cannot slow the next.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROCESS_START = time.perf_counter()


def prepare_env() -> str:
    """Pin the environment before pyspark is imported: the repo on
    PYTHONPATH (Python workers and the amqp_dump DataSource import the
    package), a private TMPDIR, and the core count."""
    scratch = os.path.join(ROOT, ".perfbench_runs", str(os.getpid()))
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # the driver JVM starts from this environment: its temp files go
    # to the scratch too, and no hsperfdata file is left in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return scratch


def start_spark(scratch: str):
    """The engine's own session factory (the `session` layer), with
    only benchmark-side confs added: everything on disk stays in the
    run's scratch, the status store keeps every job of the run, and
    memory stays small."""
    from real_time_data_analytics_cassandra_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it started and wait for it:
    the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def cleanup(scratch: str) -> None:
    shutil.rmtree(scratch, ignore_errors=True)
    parent = os.path.dirname(scratch)
    try:
        os.rmdir(parent)
    except OSError:
        pass


def since_start() -> float:
    return time.perf_counter() - PROCESS_START


def pct(values, q: float) -> float:
    """Percentile by linear interpolation (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * q
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(values) -> float:
    return math.exp(statistics.fmean([math.log(v) for v in values]))


# ---------------------------------------------------------------- compare


def values_equal(a, b) -> bool:
    """Exact equality; NaN equals NaN; no tolerance."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
    return a == b


def normalize_frame(df):
    """The tests' normalization: sorted columns, timestamps as
    microsecond strings, objects as strings, rows sorted."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frame_mismatch(got, want) -> str | None:
    """None when two pandas frames hold the same rows under the exact
    protocol, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    g, w = normalize_frame(got), normalize_frame(want)
    for col in g.columns:
        for i, (x, y) in enumerate(zip(g[col], w[col])):
            if not values_equal(x, y):
                return f"{col} row {i}: {x!r} != {y!r}"
    return None


class Checks:
    """Counts correctness checks; a failed one is also logged."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, what: str, problem: str | None) -> None:
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(f"{what}: {problem}")


# ---------------------------------------------------------------- output


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(checks: Checks, metrics: dict, detail: dict) -> None:
    """A readable detail line, then the result line (always last)."""
    for r in checks.reasons:
        print(f"check failed: {r}", file=sys.stderr)
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": checks.failed == 0,
                "attempted": checks.attempted,
                "failed": checks.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
