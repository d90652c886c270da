"""Shared pieces of the benchmark: scratch space, the Spark session with
the run hygiene the engine needs, and the sample-count rule for
percentiles."""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "yc_data_transfer_clickhouse_from_yandex_metrica_spark"


def log(*parts) -> None:
    """Progress goes to stderr: stdout carries only the result line."""
    print(*parts, file=sys.stderr, flush=True)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def scratch_dir(workload: str, seed: int) -> str:
    """Fresh scratch directory inside the checkout (git-ignored)."""
    path = os.path.join(ROOT, ".bench_tmp", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def beyond(n: int, q: float) -> int:
    """Samples ranked after the nearest-rank ``q`` percentile of ``n``
    samples (rank ``ceil(q/100 * n)``)."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_percentile(n: int, candidates=(99, 95, 90, 75, 50)) -> int | None:
    """The highest candidate percentile with at least ten samples beyond
    it, or None when ``n`` is too small for any."""
    for q in candidates:
        if beyond(n, q) >= 10:
            return q
    return None


class Session:
    """The engine's SparkSession, sized to the machine, with the run
    hygiene the engine needs outside its own test suite:

    - Python workers import the package, so the checkout root goes on
      ``PYTHONPATH`` before the JVM starts (pandas_udf / mapInPandas
      fail with ModuleNotFoundError otherwise);
    - console progress bars are off so stdout stays parseable;
    - every scratch file, JVM temp file and the catalog live under
      ``tmp``.
    """

    def __init__(self, tmp: str):
        self.tmp = tmp
        self.cores = nproc()
        self.spark = None

    def start(self):
        env_path = os.environ.get("PYTHONPATH", "")
        if ROOT not in env_path.split(os.pathsep):
            os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env_path) if p)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        jtmp = os.path.join(self.tmp, "jvm")
        os.makedirs(jtmp, exist_ok=True)
        # keep PySpark's and every JVM's temp files (the spark-submit
        # launcher's too) inside the checkout
        os.environ["TMPDIR"] = jtmp
        tempfile.tempdir = jtmp
        # the environment variable wins over spark.local.dir when set
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "spark-local")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={jtmp} -Dderby.system.home={jtmp} -XX:-UsePerfData"
        )
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "2g",
                "spark.local.dir": os.path.join(self.tmp, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "catalog"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits on EOF of its stdin
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def files_under(path: str, first_day: str, last_day: str) -> int:
    """Parquet files under the ``_week=`` partitions a
    ``warehouse.prune_weeks(first_day, last_day)`` read keeps."""
    import datetime as dt

    lo = dt.date.fromisoformat(first_day)
    lo -= dt.timedelta(days=lo.weekday())
    hi = dt.date.fromisoformat(last_day)
    total = 0
    while lo <= hi:
        wd = os.path.join(path, f"_week={lo.isoformat()}")
        if os.path.isdir(wd):
            total += sum(1 for f in os.listdir(wd) if f.endswith(".parquet"))
        lo += dt.timedelta(days=7)
    return total
