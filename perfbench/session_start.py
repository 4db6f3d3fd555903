"""Start and stop the engine's Spark session the way every benchmark
process does, with Spark's scratch files kept inside the checkout."""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# local[k] with k no larger than the host's cores.
CPUS = min(4, os.cpu_count() or 1)


def since_process_start() -> float:
    """Seconds since this process was created, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])            # field 22: starttime
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def work_root() -> str:
    return os.path.join(ROOT, ".bench_work")


def configure_env() -> None:
    """Keep Spark's scratch files inside the checkout and its heap small."""
    scratch = os.path.join(work_root(), "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = scratch
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(app: str):
    """``session.get_spark`` plus one trivial job; returns the session."""
    from spreadsheet_etl_engine_spark.session import get_spark

    scratch = os.path.join(work_root(), "tmp")
    spark = get_spark(app, extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work_root(), "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until both have exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=30)
