"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design target (AQE on so skewed joins and
partition counts re-plan at runtime; Arrow on so any pandas-interop path is
batched) while remaining correct on ``local[*]`` test runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spreadsheet-etl-engine-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    On a real cluster, ``master`` comes from the environment / launcher; the
    ``local[N]`` default only applies when nothing else is configured.
    ``spark.sql.shuffle.partitions`` is a floor — AQE coalesces down from it,
    so on a big cluster set it ≳ 2-3× total cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Python workers must be able to import this package at daemon
    # launch (spark.python.daemon.module below): put the repo root on
    # the PYTHONPATH the JVM inherits BEFORE the gateway starts.  A
    # no-op when the JVM already exists (existing sessions keep their
    # environment) and when the path is already present.
    _repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _repo_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_repo_root}{os.pathsep}{_pp}" if _pp else _repo_root
        )
    # The effective master decides below whether the custom worker
    # daemon is safe to wire up: the module only resolves through the
    # DRIVER-side PYTHONPATH mutation above, which executors on a real
    # cluster never see — there the stock daemon runs and the zip-path
    # cost returns until the module is shipped via spark.submit.pyFiles
    # + spark.executorEnv.PYTHONPATH by the launcher, which owns
    # deployment-specific file distribution.  extra_conf is applied last,
    # so its spark.master wins over the default and must be consulted.
    effective_master = (
        master
        or (extra_conf or {}).get("spark.master")
        or os.environ.get("MASTER")
        or os.environ.get("SPARK_MASTER")
        or f"local[{cpus}]"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NOT set: spark.sql.parquet.aggregatePushdown (footer-metadata
        # MIN/MAX/COUNT) — it only takes effect on the DSv2 parquet path,
        # and moving parquet off the V1 source list would drop bucketed
        # tables (DSv2 has no bucketing), killing the zero-Exchange
        # bucketed-join path.  Bucketing wins more at 100 TB than
        # metadata-only profiling scans.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        .config("spark.sql.session.timeZone", "UTC")
        # Pinned, not inherited: the engine's fail-loud numeric contracts
        # (e.g. the DECIMAL sum domain in jobs/_dec_sum) require ANSI
        # semantics.  Spark 4.x defaults ANSI on, but a 3.x or ANSI-off
        # deployment would silently cast overflow to NULL instead of
        # raising, so the contract is pinned here rather than assumed.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if effective_master.startswith("local"):
        # Fork Python workers without the pyspark.zip/py4j zip path
        # entries (see pydaemon module docstring — CPython 3.11 eagerly
        # re-reads the whole zip central directory per task via
        # importlib.invalidate_caches; measured ~0.29 s of worker CPU per
        # task start).  Local master only: see effective_master above.
        builder = builder.config(
            "spark.python.daemon.module", "spark_graft_pydaemon")
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("MASTER") and not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may hand back a pre-existing session whose builder confs
    # were ignored; ANSI is runtime-settable, so enforce it there too
    # (unless the caller explicitly overrode it via extra_conf).
    if "spark.sql.ansi.enabled" not in (extra_conf or {}):
        spark.conf.set("spark.sql.ansi.enabled", "true")
    return spark
