"""SparkSession factory.

The reference delegates query execution to single-threaded SQLite with
hand-maintained planner stats (``ANALYZE main;`` — fetch.go:197-203) and
recreated secondary indexes. Spark-side, the equivalent planner inputs are
CBO statistics + AQE; both are switched on here so every query in the repo
gets runtime re-planning (join-strategy switch, partition coalescing, skew
splitting) for free.

Scale notes (100 TB design point):
- ``spark.sql.shuffle.partitions`` is sized from the local core count; on a
  real cluster this is AQE-coalesced upward from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
- Arrow execution is on: every Pandas-UDF operator in operators/ moves data
  in Arrow record batches, never row-at-a-time pickles.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive-UTC) and are deployment-independent.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from pathlib import Path
from typing import Iterator

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "nzwirelessmap_fetch_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with engine-wide defaults.

    Safe to call when a session already exists (e.g. under the driver
    harness): ``getOrCreate`` reuses it and only applies runtime-settable
    confs.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # 128 MiB scan partitions: keeps partition count proportional to
        # data volume, so the same code ships to a 1000-executor cluster.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Python UDF workers import this package to unpickle the operators'
        # functions, but run from the JVM's environment, not the driver's
        # sys.path. Spark adds this directory to the workers' PYTHONPATH,
        # so they find it from any cwd with PYTHONPATH unset.
        .config("spark.executorEnv.PYTHONPATH", str(Path(__file__).resolve().parents[1]))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def session_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set one runtime conf for the block, then restore its prior value,
    or unset it if it had none."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
