"""SparkSession construction for the engine.

Local-mode defaults are tuned for one JVM on one machine; the same
builder works unchanged on a real cluster where ``master`` comes from
spark-submit. Scale-relevant settings:

- AQE on for batch queries (runtime re-plan, skew-join splitting,
  partition coalescing).
- Shuffle partitions default to the core count (``cpus``), not more.
  Structured Streaming runs every micro-batch with AQE off, so nothing
  coalesces its shuffles, and a stateful operator keeps the partition
  count its query had at its first start (the count is pinned in the
  checkpoint). Each state partition is one Python task per
  micro-batch for the ``applyInPandasWithState`` operators, so 8
  partitions on 4 cores ran every stateful batch in two waves of
  fixed-cost tasks. On a 1000-executor cluster set ~2-3x total cores
  through ``SPARK_GRAFT_SHUFFLE`` or ``shuffle_partitions=``.
- Python workers start through ``worker_daemon`` (Spark's
  ``spark.python.daemon.module`` hook); this package's parent
  directory is appended to ``spark.executorEnv.PYTHONPATH`` so the
  daemon can import it. Every task's ``importlib.invalidate_caches()``
  re-reads each zip archive on the worker's import path (Python
  3.11): with Spark's default path that cost about 200 ms per
  stateful task on a 4-core VM, about 10 ms after the start-up module
  takes the spark-core jar off the path and imports pyspark from the
  unpacked tree of the same build. With the partition default above
  this took the benchmark's ``alert_stream`` warm pass from 22.3 s to
  14.1 s (medians of 10 runs each, 4-core VM).
- UTC session timezone so event-time window semantics are
  engine-independent (the reference pins windows to epoch alignment;
  see SURVEY.md section 2.4).
- Arrow enabled for the Pandas-UDF and Arrow-kernel code paths.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


_TMP_WAREHOUSE: str | None = None
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tmp_warehouse() -> str:
    """One temp warehouse per PROCESS: getOrCreate ignores configs
    after the first session exists, so minting a fresh mkdtemp on
    every get_spark() call would leak one unused directory per call
    in long-lived processes (bench loops, test suites)."""
    global _TMP_WAREHOUSE
    if _TMP_WAREHOUSE is None:
        import atexit
        import shutil

        _TMP_WAREHOUSE = tempfile.mkdtemp(prefix="fuba-warehouse-")
        # best-effort cleanup at interpreter exit (ADVICE r5): the
        # default tmp warehouse would otherwise leak one directory of
        # managed-table data per process
        atexit.register(shutil.rmtree, _TMP_WAREHOUSE,
                        ignore_errors=True)
    return _TMP_WAREHOUSE


def get_spark(
    app: str = "flink-user-behavior-analysis-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession."""
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = int(
        shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # per-process warehouse: managed tables (stored BM25/LM
        # artifacts, bucketed-join tables) pair a catalog entry with a
        # directory. The catalog is in-memory per process, so a shared
        # on-disk warehouse leaves ORPHAN directories that make the
        # next process's saveAsTable fail with
        # LOCATION_ALREADY_EXISTS. A fresh tmp dir per process keeps
        # catalog and disk in lockstep; point SPARK_GRAFT_WAREHOUSE at
        # a persistent path (with a persistent metastore) on a real
        # cluster, where artifacts genuinely outlive the session.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE") or _tmp_warehouse(),
        )
    )
    conf = dict(extra_conf or {})
    # the worker start-up module must be importable by the executors'
    # Python daemon: append this package's parent to their PYTHONPATH
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (conf.get("spark.executorEnv.PYTHONPATH"), _PACKAGE_PARENT) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone to UTC (idempotent, runtime-settable).

    Every calendar-sensitive operator (daily blacklist reset, window
    alignment, date formatting) calls this so results match the DuckDB
    oracle's naive-UTC timestamps regardless of who built the session.
    """
    # NB: conf.get(key, fallback) validates the fallback in Spark 4 —
    # an empty-string fallback raises INVALID_CONF_VALUE. Use None.
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
