"""SparkSession construction and session-conf hygiene.

Every entry point (driver harness, tests, bench) may hand us a session
we did not build, so all confs that matter for correctness are runtime
settable and applied via :func:`ensure_confs`.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Confs that must hold for oracle-comparable results:
#  - UTC session TZ: DuckDB timestamps are UTC-naive (pyspark guide
#    "Pitfalls"); date_trunc/window must bucket identically.
#  - nanosAsLong: the driver's events.parquet uses TIMESTAMP(NANOS),
#    which Spark's parquet reader rejects; read as raw ns bigint and
#    derive the µs timestamp ourselves (plans/tables.py).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Scale-oriented defaults (only applied when we build the session):
# AQE re-plans shuffles at runtime (coalesce small partitions, split
# skewed ones) — essential at 100 TB where static planning is wrong.
_BUILD_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
}


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable correctness confs to an existing session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)
    return spark


def get_spark(
    app_name: str = "pubsub-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a session tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 in the test
    container); ``shuffle_partitions`` defaults to the core count — the
    200-partition default over-parallelizes local scale factors and
    under-parallelizes a real cluster, so both are explicit here.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    b = SparkSession.builder.appName(app_name).master(master)
    # local mode runs driver AND executors in one JVM whose heap
    # defaults to 1g regardless of machine size — long sessions that
    # build the whole corpus at sf0.1 OOM there (seen r5: q54/q68
    # heap-space failures in the sf0.1 oracle mirror after 100+
    # queries of accumulated cache). Only effective when WE launch
    # the JVM; a pre-existing session keeps its own heap.
    b = b.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    for k, v in _BUILD_CONFS.items():
        b = b.config(k, v)
    for k, v in _RUNTIME_CONFS.items():
        b = b.config(k, v)
    b = b.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cpus)
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_confs(spark)


_SHIPPED = False


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Needed whenever executors must unpickle objects defined in this
    package (the Python DataSource classes, Pandas-UDF closures that
    reference package modules). Zips the package once per process and
    registers it via ``addPyFile``; idempotent. The zip goes to a
    directory private to this process: a shared path would let another
    process (another checkout, test run or bench) rewrite it while this
    one's executors still fetch it.
    """
    global _SHIPPED
    if _SHIPPED:
        return
    zip_dir = tempfile.mkdtemp(prefix="pubsub-pkg-")
    atexit.register(shutil.rmtree, zip_dir, True)
    # addPyFile puts the basename on the workers' path: keep the name
    zip_path = os.path.join(zip_dir, "spark_sql_pubsub_connector_spark.zip")
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED = True
