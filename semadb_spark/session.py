"""SparkSession factory tuned for this engine.

Local mode is for testing only; every config here is chosen so the same code
path scales to a multi-executor cluster (AQE on, adaptive coalesce/skew-join,
Arrow for the pandas-UDF kernels).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark lists a read's directories with a distributed job once there are more
# than spark.sql.sources.parallelPartitionDiscovery.threshold (default 32) of
# them. The library's artifacts are POSIX dirs with a fixed fan-out, the
# widest being a text index's TERM_BUCKETS = 64 term_bucket dirs (default IVF
# nlist 64, data buckets 16): at the default every text-index read would start
# a listing job (~0.5 s at local[4]) for what the driver lists in ~30 ms. Keep
# this above TERM_BUCKETS.
PARTITION_DISCOVERY_THRESHOLD = 256


def get_spark(
    app_name: str = "semadb-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession.

    Honours SPARK_GRAFT_CPUS; shuffle partitions default to the core count —
    on a real cluster this would be ~2-3x total executor cores instead, and
    AQE coalesces the excess at runtime either way.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    shuffle_partitions = shuffle_partitions or cpus
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # TIMESTAMP(NANOS) parquet columns (driver events fixture) are
        # unreadable without this; it has no effect on any other type, so it
        # is a session-wide default rather than a per-query mutation
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(PARTITION_DISCOVERY_THRESHOLD),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make ``semadb_spark`` importable on Python workers regardless of the
    driver script's cwd: pandas-UDF closures reference module functions, and
    workers don't inherit the driver's sys.path edits. Zip the package and
    addPyFile it — the same mechanism a cluster submit would use
    (``--py-files``)."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    marker = "_semadb_pkg_shipped"
    if getattr(spark.sparkContext, marker, False):
        return
    zip_path = os.path.join(
        spark.sparkContext._temp_dir or "/tmp", "semadb_spark_pkg.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    setattr(spark.sparkContext, marker, True)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one of the driver-generated parquet tables (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def local_df(spark: SparkSession, rows, schema: str):
    """Small driver-side row list -> DataFrame via the Arrow/pandas path.

    ``spark.createDataFrame(list, ddl)`` builds a *pickled Python RDD*: every
    downstream action — even ``count()`` of five rows — launches Python
    worker tasks to unpickle it (~0.3 s per action measured at local[32]).
    Routing the same rows through a pandas frame plans a ``LocalTableScan``
    of Arrow batches instead, evaluated entirely in the JVM (guide §4:
    eliminate the Python boundary; §6 Arrow for driver transfers). Same
    rows, same explicit schema, same result — only the physical source node
    changes.

    ``rows`` must be flat tuples of scalars (None allowed) matching the DDL
    ``schema``. Columns are kept ``object``-dtyped so ints stay ints and
    None stays null under the explicit Arrow cast.
    """
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], struct)
    pdf = pd.DataFrame(rows, columns=[f.name for f in struct.fields], dtype=object)
    return spark.createDataFrame(pdf, schema=struct)
