"""SparkSession construction tuned for the validation workload.

Local testing runs on ``local[N]`` (single JVM); the same settings carry to a
real cluster via spark-submit conf.  AQE is on for runtime re-planning and
skew-join splitting (hot web domains), Arrow for the pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def build_session(
    app_name: str = "spark-schema-guard",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        # one-to-two shuffle partitions per core locally; on a cluster this
        # is overridden to ~2-3x total executor cores
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # the JSON-column exact path parses via the native variant
        # parser; json.loads (the reference) is last-key-wins on
        # duplicate keys, so the variant builder must be too
        .config("spark.sql.variant.allowDuplicateKeys", "true")
        # session-catalog warehouse for catalog-table refs (io.py); on a
        # real deployment the Iceberg catalog conf replaces this, e.g.
        #   spark.sql.catalog.iceberg=org.apache.iceberg.spark.SparkCatalog
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               os.path.join(os.environ.get("TMPDIR", "/tmp"),
                                            "ssg-warehouse")))
    )
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, val)
    return builder.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
