"""SparkSession construction with scale-appropriate defaults.

Local testing runs on ``local[N]`` (single JVM); the engine confs are
what we would ship in ``spark-submit --conf`` for a multi-executor
cluster — nothing in ``ENGINE_CONF`` assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: engine-level confs every session gets, local or submitted
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # bound Arrow batch memory: FOXML blobs can be ~100 KB each, so
    # 1024 rows/batch keeps a batch O(100 MB) worst-case per task
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    # 128 MB input splits — the knob that sets extraction task
    # granularity at 100 TB (≈800k tasks, fine for a 1000-exec cluster).
    # With a ds-store too: only the prefiltered rows that need a fetch
    # cross the attach's shuffle, every other row reaches the UDF on
    # its input split (plans/pipeline.py:attach_managed_content)
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "zstd",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def build_session(
    app_name: str = "fcrepo3-rdf-extractor-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    # shuffle partitions sized to the executor slots; AQE coalesces
    # further at runtime so oversizing is cheap, undersizing is not
    shuffle = shuffle_partitions or max(cores * 2, 16)
    builder = (
        SparkSession.builder.master(f"local[{cores}]").appName(app_name)
        .config(map={
            **ENGINE_CONF,
            "spark.sql.shuffle.partitions": str(shuffle),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "8g"
            ),
            **(extra_conf or {}),
        })
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def job_session(
    app_name: str,
    local_cores: int | None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The session every ``jobs/*.py`` CLI runs in. ``--local N`` runs
    on ``local[N]`` via ``build_session``; otherwise no master is set,
    so the submitted cluster master, deploy mode and memory win and
    only the engine confs are applied."""
    if local_cores:
        return build_session(app_name, cores=local_cores, extra_conf=extra_conf)
    return (
        SparkSession.builder.appName(app_name)
        .config(map={**ENGINE_CONF, **(extra_conf or {})})
        .getOrCreate()
    )
