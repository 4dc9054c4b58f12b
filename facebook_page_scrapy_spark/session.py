"""SparkSession factory.

Local mode is the sandbox stand-in for a multi-executor cluster: we size
``spark.sql.shuffle.partitions`` to the core count (not the 200 default), turn
on AQE (runtime coalesce + skew-join splitting) and Arrow transport for every
pandas UDF. On a real cluster the same builder is used by ``spark-submit
--py-files``; only ``master`` / memory flags change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "facebook_page_scrapy_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the crawl/analytics workload.

    ``cores=None`` → ``local[$SPARK_GRAFT_CPUS or *]``. Shuffle partitions
    default to the core count: at 100 TB these become explicit per-job
    settings; locally matching cores avoids tiny-partition overhead.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_shuffle = shuffle_partitions or (int(env) if env else os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_shuffle = shuffle_partitions or cores

    # Make the package importable by Python workers even when the driver
    # script lives elsewhere (local-mode analog of `spark-submit --py-files`).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pypath if pypath else "")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/tmp"))
        # catalog-table target: keep it out of the repo; a
        # real deployment points this at the shared warehouse/catalog.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", f"/tmp/spark-warehouse-{os.getpid()}"
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_all() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
