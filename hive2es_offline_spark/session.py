"""SparkSession factory.

Defaults are tuned for the test harness (local[N], small SF parquet) but every
knob is chosen to also be the right call on a 1000-executor cluster:

* AQE on — runtime coalescing of small shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching replace hand-tuned partition
  counts at 100 TB.
* Arrow on — every Pandas UDF / ``mapInPandas`` operator ships columnar
  batches instead of pickled rows.
* Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-location independent.
* ``spark.sql.shuffle.partitions`` defaults to the local core count; on a real
  cluster AQE coalescing makes the static value mostly irrelevant (set it to
  2-3x total cores there).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "hive2es-offline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    enable_hive: bool = False,
) -> SparkSession:
    """Build the engine's SparkSession.

    ``enable_hive=True`` adds ``.enableHiveSupport()`` — the reference
    session is always Hive-enabled (``Hive2ES.scala:33-37``) because its
    only input is a metastore table; here it is opt-in since every file
    source works without it.  The catalog implementation is fixed at the
    FIRST session in a JVM: if a non-Hive session already exists,
    ``getOrCreate`` returns it unchanged, so set the flag before any other
    session is created (production entrypoint ``jobs/hive2es.py`` does).
    """
    cores = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle_partitions = shuffle_partitions or cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Allow shuffled-hash join where its size conditions hold (guide
        # §3.1/§9): SHJ skips the per-partition sort of both sides that
        # sort-merge pays, and AQE's skew splitting covers SHJ too.  The
        # planner still falls back to sort-merge when neither side can
        # build a local map, so spill-safety at scale is unchanged.  A
        # cluster profile restores Spark's default through extra_conf.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 128 MB input splits: the sweet spot for parquet scans at scale.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if enable_hive:
        builder = builder.enableHiveSupport()
    return builder.getOrCreate()
