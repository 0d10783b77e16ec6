"""SparkSession factory with scale-oriented defaults.

Tuned for the target deployment (many executors over a ~100 TB Iceberg
corpus) while remaining correct on local[N]:

  * AQE on (runtime coalescing + skew-join splitting — web corpora are
    host-skewed);
  * Arrow enabled for every pandas-UDF kernel;
  * shuffle partitions sized from parallelism (overridable; on a real
    cluster set ~2-3x total cores / target ~128-256MB per partition);
  * broadcast threshold left at default — small dimension tables (the
    pair whitelist, language markers) are broadcast explicitly with
    F.broadcast; the gazetteers and the entity dictionary are inline map
    literals in the plan, not tables.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dere_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Scan split size (guide §6), env-parameterised: the local default
        # is 16 MB so the sandbox's medium single-file tables (lineitem
        # 126 MB / 6 row groups at sf1.0) scan on one task per row group
        # instead of 1-2 tasks for the whole file; a real cluster over a
        # 100 TB corpus should set SPARK_GRAFT_MAX_PARTITION_BYTES to
        # 128m-1g — there the files are many and large, per-task overhead
        # is amortised, and bigger splits cut the map-task count feeding
        # every shuffle (guide §2.2). This is a parallelism floor fix for
        # small inputs, not a tuned constant: any value <= the row-group
        # size yields the same row-group-per-task split locally.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16777216"),
        )
        # a join keyed on (doc_id, ...) whose sides are already
        # hash-partitioned by doc_id reuses that partitioning: equal keys
        # necessarily share a doc_id partition. Default-true forces a full
        # re-shuffle on all join keys (measured on the flagship's former
        # (doc_id, bucket) pair join: 2.0 s -> 1.2 s at sf0.1).
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
