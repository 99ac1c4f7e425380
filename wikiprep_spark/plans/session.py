"""SparkSession construction with scale-appropriate defaults.

Local testing uses local[N]; on a real cluster the same settings apply via
spark-submit --py-files (see README). AQE is enabled for runtime re-planning
and skew-join splitting; Arrow is enabled for the pandas-UDF stages.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "wikiprep-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    # Every pandas-UDF task keeps TWO threads hot (the python worker and
    # the JVM side feeding it Arrow batches); budget 2 cpus per task so
    # hot threads ~= cores at any local[k] — the same 2-cores-per-task
    # sizing a production executor uses for python-heavy stages.  (An
    # earlier round additionally capped slots at ~8 per JVM beyond 16
    # cores; re-measured round 6 with interleaved clean-window A/Bs:
    # 16 slots beat 8 by ~17% on the python transform stage and 10-20%
    # on the JVM-heavy pair joins, so the extra cap is gone.)
    task_cpus = 1
    if master.startswith("local["):
        try:
            k = int(master[len("local["):-1].rstrip("*") or os.cpu_count())
        except ValueError:
            k = os.cpu_count() or 8
        if k >= 2:
            task_cpus = 2

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.task.cpus", str(task_cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the shuffle partitions of a cached plan, as it
        # does for any other.  The engine's only caches are the
        # pipeline's three: the pass-1 parse (pre), its duplicate-id
        # losers and the title aggregate (agg).  The two that end in a
        # shuffle, losers and agg, otherwise keep
        # spark.sql.shuffle.partitions partitions however few rows they
        # hold, and every consumer fans out into that many near-empty
        # tasks and files (the dictionary write, the redirect triples).
        # Their consumers are narrow or broadcast, so no plan gains an
        # exchange from the changed output partitioning
        # (tests/test_plans.py guards this)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big page texts: keep Arrow batches modest so executor memory is
        # bounded by batch_size * max_page_size, not partition size
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # python-heavy scans (markup transform) want small, even input
        # splits: 32 MB of page text ~ a few seconds of kernel work per
        # task, so wave quantization can't starve a level and the task
        # graph is identical at every cluster size (default 128 MB packs
        # a whole stage into a handful of tasks)
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # page text compresses ~10x in parquet, so a byte-packed partition
        # hides an order of magnitude more python-kernel work than its file
        # size suggests; a high open-cost stops the scan from packing many
        # small text files into one giant python task
        .config("spark.sql.files.openCostInBytes", "16777216")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Dlog4j2.level=error")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
