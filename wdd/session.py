"""SparkSession factory with the engine's physical defaults.

Single-JVM local mode in this sandbox (local[$SPARK_GRAFT_CPUS]); the same
settings are what we'd submit cluster-side via spark-submit --conf. AQE stays
on so skewed LSH-band shuffles get split at runtime (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from wdd.config import DEFAULT, WddConfig


def get_spark(app_name: str = "wdd", cpus: int | None = None,
              cfg: WddConfig = DEFAULT, extra_conf: dict | None = None,
              executors: int | None = None, executor_cores: int = 4,
              executor_mem_mb: int = 6144) -> SparkSession:
    """Local-threads session by default; pass `executors` for a
    local-cluster[E, C, M] master — E separate executor JVM PROCESSES, the
    sandbox stand-in for a real multi-executor cluster (used by the N-vs-4N
    scaling evidence; thread-count scaling inside one JVM is bounded by
    shared-heap GC and block-manager contention, not by the plan)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    executor_conf = {}
    if executors is not None:
        master = f"local-cluster[{executors},{executor_cores},{executor_mem_mb}]"
        # the local-cluster mem arg is WORKER capacity; executor JVMs still
        # default to 1g without an explicit spark.executor.memory
        executor_conf["spark.executor.memory"] = f"{executor_mem_mb}m"
    else:
        master = f"local[{cpus}]"
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # shuffle/spill scratch on tmpfs: this sandbox has ONE virtio disk, so
    # shuffle I/O would serialize across cores and poison any scaling
    # measurement (real clusters scale disks with nodes). tmpfs pages count
    # against host RAM: 15 GiB on the 4-core bench host.
    local_dir = os.environ.get("WDD_LOCAL_DIR", "/dev/shm/wdd-spark")
    try:
        os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = None
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # executor python workers must import wdd (same host, shared FS);
        # cluster deployments ship dist/wdd.zip via spark-submit --py-files
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .config("spark.local.dir", local_dir or "/tmp")
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate turns every explode(e) into a pushed-down
        # `size(e) > 0 AND isnotnull(e)` filter with the WHOLE generator
        # expression inlined twice — for the n-gram family (explode over an
        # interpreted-HOF array builder) the array is then built 3x per row,
        # and the pushed filter lands below the first exchange where a
        # single-file input runs 1-task. Measured on novelty_scores' gram
        # explode at sf0.1: 6.6 s -> 0.4 s with the rule excluded. The
        # rule's win (pre-Generate empty-row pruning) is negligible here:
        # web documents virtually never produce empty token arrays.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer"
                ".InferFiltersFromGenerate")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(cfg.arrow_max_records))
        .config("spark.driver.memory", os.environ.get("WDD_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in {**executor_conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
