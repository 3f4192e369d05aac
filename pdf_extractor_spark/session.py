"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` single-JVM; the config is written so the
same job submitted via ``spark-submit --py-files`` to a 1000-executor
cluster needs no code change — only ``--master`` / executor sizing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch row cap bounds per-batch memory inside mapInArrow/mapInPandas
# (SURVEY.md §7.4 risk 4).  The bound must hold for a batch of ONLY jumbo
# docs, because with_partition_id isolates jumbos into their own part_id
# space: at a worst-case ~4 MB of serialized spans per jumbo doc (10^5
# line-spans x ~40 B), 64 rows => ~256 MB in-flight per batch, inside a
# 4-8 GB executor budget.  Measured at sf0.1: 64 rows gives the same
# extraction throughput as 128 (1634 vs 1666 docs/s, within noise), so the
# tighter bound is free.  At cluster deploy, re-derive as
# executor_mem_budget / max_doc_bytes.
ARROW_MAX_RECORDS = 64


def get_spark(app: str = "pdf_extractor_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # Python workers must import this package to unpickle its pandas-UDF
    # closures (the Arrow signature paths).  Pin the package parent onto
    # PYTHONPATH instead of relying on the caller's cwd: in the driver env,
    # which local workers inherit, and in the executor env, which workers
    # get wherever they run.  A cluster submit ships the package via
    # `spark-submit --py-files` as well.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{pp}" if pp else pkg_parent)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~cores locally; on a real cluster this should be ~2-3x total cores
        n = master[master.find("[") + 1:master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)
    b = (
        SparkSession.builder.master(master).appName(app)
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # finer AQE split target than the 64m default: heavy Arrow-UDF
        # stages need several task waves per core for stragglers (jumbo
        # docs) to amortize — measured 0.71 → 0.85 scaling efficiency on
        # the extraction job; at cluster deploy re-tune per executor count
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
