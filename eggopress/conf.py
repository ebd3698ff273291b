"""Cluster-shape -> parallelism planning.

Engine analog of eggo's generate_eggo_env_vars sizing formula
(eggo/operations.py:124-137: cores_per_executor = min(4, node_cores);
executors_per_node = node_cores / cpe; total = epn * workers;
mem = 0.8 * node_mem / epn), re-targeted at Spark submission knobs. The
scaling-efficiency requirement hangs on this: shuffle-partition count and
encode-partition granularity must be functions of total cores, or the 4N
run starves (SURVEY.md §3.3).
"""

from __future__ import annotations

import os


def plan_submit(num_workers: int, node_cores: int, node_mem_mb: int) -> dict:
    """eggo's sizing formula -> spark-submit settings for a real cluster."""
    cores_per_executor = min(4, node_cores)
    executors_per_node = max(1, node_cores // cores_per_executor)
    total_executors = executors_per_node * num_workers
    memory_per_executor_mb = int(0.8 * node_mem_mb / executors_per_node)
    total_cores = total_executors * cores_per_executor
    return {
        "spark.executor.instances": total_executors,
        "spark.executor.cores": cores_per_executor,
        "spark.executor.memory": f"{memory_per_executor_mb}m",
        "spark.sql.shuffle.partitions": shuffle_partitions(total_cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.speculation": "false",  # side-effecting encode writes
    }


def shuffle_partitions(total_cores: int) -> int:
    return max(2 * total_cores, 8)


def encode_partitions(total_cores: int) -> int:
    """Target logical (source, salt) partition count for an encode run."""
    return max(2 * total_cores, 8)


# Arrow batch size for the encode pass: constant w.r.t. cluster size so
# per-chunk memory is bounded regardless of scale.
CHUNK_ROWS = 8192

# Parquet page compression for the chunk-blob data files. A MEASURED
# choice, not an assumption: the original 'codec blobs are already
# compressed, write uncompressed' reasoning was falsified at 40% (zstd
# page compression over the written chunk files shrank the bench corpus
# data dir 20.6 -> 12.4 MB; snappy 27%). Per-chunk codecs can't see
# redundancy ACROSS rows/chunks inside a page — repeated doc prefixes,
# FSST symbol tables, correlated pfor side streams — and zstd can.
DATA_CODEC = "zstd"


def values_per_partition() -> int:
    """Token-value floor per encode partition (EGGOPRESS_VALUES_PER_PART):
    corpus rows are hundreds of tokens each, so partition sizing must look
    at value volume, not just row count — see encode_table's default."""
    return int(os.environ.get("EGGOPRESS_VALUES_PER_PART", "2000000"))


def local_cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


def session_builder(app: str, cores: int | None = None, shuffle: int | None = None):
    """SparkSession builder with the engine's standard local config."""
    from pyspark.sql import SparkSession

    c = cores or local_cores()
    return (
        SparkSession.builder.master(f"local[{c}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle or shuffle_partitions(c)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(CHUNK_ROWS))
        .config("spark.sql.adaptive.enabled", "true")
        # shuffle/spill on the fastest local medium (tmpfs in-sandbox; on a
        # real cluster point EGGOPRESS_LOCAL_DIR at NVMe)
        .config("spark.local.dir", os.environ.get("EGGOPRESS_LOCAL_DIR", "/dev/shm/spark-local"))
        # shuffle bytes are the scale-limiting traffic (every token crosses
        # the wire exactly once in the encode shuffle); zstd cuts the
        # shuffle volume enough to beat lz4 at every multi-core level
        # measured here (+27% tokens/sec at 16 cores) and matters more on
        # a real cluster where the shuffle is network, not tmpfs
        .config("spark.io.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("EGGOPRESS_DRIVER_MEM", "8g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
    )
