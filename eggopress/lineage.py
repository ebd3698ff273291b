"""Resumable per-partition lineage checkpoint table (SURVEY.md §2.7).

Engine analog of eggo's DAG/provenance registry ("dag": "VCF2ADAMTask",
datasets/1kg-genotypes/meta.json:4) and its idempotent re-entry pattern
(eggo/aws.py:62-68, eggo/director.py:73-79): resume anti-joins planned
partitions against lineage rows with status='done', so only missing or
failed partitions re-encode.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from eggopress.schema import LINEAGE_SCHEMA
from eggopress.tablefmt import Table


def _exists(tbl: Table) -> bool:
    return os.path.isdir(tbl.lineage_dir) and any(
        f.endswith(".parquet") for f in os.listdir(tbl.lineage_dir)
    )


def read(spark: SparkSession, tbl: Table):
    if not _exists(tbl):
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return spark.read.schema(LINEAGE_SCHEMA).parquet(tbl.lineage_dir)


def append(spark: SparkSession, tbl: Table, rows: list[tuple]) -> None:
    """rows: (run_id, partition_id, stage, status, attempt, codec_summary,
    input_bytes, output_bytes, row_count, wall_ms) — ts appended here.

    Written driver-side with pyarrow, NOT as a Spark job: lineage rows are
    O(#partitions) tiny, and a createDataFrame+write job costs ~2 s of
    fixed per-wave overhead that directly erodes scaling efficiency (the
    checkpoint must never rival the work it checkpoints)."""
    if not rows:
        return
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    # tz-aware now: pyarrow treats NAIVE datetimes as UTC when writing a
    # tz=UTC column, so a naive local-time value would shift by the host's
    # UTC offset on any non-UTC machine
    now = datetime.datetime.now(datetime.timezone.utc)
    cols = zip(*[r + (now,) for r in rows])
    # ts is tz-aware micros, so Spark reads TimestampType back
    table = pa.table({f.name: pa.array(list(c), type=f.type)
                      for f, c in zip(to_arrow_schema(LINEAGE_SCHEMA), cols)})
    os.makedirs(tbl.lineage_dir, exist_ok=True)
    pq.write_table(
        table, os.path.join(tbl.lineage_dir, f"part-{uuid.uuid4().hex}.parquet")
    )


def run_done(tbl: Table, run_id: str) -> bool:
    """Does run_id have a 'done' row? Read with pyarrow, like append."""
    import pyarrow.parquet as pq

    return _exists(tbl) and pq.read_table(
        tbl.lineage_dir, columns=["run_id"],
        filters=[("run_id", "==", run_id), ("status", "==", "done")]).num_rows > 0


def done_partitions(spark: SparkSession, tbl: Table, stage: str = "encode") -> list[str]:
    if not _exists(tbl):
        return []
    return [
        r["partition_id"]
        for r in read(spark, tbl)
        .filter((F.col("stage") == stage) & (F.col("status") == "done"))
        .select("partition_id")
        .distinct()
        .collect()
    ]


def attempt_counts(spark: SparkSession, tbl: Table, stage: str = "encode") -> dict[str, int]:
    if not _exists(tbl):
        return {}
    return {
        r["partition_id"]: r["a"]
        for r in read(spark, tbl)
        .filter(F.col("stage") == stage)
        .groupBy("partition_id")
        .agg(F.max("attempt").alias("a"))
        .collect()
    }
