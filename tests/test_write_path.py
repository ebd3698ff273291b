"""The one write path: encode_table, encode_append and ingest_table share
the partition plan, the staged write and its failure recording, and every
table write, generic tables included, stores its chunks through the same
task-side chunk writer."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from eggopress import (decode, encode, generic, ingest, lineage, maintenance,
                       synth, verify)
from eggopress.pipeline import textstats
from eggopress.schema import LINEAGE_SCHEMA, MANIFEST_SCHEMA
from eggopress.tablefmt import Table


def _heavy_docs(spark, n=200, words=300):
    """Few rows, many tokens each: the shape the token-value floor sizes."""
    rows = [(f"doc-{i:04d}",
             " ".join(f"w{(i * 7 + j) % 500}" for j in range(words)),
             "web" if i % 3 else "books")
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id string, text string, source string")


def test_append_and_ingest_plan_like_encode_table(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("EGGOPRESS_VALUES_PER_PART", "2000")
    docs = _heavy_docs(spark)
    corpus = textstats.tokenize(docs, make_ids=False)
    corpus.cache().count()

    batch = encode.encode_table(spark, corpus, str(tmp_path / "batch"))
    append = encode.encode_append(spark, corpus, str(tmp_path / "append"),
                                  run_id="plan-1")
    ingested = ingest.ingest_table(spark, docs, str(tmp_path / "ingest"))

    # the value floor is what splits 200 rows over more than one salt per
    # source; a row-only plan would stop at 2 partitions
    assert batch["partitions"] > 2
    assert append["partitions"] == batch["partitions"]
    assert ingested["partitions"] == batch["partitions"]
    assert (Table(str(tmp_path / "ingest")).snapshot()["salts"]
            == Table(str(tmp_path / "batch")).snapshot()["salts"])
    # like encode_table, the append records one lineage row per planned
    # partition
    app_lin = lineage.read(spark, Table(str(tmp_path / "append"))) \
        .filter(F.col("status") == "done").count()
    assert app_lin == append["partitions"]
    corpus.unpersist()


def test_failed_append_stays_replayable(spark, tmp_path):
    """A failed append records the failure but not the run: replaying the
    same run_id encodes the batch instead of skipping it."""
    table = str(tmp_path / "fail_tbl")
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    bad = spark.createDataFrame([("bad-1", [1, 2, 3], 5, "web")], schema)
    with pytest.raises(Exception, match="n_tok"):
        encode.encode_append(spark, bad, table, run_id="stream-00000001")
    failed = lineage.read(spark, Table(table)).collect()
    assert failed and {r["status"] for r in failed} == {"failed"}
    assert {r["run_id"] for r in failed} == {"stream-00000001"}

    good = spark.createDataFrame(
        [("good-1", [1, 2, 3], 3, "web"), ("good-2", [4, 5], 2, "books")], schema)
    s = encode.encode_append(spark, good, table, run_id="stream-00000001")
    assert not s.get("replayed") and s["rows"] == 2
    assert verify.roundtrip_ok(good, decode.decode_table(spark, table))
    # now committed: a third delivery is the replay skip
    assert encode.encode_append(spark, good, table,
                                run_id="stream-00000001")["replayed"] is True


def test_lineage_and_append_manifest_files_match_schemas(spark, tmp_path):
    table = str(tmp_path / "schema_tbl")
    df = spark.createDataFrame([("a-1", [1, 2], 2, "web")],
                               "doc_id string, tokens array<int>, n_tok int, source string")
    encode.encode_append(spark, df, table, run_id="schema-1")
    tbl = Table(table)
    for path, struct in (
        (os.path.join(tbl.lineage_dir, os.listdir(tbl.lineage_dir)[0]), LINEAGE_SCHEMA),
        (os.path.join(tbl.manifest_dir, "append-schema-1.parquet"), MANIFEST_SCHEMA),
    ):
        got = pq.read_schema(path)
        want = to_arrow_schema(struct)
        assert got.names == want.names
        assert got.types == want.types


def _parquet_bytes(path):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def test_encode_table_job_count_and_codec_summary(spark, tmp_path):
    """One encode runs at most 5 Spark jobs (the plan's groupBy, the range
    sample, and the one encode-and-write job with its shuffle); its
    lineage codec summaries are the sorted distinct token codecs, equal
    across re-encodes."""
    corpus = synth.corpus_df(spark, 1500, seed=3)
    corpus.cache().count()
    sc = spark.sparkContext
    sc.setJobGroup("encode-job-count", "one encode_table")
    try:
        encode.encode_table(spark, corpus, str(tmp_path / "a"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("encode-job-count")) <= 5

    encode.encode_table(spark, corpus, str(tmp_path / "b"))
    summaries = []
    for name in ("a", "b"):
        rows = lineage.read(spark, Table(str(tmp_path / name))) \
            .filter(F.col("status") == "done").collect()
        summaries.append(sorted((r["partition_id"], r["codec_summary"]) for r in rows))
    assert summaries[0] == summaries[1]
    for _, codecs in summaries[0]:
        assert codecs == ",".join(sorted(set(codecs.split(","))))
    corpus.unpersist()


def test_failed_attempt_files_are_never_promoted(spark, tmp_path, monkeypatch):
    """A retried encode promotes only the files its successful job listed:
    the files the healthy tasks of the failed attempt wrote, and a stray
    file planted in staging, never reach data/."""
    corpus = synth.corpus_df(spark, 1500, seed=4)
    corpus.cache().count()
    path = str(tmp_path / "retry_tbl")
    counts = {r["source"]: r["count"] for r in corpus.groupBy("source").count().collect()}
    pids = encode.partition_ids(encode.plan_salts(counts, 8))
    # the last range partition fails: the tasks ahead of it finish (and
    # write their files) before it runs
    flaky = pids[-1]

    seen = {}
    promote = Table.promote_partitions

    def plant_then_promote(self, run_id, files, merge=False):
        staging = self.staging_dir(run_id)
        shutil.copy(os.path.join(staging, files[0]),
                    os.path.join(staging, os.path.dirname(files[0]), "stray.parquet"))
        seen["staged"] = {os.path.relpath(os.path.join(r, f), staging)
                          for r, _, fs in os.walk(staging) for f in fs}
        seen["listed"] = set(files)
        return promote(self, run_id, files, merge)

    monkeypatch.setattr(Table, "promote_partitions", plant_then_promote)
    encode.encode_table(spark, corpus, path, n_partitions=8, retries=1,
                        fail_until_attempt={flaky: 1})
    monkeypatch.undo()

    unlisted = seen["staged"] - seen["listed"]
    assert any(not f.endswith("stray.parquet") for f in unlisted), \
        "the failed attempt's healthy tasks should have left files"
    tbl = Table(path)
    listing = tbl.partition_file_listing()
    assert listing == tbl.snapshot()["files"]
    assert sum(len(v) for v in listing.values()) == len(seen["listed"])
    checks = maintenance.table_report(spark, path)["checks"]
    assert checks["manifest_chunks_without_data"] == 0
    assert checks["data_chunks_without_manifest"] == 0
    assert verify.roundtrip_ok(corpus, decode.decode_table(spark, path))
    lin = lineage.read(spark, tbl).collect()
    assert {(r["partition_id"], r["attempt"]) for r in lin if r["status"] == "failed"} \
        == {(flaky, 1)}
    done = {r["partition_id"]: r["attempt"] for r in lin if r["status"] == "done"}
    assert done == {p: 2 if p == flaky else 1 for p in pids}
    corpus.unpersist()


def test_resume_under_same_run_id_keeps_every_manifest(spark, tmp_path):
    """Wave manifests are named <run_id>-w<wave>; a resume that reuses the
    run_id adds manifest files instead of overwriting the first run's."""
    corpus = synth.corpus_df(spark, 600, seed=6)
    path = str(tmp_path / "same_run_tbl")
    counts = {r["source"]: r["count"] for r in corpus.groupBy("source").count().collect()}
    pids = encode.partition_ids(encode.plan_salts(counts, 4))
    with pytest.raises(Exception, match="injected failure"):
        encode.encode_table(spark, corpus, path, n_partitions=4, waves=len(pids),
                            run_id="r1", fail_partitions=frozenset([pids[-1]]))
    encode.encode_table(spark, corpus, path, resume=True, run_id="r1")
    checks = maintenance.table_report(spark, path)["checks"]
    assert checks["manifest_chunks_without_data"] == 0
    assert checks["data_chunks_without_manifest"] == 0
    assert len(Table(path).manifest_file_listing()) == len(pids)


def test_resume_commits_whole_table_totals(spark, tmp_path):
    """A resume stages only the missing partitions, but its snapshot totals
    cover the whole table, so table_report calls the resumed table
    healthy; the returned summary still counts this run only."""
    corpus = synth.corpus_df(spark, 600, seed=6)
    path = str(tmp_path / "resume_totals_tbl")
    counts = {r["source"]: r["count"] for r in corpus.groupBy("source").count().collect()}
    pids = encode.partition_ids(encode.plan_salts(counts, 4))
    with pytest.raises(Exception, match="injected failure"):
        encode.encode_table(spark, corpus, path, n_partitions=4, waves=len(pids),
                            fail_partitions=frozenset([pids[-1]]))
    resumed = encode.encode_table(spark, corpus, path, resume=True)
    assert resumed["partitions"] == 1 and 0 < resumed["rows"] < 600
    totals = Table(path).snapshot()["totals"]
    assert totals["rows"] == 600
    report = maintenance.table_report(spark, path)
    assert report["checks"]["snapshot_rows_match_data"] is True
    assert report["healthy"] is True
    assert {k: report[k] for k in totals} == totals


def test_row_groups_close_at_row_group_bytes(tmp_path, monkeypatch):
    """The corpus writers keep one row group per chunk whatever its size;
    with generic.ROW_GROUP_BYTES a file closes a row group once its
    buffered chunk rows reach it, so ~115 KB generic chunks share one."""
    class _Task:
        partitionId = stageId = attemptNumber = staticmethod(lambda: 0)

    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(_Task))
    schema = pa.schema([pa.field("n", pa.int64(), False),
                        pa.field("x_blob", pa.binary(), False)])
    for name, size, n, rg_bytes, groups in (
            ("corpus_small", 115_000, 4, 0, [1, 1, 1, 1]),
            ("generic_big", 1_300_000, 3, generic.ROW_GROUP_BYTES, [1, 1, 1]),
            ("generic", 115_000, 25, generic.ROW_GROUP_BYTES, [10, 10, 5])):
        chunks = [pa.RecordBatch.from_arrays(
            [pa.array([i]), pa.array([b"\0" * size])], schema=schema)
            for i in range(n)]
        staged = list(encode._write_chunks(str(tmp_path / name), iter(chunks), schema,
                                           row_group_bytes=rg_bytes))
        assert [b.num_rows for b in staged] == [1] * n
        assert {b["file"][0].as_py() for b in staged} == {"part-00000-s0-a0.parquet"}
        meta = pq.ParquetFile(tmp_path / name / "part-00000-s0-a0.parquet").metadata
        assert [meta.row_group(i).num_rows for i in range(meta.num_row_groups)] == groups


def test_compacted_corpus_files_keep_one_row_group_per_chunk(spark, tmp_path):
    """Small appended chunks stay one row group each, through the append
    and through compaction, so footer min/max still prune per chunk."""
    table = str(tmp_path / "rg_tbl")
    for i in range(2):
        encode.encode_append(spark, synth.corpus_df(spark, 300, seed=40 + i), table,
                             run_id=f"rg-{i}")
    assert maintenance.compact_table(spark, table)["compacted_partitions"] > 0
    files = [os.path.join(r, f) for r, _, fs in os.walk(Table(table).data_dir)
             for f in fs if f.endswith(".parquet")]
    assert files
    for f in files:
        meta = pq.ParquetFile(f).metadata
        assert meta.num_row_groups == meta.num_rows


def test_generic_chunk_files_no_larger_than_spark_writer(spark, tmp_path):
    """The generic chunk rows the task-side writer stores take no more
    bytes than the same rows written file for file by Spark's zstd
    parquet writer."""
    path = str(tmp_path / "generic_bytes_tbl")
    generic.encode_generic(
        spark, spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"),
        path, n_partitions=2, chunk_rows=1000)
    data_dir = Table(path).data_dir
    files = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
    assert len(files) == 2
    for f in files:
        (spark.read.parquet(os.path.join(data_dir, f)).coalesce(1).write
         .option("compression", "zstd").parquet(str(tmp_path / "spark_written" / f)))
    assert _parquet_bytes(data_dir) <= _parquet_bytes(str(tmp_path / "spark_written"))


def test_chunk_files_no_larger_than_spark_writer(spark, tmp_path):
    """The task-side pyarrow chunk files store the same chunk rows in no
    more bytes than Spark's partitionBy zstd parquet writer did."""
    path = str(tmp_path / "bytes_tbl")
    encode.encode_table(spark, synth.corpus_df(spark, 3000, seed=901), path)
    data_dir = Table(path).data_dir
    spark_dir = str(tmp_path / "spark_written")
    (spark.read.parquet(data_dir).write.partitionBy("source", "salt")
     .option("compression", "zstd").mode("overwrite").parquet(spark_dir))
    assert _parquet_bytes(data_dir) <= _parquet_bytes(spark_dir)


def test_source_needing_path_escape(spark, tmp_path):
    """A source with path characters lands in the dir Spark's partitionBy
    writer would name, decodes exactly, and its partition is recorded as
    done, so a resume does not re-encode it."""
    table = str(tmp_path / "esc_tbl")
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    df = spark.createDataFrame(
        [("d1", [1, 2, 3], 3, "we:b/x y%"), ("d2", [4, 5], 2, "plain")], schema)
    encode.encode_table(spark, df, table)
    tbl = Table(table)
    assert tbl.partition_dirs() == ["source=plain/salt=0", "source=we%3Ab%2Fx y%25/salt=0"]
    assert verify.roundtrip_ok(df, decode.decode_table(spark, table))
    assert sorted(lineage.done_partitions(spark, tbl)) == [
        "source=plain/salt=0", "source=we:b/x y%/salt=0"]
