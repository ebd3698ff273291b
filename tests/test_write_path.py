"""The one corpus write path: encode_table, encode_append and ingest_table
share the partition plan, the staged write and its failure recording."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from eggopress import decode, encode, ingest, lineage, verify
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
