"""Round-2 feature tests: raw ingest (S2), catalog registration (S6),
chunk-skipping predicate decode (P2/§4), driver-level auto-retry (V3),
fresh-encode stale-state clearing, and the verifier cardinality check."""

import json
import os

import pytest
from pyspark.sql import functions as F

from eggopress import catalog, cli, decode, encode, lineage, synth, verify
from eggopress.pipeline import textstats
from eggopress.tablefmt import Table


# ------------------------------------------------------------ ingest

def test_ingest_jsonl_end_to_end(spark, tmp_path, capsys):
    docs = [
        {"doc_id": f"d{i:04d}", "text": f"alpha beta gamma delta {i} " * (2 + i % 5),
         "source": "webA" if i % 3 else "webB"}
        for i in range(120)
    ]
    raw = tmp_path / "docs.jsonl"
    raw.write_text("\n".join(json.dumps(d) for d in docs))
    table = str(tmp_path / "ing_tbl")

    rc = cli.main(["ingest", "--input", str(raw), "--table", table], spark=spark)
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows"] == 120

    decoded = decode.decode_table(spark, table)
    expected = textstats.tokenize(spark.read.json(str(raw)), make_ids=False)
    assert verify.roundtrip_ok(expected, decoded)


def test_ingest_text_derives_ids_and_source(spark, tmp_path, capsys):
    raw = tmp_path / "corpus.txt"
    raw.write_text("\n".join(f"line number {i} with some words" for i in range(50)))
    table = str(tmp_path / "ing_txt")
    rc = cli.main(["ingest", "--input", str(raw), "--format", "text",
                   "--source", "crawl1", "--table", table], spark=spark)
    assert rc == 0
    decoded = decode.decode_table(spark, table)
    assert decoded.count() == 50
    assert decoded.select("source").distinct().collect()[0]["source"] == "crawl1"
    # content-addressed ids: 32-hex md5
    assert all(len(r["doc_id"]) == 32 for r in decoded.select("doc_id").collect())


# ----------------------------------------------------------- catalog

def test_register_enables_spark_sql(spark, tmp_path):
    corpus = synth.corpus_df(spark, 500)
    table = str(tmp_path / "cat_tbl")
    encode.encode_table(spark, corpus, table, n_partitions=4)
    info = catalog.register(spark, table, "cat_t")
    assert "cat_t" in info["surfaces"]

    n = spark.sql("SELECT count(*) AS n FROM cat_t").collect()[0]["n"]
    assert n == 500
    agg = spark.sql(
        "SELECT source, sum(n_tok) AS s FROM cat_t GROUP BY source ORDER BY source"
    ).collect()
    exp = corpus.groupBy("source").agg(F.sum("n_tok").alias("s")).orderBy("source").collect()
    assert [(r["source"], r["s"]) for r in agg] == [(r["source"], r["s"]) for r in exp]
    # durable catalog entry over the chunk files
    chunks = spark.sql("SELECT count(*) AS n FROM cat_t_chunks").collect()[0]["n"]
    assert chunks >= 1
    man = spark.sql("SELECT DISTINCT column FROM cat_t_manifest").collect()
    assert {r["column"] for r in man} == {"doc_id", "source", "n_tok", "tokens"}
    spark.sql("DROP TABLE IF EXISTS cat_t_chunks")


def test_register_rejects_bad_names(spark, tmp_path):
    with pytest.raises(ValueError):
        catalog.register(spark, str(tmp_path / "x"), "bad-name; drop")


# ------------------------------------------- chunk-skipping predicate

def _two_band_corpus(spark):
    """source=short docs have n_tok in [4,8]; source=long in [64,96] —
    disjoint chunk stat windows so a predicate can skip whole chunks."""
    rows = []
    for i in range(400):
        n = 4 + i % 5 if i % 2 == 0 else 64 + i % 33
        src = "short" if i % 2 == 0 else "long"
        rows.append((f"{src}-{i:06d}", list(range(n)), n, src))
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")


def test_predicate_decode_skips_chunks(spark, tmp_path):
    corpus = _two_band_corpus(spark)
    table = str(tmp_path / "skip_tbl")
    encode.encode_table(spark, corpus, table, n_partitions=4)

    total_chunks = decode.read_encoded(spark, table).count()
    surviving = decode.read_encoded(spark, table, n_tok_range=(60, None)).count()
    assert 0 < surviving < total_chunks, "stat filter must skip whole chunks"

    got = decode.decode_table(spark, table, n_tok_range=(60, None))
    exp = corpus.filter(F.col("n_tok") >= 60)
    assert got.count() == exp.count()
    assert verify.roundtrip_ok(exp, got)

    # the stats predicate reaches the parquet scan (chunk skipping is I/O
    # pruning, not post-scan filtering)
    plan = decode.read_encoded(spark, table, n_tok_range=(60, None))._jdf.queryExecution().executedPlan().toString()
    assert "n_tok_max" in plan and "PushedFilters" in plan


def test_doc_lookup_is_request_proportional(spark, tmp_path):
    """Random access: looking up a handful of ids must decode only their
    chunks (chunk count bounded by the request, not the table), prune
    the index read to the ids' pfx partitions, and refuse a stale index
    after an append."""
    from eggopress.tablefmt import Table

    corpus = _two_band_corpus(spark)
    table = str(tmp_path / "lk_tbl")
    encode.encode_table(spark, corpus, table, n_partitions=4)
    with pytest.raises(ValueError, match="no doc index"):
        decode.lookup_docs(spark, table, ["short-000000"])
    decode.build_doc_index(spark, table)

    ids = ["short-000000", "long-000001", "short-000392"]
    got = decode.lookup_docs(spark, table, ids)
    exp = corpus.filter(F.col("doc_id").isin(ids))
    assert verify.roundtrip_ok(exp, got)

    # chunk pruning: the ids map to a strict subset of the chunks
    total_chunks = decode.read_encoded(spark, table).count()
    dm = spark.read.parquet(table + "/index/docmap/data") \
        .filter(F.col("doc_id").isin(ids))
    hit_chunks = dm.select("chunk_id").distinct().count()
    assert 0 < hit_chunks < total_chunks
    # index partition pruning is structural: 64 pfx dirs, the lookup's
    # pfx filter prunes the listing to at most one dir per id
    pfxs = [r["pfx"] for r in spark.createDataFrame(
        [(i,) for i in ids], "doc_id string"
    ).select(F.pmod(F.xxhash64("doc_id"), F.lit(64)).alias("pfx")).collect()]
    pruned = spark.read.parquet(table + "/index/docmap/data") \
        .filter(F.col("pfx").isin(pfxs))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "pfx" in pf, pf

    # empty / missing ids behave
    assert decode.lookup_docs(spark, table, []).count() == 0
    assert decode.lookup_docs(spark, table, ["nope-999999"]).count() == 0

    # an append makes the index stale -> loud refusal; a rebuild indexes
    # the new batch and restores lookups
    extra = spark.createDataFrame(
        [("extra-000001", [1, 2, 3], 3, "short")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    encode.encode_append(spark, extra, table, run_id="lkA")
    with pytest.raises(ValueError, match="stale"):
        decode.lookup_docs(spark, table, ids)
    decode.build_doc_index(spark, table)
    assert decode.lookup_docs(spark, table, ["extra-000001"]).count() == 1
    assert decode.lookup_docs(spark, table, ids).count() == len(ids)

    # a compaction rewrites file names: the index is stale again until
    # rebuilt
    from eggopress import maintenance

    encode.encode_append(spark, extra.selectExpr(
        "'extra-000002' as doc_id", "tokens", "n_tok", "source"),
        table, run_id="lkB")
    maintenance.compact_table(spark, table, min_files=1)
    with pytest.raises(ValueError, match="stale"):
        decode.lookup_docs(spark, table, ["extra-000002"])
    decode.build_doc_index(spark, table)
    assert decode.lookup_docs(spark, table, ["extra-000002"]).count() == 1


def test_bounded_range_matches_filter(spark, tmp_path):
    corpus = _two_band_corpus(spark)
    table = str(tmp_path / "skip_tbl2")
    encode.encode_table(spark, corpus, table, n_partitions=4)
    got = decode.decode_table(spark, table, n_tok_range=(5, 7))
    exp = corpus.filter((F.col("n_tok") >= 5) & (F.col("n_tok") <= 7))
    assert verify.roundtrip_ok(exp, got)


# ----------------------------------------------------------- auto-retry

def test_auto_retry_recovers_transient_failure(spark, tmp_path):
    corpus = synth.corpus_df(spark, 800)
    table = str(tmp_path / "retry_tbl")
    salts = encode.plan_salts(
        {r["source"]: r["c"] for r in
         corpus.groupBy("source").agg(F.count("*").alias("c")).collect()}, 4)
    poison = encode.partition_ids(salts)[-1]

    summary = encode.encode_table(
        spark, corpus, table, n_partitions=4, retries=2,
        fail_until_attempt={poison: 1},
    )
    assert summary["rows"] == 800
    tbl = Table(table)
    lin = lineage.read(spark, tbl)
    assert lin.filter((F.col("status") == "failed")).count() >= 1
    attempts = lineage.attempt_counts(spark, tbl)
    assert attempts[poison] == 2  # failed once, succeeded on attempt 2
    assert verify.roundtrip_ok(corpus, decode.decode_table(spark, table))


def test_retry_exhaustion_raises(spark, tmp_path):
    corpus = synth.corpus_df(spark, 200)
    table = str(tmp_path / "retry_fail")
    salts = encode.plan_salts(
        {r["source"]: r["c"] for r in
         corpus.groupBy("source").agg(F.count("*").alias("c")).collect()}, 2)
    poison = encode.partition_ids(salts)[0]
    with pytest.raises(Exception):
        encode.encode_table(spark, corpus, table, n_partitions=2, retries=1,
                            fail_partitions=frozenset([poison]))


# ------------------------------------- fresh-encode stale-state clear

def test_fresh_encode_clears_previous_plan(spark, tmp_path):
    table = str(tmp_path / "stale_tbl")
    a = synth.corpus_df(spark, 600)
    encode.encode_table(spark, a, table, n_partitions=8)

    b = a.filter(F.col("source") == "web").limit(100)
    encode.encode_table(spark, b, table, n_partitions=2)

    decoded = decode.decode_table(spark, table)
    assert decoded.count() == b.count(), "stale partitions must not survive re-encode"
    assert verify.roundtrip_ok(b, decoded)
    # manifest rows describe only the new encode (no double counting)
    man = spark.read.parquet(Table(table).manifest_dir)
    chunk_rows = decode.read_encoded(spark, table).count()
    assert man.count() == 4 * chunk_rows  # 4 manifest rows (columns) per chunk


def test_missing_source_in_salt_plan_raises_clearly(spark, tmp_path):
    corpus = synth.corpus_df(spark, 200)
    table = str(tmp_path / "missing_src")
    with pytest.raises(Exception, match="missing from salt plan"):
        encode.encode_table(spark, corpus, table, salts={"web": 2})


# --------------------------------------------------- verify hardening

def test_roundtrip_rejects_duplicate_rows(spark):
    corpus = synth.corpus_df(spark, 100)
    doubled = corpus.unionAll(corpus.limit(5))
    assert verify.roundtrip_ok(corpus, corpus)
    assert not verify.roundtrip_ok(corpus, doubled)


def test_cli_no_cluster_and_token_range(spark, tmp_path, capsys):
    """CLI surfaces for the clustering flag and the token-value
    predicate: --no-cluster encodes (round-trip intact), decode
    --token-min/--token-max writes only matching docs in caller column
    order."""
    import json as _json

    from eggopress import cli, decode, synth
    from pyspark.sql import functions as F

    table = str(tmp_path / "cli_nc_tbl")
    rc = cli.main(["encode", "--input", "synth:800", "--table", table,
                   "--partitions", "4", "--no-cluster"], spark=spark)
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows"] == 800

    out = str(tmp_path / "tok_out")
    rc = cli.main(["decode", "--table", table, "--output", out,
                   "--token-min", "40000", "--token-max", "41000",
                   "--columns", "source,doc_id"], spark=spark)
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.columns == ["source", "doc_id"]
    expect = (decode.decode_table(spark, table)
              .filter(F.expr("exists(tokens, t -> t >= 40000 and t <= 41000)"))
              .count())
    assert got.count() == expect and expect > 0
