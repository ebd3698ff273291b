"""End-to-end engine tests: the BASELINE.json invariant (bit-identical
round trip) + compression-ratio gate, via the full Spark pipeline.
SURVEY.md §5 items 3-4."""

import os

import pytest
from pyspark.sql import functions as F

from eggopress import decode, encode, synth, verify
from eggopress.tablefmt import Table

N_DOCS = 2000  # sf-unit (FIXTURES.md)


@pytest.fixture(scope="module")
def corpus(spark):
    df = synth.corpus_df(spark, N_DOCS)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def encoded_table(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tbl") / "corpus_table")
    summary = encode.encode_table(spark, corpus, path, n_partitions=8)
    return path, summary


def test_synth_deterministic(spark):
    a = synth.corpus_pandas(500)
    b = synth.corpus_pandas(500)
    assert a.equals(b)
    # parallelism-independence: Spark-generated content == driver-side content
    df = synth.corpus_df(spark, 500).toPandas().sort_values("doc_id").reset_index(drop=True)
    pd_a = a.to_pandas().sort_values("doc_id").reset_index(drop=True)
    assert list(df["doc_id"]) == list(pd_a["doc_id"])
    assert all((x == y).all() for x, y in zip(df["tokens"], pd_a["tokens"]))


def test_synth_shape(corpus):
    assert [f.name for f in corpus.schema.fields] == ["doc_id", "tokens", "n_tok", "source"]
    assert corpus.count() == N_DOCS
    bad = corpus.filter(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0
    # skew present: web carries most rows
    counts = dict(corpus.groupBy("source").count().collect())
    assert counts["web"] > 0.5 * N_DOCS


def test_encode_summary(encoded_table):
    _, summary = encoded_table
    assert summary["rows"] == N_DOCS
    assert summary["encoded_bytes"] > 0
    assert summary["encoded_bytes"] < summary["raw_bytes"]


def test_roundtrip_bit_identical(spark, corpus, encoded_table):
    path, _ = encoded_table
    decoded = decode.decode_table(spark, path)
    assert decoded.count() == N_DOCS
    mism = verify.roundtrip_mismatches(corpus, decoded)
    assert mism.count() == 0


def test_projected_decode_matches_full(spark, corpus, encoded_table):
    """columns= decodes only the requested streams, bit-identical to the
    same projection of a full decode; order of requested names is honored;
    the n_tok_range helper column is dropped from the output."""
    path, _ = encoded_table
    proj = decode.decode_table(spark, path, columns=["doc_id", "n_tok", "source"])
    assert proj.columns == ["doc_id", "n_tok", "source"]
    full = decode.decode_table(spark, path).select("doc_id", "n_tok", "source")
    assert proj.exceptAll(full).count() == 0
    assert full.exceptAll(proj).count() == 0

    ranged = decode.decode_table(spark, path, n_tok_range=(30, 60), columns=["doc_id"])
    assert ranged.columns == ["doc_id"]
    expect = corpus.filter(F.col("n_tok").between(30, 60)).count()
    assert ranged.count() == expect

    tokens_only = decode.decode_table(spark, path, columns=["tokens"])
    assert tokens_only.columns == ["tokens"]
    assert tokens_only.count() == N_DOCS

    # caller order honored even when it differs from schema order —
    # positional consumers of the CLI --columns output depend on this
    rev = decode.decode_table(spark, path, columns=["source", "doc_id"])
    assert rev.columns == ["source", "doc_id"]
    rev_ranged = decode.decode_table(spark, path, n_tok_range=(30, 60),
                                     columns=["source", "doc_id"])
    assert rev_ranged.columns == ["source", "doc_id"]

    with pytest.raises(ValueError):
        decode.decode_table(spark, path, columns=["nope"])
    with pytest.raises(ValueError):
        decode.decode_table(spark, path, columns=[])
    with pytest.raises(ValueError):
        decode.decode_table(spark, path, columns=["doc_id", "doc_id"])


def test_compression_beats_reference_parquet(spark, corpus, encoded_table, scratch):
    path, _ = encoded_table
    report = verify.compression_report(spark, path, corpus, scratch)
    assert report["beats_reference"], report


def test_partition_pruned_decode(spark, corpus, encoded_table):
    path, _ = encoded_table
    wiki = decode.decode_table(spark, path, sources=["wiki"])
    n_wiki = corpus.filter(F.col("source") == "wiki").count()
    assert wiki.count() == n_wiki
    assert wiki.filter(F.col("source") != "wiki").count() == 0


def test_table_metadata_snapshot(encoded_table):
    path, _ = encoded_table
    tbl = Table(path)
    snap = tbl.snapshot()
    assert snap["stage"] == "encoded"
    assert snap["version"] >= 2  # planned + encoded
    assert set(snap["partitions"]) == set(tbl.partition_dirs())
    assert os.path.exists(os.path.join(tbl.meta_dir, "version-hint.txt"))


def test_manifest_written(spark, encoded_table):
    path, _ = encoded_table
    tbl = Table(path)
    man = spark.read.parquet(tbl.manifest_dir)
    cols = {r["column"] for r in man.select("column").distinct().collect()}
    assert cols == {"doc_id", "source", "n_tok", "tokens"}
    assert man.filter(F.col("encoded_bytes") <= 0).count() == 0


def test_nocluster_encode_roundtrips_and_sizes(spark, corpus, tmp_path):
    """cluster=False (the throughput arm of the clustering trade) must
    still decode bit-identically; the clustered default must not be
    larger on disk than the unclustered arm on the same input."""
    nc = str(tmp_path / "nc_tbl")
    cl = str(tmp_path / "cl_tbl")
    s_nc = encode.encode_table(spark, corpus, nc, n_partitions=8, cluster=False)
    s_cl = encode.encode_table(spark, corpus, cl, n_partitions=8)
    assert verify.roundtrip_ok(corpus, decode.decode_table(spark, nc))
    assert s_cl["encoded_bytes"] <= s_nc["encoded_bytes"]
    # determinism of the unclustered arm too
    nc2 = str(tmp_path / "nc_tbl2")
    s_nc2 = encode.encode_table(spark, corpus, nc2, n_partitions=8, cluster=False)
    assert s_nc2["encoded_bytes"] == s_nc["encoded_bytes"]


def test_commit_conflict_and_crash_recovery(tmp_path):
    """Optimistic-concurrency commit fencing: two writers that both read
    version N race to v<N+1> — exactly one wins, the loser raises
    CommitConflict instead of clobbering. And a writer that crashed
    between metadata link and hint swap has still COMMITTED (the file is
    the commit): version discovery takes the max of hint and files, so
    later commits move past it instead of wedging on a collision."""
    import json as _json
    from unittest import mock

    from eggopress.tablefmt import CommitConflict, Table

    path = str(tmp_path / "cc_tbl")
    t1, t2 = Table(path), Table(path)
    assert t1.commit_snapshot({"stage": "planned"}) == 1

    # loser: stale version read -> collides on v2 after winner commits it
    assert t1.commit_snapshot({"stage": "encoded"}) == 2
    with mock.patch.object(Table, "current_version", return_value=1):
        with pytest.raises(CommitConflict):
            t2.commit_snapshot({"stage": "encoded"})
    # winner's snapshot untouched; retry path works after re-read
    assert t2.snapshot()["stage"] == "encoded"
    assert t2.commit_snapshot({"stage": "encoded", "retry": True}) == 3

    # crash window: v4 metadata linked but hint never swapped
    meta = os.path.join(t1.meta_dir, "v4.metadata.json")
    with open(meta, "w") as f:
        _json.dump({"stage": "encoded", "version": 4, "crashed": True}, f)
    assert t1.current_version() == 4
    assert t1.snapshot()["crashed"] is True
    assert t1.commit_snapshot({"stage": "encoded"}) == 5


def test_encode_table_rejects_n_tok_mismatch(spark, tmp_path):
    """A row whose n_tok disagrees with its token list fails the encode,
    naming its partition and chunk, and no chunk file is promoted."""
    df = synth.corpus_df(spark, 300)
    victim = df.orderBy("doc_id").first()["doc_id"]
    bad = df.withColumn(
        "n_tok",
        F.when(F.col("doc_id") == victim, F.col("n_tok") + 1)
        .otherwise(F.col("n_tok")).cast("int"))
    path = str(tmp_path / "bad_ntok")
    with pytest.raises(Exception, match=r"n_tok != len\(tokens\) in "
                                        r"partition 'source=\w+/salt=\d+' chunk \d+"):
        encode.encode_table(spark, bad, path, n_partitions=2)
    tbl = Table(path)
    assert tbl.partition_dirs() == []
    assert (tbl.snapshot() or {}).get("stage") != "encoded"
