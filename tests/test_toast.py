"""Manifest-driven multi-resource ingest (S1+S2 composition) + the `toast`
full-pipeline command (ingest -> encode -> verify -> register -> editions),
including mid-pipeline kill/resume."""

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from eggopress import cli, decode, ingest, lineage, toast as toastlib
from eggopress.tablefmt import Table


def _write_resources(tmp_path):
    """Two resources: a gzip'd jsonl and a plain text file."""
    a_rows = [json.dumps({"text": f"alpha beta gamma {i} delta " * (1 + i % 3)})
              for i in range(80)]
    a = tmp_path / "web.jsonl.gz"
    with gzip.open(a, "wt") as f:
        f.write("\n".join(a_rows))
    b = tmp_path / "books.txt"
    b.write_text("\n".join(f"book line {i} with several words" for i in range(40)))
    manifest = tmp_path / "datapackage.json"
    manifest.write_text(json.dumps({
        "name": "fixture-corpus",
        "resources": [
            {"name": "web", "path": "web.jsonl.gz", "format": "jsonl",
             "compression": "gzip"},
            {"name": "books", "path": "books.txt", "format": "text"},
        ],
    }))
    return str(manifest)


def test_manifest_ingest_multi_resource_gzip(spark, tmp_path, capsys):
    manifest = _write_resources(tmp_path)
    table = str(tmp_path / "mr_tbl")
    rc = cli.main(["ingest", "--manifest", manifest, "--table", table], spark=spark)
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["sources"] == {"web": 80, "books": 40}

    decoded = decode.decode_table(spark, table)
    got = {r["source"]: r["n"] for r in
           decoded.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got == {"web": 80, "books": 40}

    # per-resource provenance rows
    lin = lineage.read(spark, Table(table)).filter(F.col("stage") == "ingest")
    rows = {r["partition_id"]: r["row_count"] for r in lin.collect()}
    assert rows == {"resource:web": 80, "resource:books": 40}


def test_manifest_accepts_meta_json_shape(spark, tmp_path):
    """The reference's meta.json shape (sources list, boolean compression,
    unnamed resources) must parse too."""
    b = tmp_path / "r0.jsonl"
    b.write_text("\n".join(json.dumps({"text": f"meta shape doc {i}"})
                           for i in range(10)))
    meta = tmp_path / "meta.json"
    meta.write_text(json.dumps({
        "name": "onekg",
        "dag": "VCF2ADAMTask",
        "sources": [{"format": "jsonl", "compression": False, "path": "r0.jsonl"}],
    }))
    res = ingest.read_manifest(str(meta))
    assert res[0]["name"] == "onekg-0" and res[0]["compression"] == "none"
    docs = ingest.load_manifest_documents(spark, str(meta))
    assert docs.count() == 10


def test_manifest_validation_errors(tmp_path):
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"resources": [{"name": "x", "path": "p",
                                              "format": "xml"}]}))
    with pytest.raises(ValueError, match="unknown format"):
        ingest.read_manifest(str(bad))
    bad.write_text(json.dumps({"resources": []}))
    with pytest.raises(ValueError, match="no resources"):
        ingest.read_manifest(str(bad))


def test_toast_end_to_end(spark, tmp_path):
    manifest = _write_resources(tmp_path)
    table = str(tmp_path / "toast_tbl")
    result = toastlib.toast(
        spark, table, manifest=manifest,
        register_name="toasted", editions=("flat",),
    )
    assert result["stages"]["encode"]["status"] == "done"
    assert result["stages"]["verify"]["roundtrip_ok"] is True
    assert result["stages"]["register"]["status"] == "done"
    assert result["stages"]["edition:flat"]["status"] == "done"
    assert spark.sql("SELECT count(*) AS n FROM toasted").collect()[0]["n"] == 120

    # every stage left a lineage row
    stages = {r["partition_id"] for r in
              lineage.read(spark, Table(table))
              .filter(F.col("stage") == "toast").collect()}
    assert stages == {"encode", "verify", "register", "edition:flat"}
    spark.sql("DROP TABLE IF EXISTS toasted_chunks")


def test_toast_resumes_after_encode_without_reencoding(spark, tmp_path):
    """Kill after encode; the re-run must enter at verify with ZERO
    re-encoding (encode attempt counts unchanged)."""
    manifest = _write_resources(tmp_path)
    table = str(tmp_path / "toast_resume")
    with pytest.raises(RuntimeError, match="injected failure"):
        toastlib.toast(spark, table, manifest=manifest, fail_after="encode")

    tbl = Table(table)
    attempts_before = lineage.attempt_counts(spark, tbl)
    assert attempts_before, "encode must have completed before the kill"

    result = toastlib.toast(spark, table, manifest=manifest)
    assert result["stages"]["encode"]["status"] == "skipped"
    assert result["stages"]["verify"]["status"] == "done"
    assert lineage.attempt_counts(spark, tbl) == attempts_before, \
        "resume must not re-encode any partition"


def test_toast_resuming_encode_keeps_ingest_counts(spark, tmp_path):
    """A toast whose encode died after its first wave resumes the encode;
    the per-source counts come back from the planned snapshot, so the
    summary's sources and the ingest lineage rows match a fresh ingest."""
    from eggopress import encode
    from eggopress.pipeline import textstats

    manifest = _write_resources(tmp_path)
    table = str(tmp_path / "toast_resume_mid")
    counts = {"web": 80, "books": 40}
    corpus = textstats.tokenize(
        ingest.load_manifest_documents(spark, manifest), make_ids=False)
    poison = encode.partition_ids(encode.plan_salts(counts, 4))[-1]
    with pytest.raises(Exception):
        encode.encode_table(spark, corpus, table, n_partitions=4, waves=2,
                            fail_partitions=frozenset([poison]))
    assert lineage.done_partitions(spark, Table(table))

    result = toastlib.toast(spark, table, manifest=manifest)
    assert result["stages"]["verify"]["roundtrip_ok"] is True
    assert Table(table).snapshot()["sources"] == counts
    lin = lineage.read(spark, Table(table)).filter(F.col("stage") == "ingest")
    assert {r["partition_id"]: r["row_count"] for r in lin.collect()} == {
        "resource:web": 80, "resource:books": 40}


def test_toast_cli(spark, tmp_path, capsys):
    manifest = _write_resources(tmp_path)
    table = str(tmp_path / "toast_cli_tbl")
    rc = cli.main(["toast", "--manifest", manifest, "--table", table], spark=spark)
    assert rc == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["stages"]["verify"]["roundtrip_ok"] is True


def test_toast_near_dedup_keeps_one_representative(spark, tmp_path):
    """--dedup simhash: identical texts under DIFFERENT sources (distinct
    content-addressed ids, so exact dedup keeps both) collapse to one
    representative via pairs -> connected components; verify still
    passes because the curated frame feeds both encode and verify."""
    distinct = [f"unique document number {i} with its own words {i * 7}"
                for i in range(30)]
    shared = "common boilerplate page header terms conditions apply here"
    a = tmp_path / "web.jsonl"
    a.write_text("\n".join(
        json.dumps({"text": t, "source": "web"}) for t in distinct[:15] + [shared]))
    b = tmp_path / "books.jsonl"
    b.write_text("\n".join(
        json.dumps({"text": t, "source": "books"}) for t in distinct[15:] + [shared]))
    manifest = tmp_path / "pkg.json"
    manifest.write_text(json.dumps({
        "name": "neardup-corpus",
        "resources": [
            {"name": "web", "path": "web.jsonl", "format": "jsonl"},
            {"name": "books", "path": "books.jsonl", "format": "jsonl"},
        ],
    }))

    table = str(tmp_path / "dd_tbl")
    result = toastlib.toast(
        spark, table, manifest=str(manifest), dedup="simhash",
    )
    assert result["stages"]["verify"]["status"] == "done"
    decoded = decode.decode_table(spark, table, columns=["doc_id"])
    # 32 ingested docs (2 sources x 16), the shared text collapses 2 -> 1
    assert decoded.count() == 31

    # without dedup both copies land
    table2 = str(tmp_path / "nd_tbl")
    toastlib.toast(spark, table2, manifest=str(manifest))
    assert decode.decode_table(spark, table2, columns=["doc_id"]).count() == 32


def test_toast_decontaminate_drops_eval_overlap(spark, tmp_path):
    """--decontaminate: docs sharing an n-gram with the benchmark jsonl
    are dropped before encode; clean docs survive; verify still passes
    (the curated frame feeds both stages)."""
    bench_text = "the held out evaluation prompt about purple gliders"
    rows = [{"doc_id": f"c{i:03d}",
             "text": f"regular training document {i} about topic {i * 7} "
                     f"with enough words to pass"} for i in range(20)]
    rows.append({"doc_id": "leak", "text":
                 f"some crawl page quoting {bench_text} verbatim inside"})
    src = tmp_path / "dc.jsonl"
    src.write_text("\n".join(json.dumps(r) for r in rows))
    bench = tmp_path / "bench.jsonl"
    bench.write_text(json.dumps({"text": bench_text}))

    table = str(tmp_path / "dc_tbl")
    rc = cli.main([
        "toast", "--input", str(src), "--table", table, "--source", "web",
        "--decontaminate", str(bench), "--decontaminate-ngram", "5",
    ], spark=spark)
    assert rc == 0
    got = {r["doc_id"] for r in
           decode.decode_table(spark, table, columns=["doc_id"]).collect()}
    assert "leak" not in got
    assert len(got) == 20


def test_toast_dedup_mega_group_bounded(spark, tmp_path):
    """A planted 1000-copy boilerplate group (explicit doc_ids, so ingest
    content-addressing can NOT collapse it) must cost toast one groupBy
    shuffle, not 10^6/2 LSH candidate pairs: the exact pre-collapse
    reduces the group to one representative BEFORE candidate generation,
    so no bucket ever exceeds the cap (shed metrics report zero), and
    the cap itself is live for whatever near-identical mass remains."""
    from eggopress.pipeline import dedup as dedupl

    boiler = "mega boilerplate terms and conditions apply to every page"
    rows = [{"doc_id": f"copy-{i:04d}", "text": boiler, "source": "web"}
            for i in range(1000)]
    rows += [{"doc_id": f"uniq-{i:04d}",
              "text": f"unique article number {i} body words {i * 11}",
              "source": "web"} for i in range(25)]
    src = tmp_path / "mega.jsonl"
    src.write_text("\n".join(json.dumps(r) for r in rows))

    table = str(tmp_path / "mega_tbl")
    result = toastlib.toast(
        spark, table, input_path=str(src), fmt="jsonl", source="web",
        dedup="simhash", max_bucket_rows=50,
    )
    assert result["stages"]["verify"]["status"] == "done"
    # 1000 copies -> 1 representative, 25 unique docs survive
    assert decode.decode_table(spark, table, columns=["doc_id"]).count() == 26
    # the mega group never reached the LSH join: nothing was over-cap
    assert result["dedup"] == {"shed_buckets": 0, "shed_rows": 0}

    # the cap itself is exercised when the pre-collapse is bypassed: the
    # raw 1000-copy group lands in one bucket per band and is shed
    docs = ingest.load_documents(spark, str(src), "jsonl", "web")
    metrics: dict = {}
    pairs = dedupl.simhash_pairs(docs, 3, max_bucket_rows=50,
                                 metrics=metrics)
    assert metrics["shed_buckets"] >= 1
    assert metrics["shed_rows"] >= 1000
    # candidate volume stays bounded by the cap, not the group size
    assert pairs.count() < 50 * 50 * 4


def test_toast_resume_with_dedup_rederives_same_survivors(spark, tmp_path):
    """Kill after encode with --dedup active: the resumed run re-derives
    the curated frame for verify, which must match what was encoded —
    dedup determinism is what makes the pipeline resumable at all."""
    distinct = [f"resume doc {i} body text {i * 3}" for i in range(20)]
    shared = "identical footer text appearing under both sources"
    a = tmp_path / "w.jsonl"
    a.write_text("\n".join(
        json.dumps({"text": t, "source": "web"}) for t in distinct[:10] + [shared]))
    b = tmp_path / "b.jsonl"
    b.write_text("\n".join(
        json.dumps({"text": t, "source": "books"}) for t in distinct[10:] + [shared]))
    manifest = tmp_path / "pkg2.json"
    manifest.write_text(json.dumps({
        "name": "resume-neardup",
        "resources": [
            {"name": "web", "path": "w.jsonl", "format": "jsonl"},
            {"name": "books", "path": "b.jsonl", "format": "jsonl"},
        ],
    }))
    table = str(tmp_path / "toast_dd_resume")
    with pytest.raises(RuntimeError, match="injected failure"):
        toastlib.toast(spark, table, manifest=str(manifest),
                       dedup="simhash", fail_after="encode")

    result = toastlib.toast(spark, table, manifest=str(manifest), dedup="simhash")
    assert result["stages"]["encode"]["status"] == "skipped"
    assert result["stages"]["verify"]["status"] == "done"
    assert decode.decode_table(spark, table, columns=["doc_id"]).count() == 21


def test_toast_quality_gate_and_sampling(spark, tmp_path):
    """min_words drops short docs before encode; per-source sampling
    keeps a deterministic subset — and a fresh re-run derives the
    IDENTICAL curated corpus (everything is a pure function of content)."""
    manifest = _write_resources(tmp_path)
    # the web resource docs have 5*k words (k=1..3); books lines have 6
    t1 = str(tmp_path / "cur_tbl")
    r1 = toastlib.toast(
        spark, t1, manifest=manifest,
        min_words=6, sample={"web": 0.5}, sample_default=1.0,
    )
    decoded = decode.decode_table(spark, t1)
    assert decoded.filter(F.col("n_tok") < 6).count() == 0, \
        "quality gate must drop short docs"
    per = {r["source"]: r["n"] for r in
           decoded.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # books: every line has 6 words -> all kept (sample_default=1.0)
    assert per["books"] == 40
    # web: only the >=6-word variants survive min_words, then ~half sampled
    assert 0 < per["web"] < 80

    # determinism: a fresh toast into another table derives the same rows
    t2 = str(tmp_path / "cur_tbl2")
    toastlib.toast(spark, t2, manifest=manifest,
                   min_words=6, sample={"web": 0.5}, sample_default=1.0)
    d1 = decode.decode_table(spark, t1).select("doc_id")
    d2 = decode.decode_table(spark, t2).select("doc_id")
    assert d1.exceptAll(d2).count() == 0 and d2.exceptAll(d1).count() == 0
    assert r1["stages"]["verify"]["roundtrip_ok"] is True

    # CLI surface parses the sample spec
    t3 = str(tmp_path / "cur_tbl3")
    rc = cli.main(["toast", "--manifest", manifest, "--table", t3,
                   "--min-words", "6", "--sample", "web=0.5"], spark=spark)
    assert rc == 0
    d3 = decode.decode_table(spark, t3).select("doc_id")
    assert d3.exceptAll(d1).count() == 0 and d1.exceptAll(d3).count() == 0
