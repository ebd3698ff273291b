"""Structured Streaming ingest: multi-batch append-encode with per-batch
lineage, exactly-once replay skip, and watermarked windowed stats."""

import json

import pytest
from pyspark.sql import functions as F

from eggopress import decode, encode, lineage, streaming, verify
from eggopress.pipeline import textstats
from eggopress.tablefmt import Table


def _landing(tmp_path, n_files=3, rows_per_file=40):
    d = tmp_path / "landing"
    d.mkdir()
    for f in range(n_files):
        rows = [
            json.dumps({
                "doc_id": None,
                "text": f"file {f} doc {i} words words {i % 7}",
                "source": f"src{f % 2}",
                "ts": f"2026-01-01T00:{f:02d}:{i % 60:02d}",
            })
            for i in range(rows_per_file)
        ]
        (d / f"batch{f}.jsonl").write_text("\n".join(rows))
    return str(d)


def test_stream_ingest_multi_batch_roundtrip(spark, tmp_path):
    landing = _landing(tmp_path)
    table = str(tmp_path / "stream_tbl")
    q = streaming.stream_ingest(
        spark, landing, table,
        checkpoint=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,  # force one micro-batch per file
    )
    q.awaitTermination()

    decoded = decode.decode_table(spark, table)
    assert decoded.count() == 120
    # streamed result must equal the batch path over the same files
    batch_docs = streaming._normalize(
        spark.read.schema(streaming.DOCS_STREAM_SCHEMA).json(landing), "stream"
    )
    expected = textstats.tokenize(batch_docs, make_ids=False)
    assert verify.roundtrip_ok(expected, decoded)

    # one lineage wave per micro-batch
    runs = {r["run_id"] for r in
            lineage.read(spark, Table(table)).select("run_id").collect()}
    assert len([r for r in runs if r.startswith("stream-")]) == 3
    snap = Table(table).snapshot()
    assert snap["stage"] == "encoded" and snap["mode"] == "append"
    assert snap["totals"]["rows"] == 120


def test_stream_restart_processes_only_new_files(spark, tmp_path):
    landing = _landing(tmp_path, n_files=2)
    table = str(tmp_path / "stream_tbl2")
    ckpt = str(tmp_path / "ckpt2")
    streaming.stream_ingest(spark, landing, table, checkpoint=ckpt).awaitTermination()
    assert decode.decode_table(spark, table).count() == 80

    # new file lands; a restarted query must ingest ONLY it
    import os

    with open(os.path.join(landing, "late.jsonl"), "w") as f:
        f.write("\n".join(json.dumps({
            "doc_id": None, "text": f"late doc {i}", "source": "late",
            "ts": "2026-01-01T01:00:00",
        }) for i in range(10)))
    streaming.stream_ingest(spark, landing, table, checkpoint=ckpt).awaitTermination()
    decoded = decode.decode_table(spark, table)
    assert decoded.count() == 90
    assert decoded.filter(F.col("source") == "late").count() == 10


def test_encode_append_replayed_batch_is_skipped(spark, tmp_path):
    """Exactly-once: re-delivering a batch with an already-recorded run_id
    must not duplicate rows."""
    from eggopress import synth

    table = str(tmp_path / "replay_tbl")
    corpus = synth.corpus_df(spark, 300)
    s1 = encode.encode_append(spark, corpus, table, run_id="stream-00000001")
    assert s1["rows"] == 300
    s2 = encode.encode_append(spark, corpus, table, run_id="stream-00000001")
    assert s2.get("replayed") is True and s2["rows"] == 0
    assert decode.decode_table(spark, table).count() == 300


def test_compaction_after_streaming(spark, tmp_path, capsys):
    """Streaming appends leave one file set per batch; compaction must
    collapse each partition to one file with chunk rows and decoded data
    byte-identical."""
    from eggopress import cli, maintenance

    landing = _landing(tmp_path, n_files=3)
    table = str(tmp_path / "compact_tbl")
    streaming.stream_ingest(
        spark, landing, table,
        checkpoint=str(tmp_path / "ckpt3"), max_files_per_trigger=1,
    ).awaitTermination()

    tbl = Table(table)
    before_files = maintenance.partition_file_counts(tbl)
    assert max(before_files.values()) >= 2, "appends should leave multiple files"
    before_chunks = spark.read.parquet(tbl.data_dir)
    cols = before_chunks.columns
    before_rows = before_chunks.select(cols).collect()

    rc = cli.main(["compact", "--table", table], spark=spark)
    assert rc == 0
    import json as _json

    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["files_after"] < summary["files_before"]

    after_files = maintenance.partition_file_counts(tbl)
    assert all(n == 1 for n in after_files.values())
    after_chunks = spark.read.parquet(tbl.data_dir).select(cols)
    assert after_chunks.exceptAll(spark.createDataFrame(before_rows, after_chunks.schema)).count() == 0
    assert spark.createDataFrame(before_rows, after_chunks.schema).exceptAll(after_chunks).count() == 0
    assert decode.decode_table(spark, table).count() == 120
    # compaction recorded in lineage + snapshot
    comp = lineage.read(spark, tbl).filter(F.col("stage") == "compact")
    assert comp.count() == len([p for p, n in before_files.items() if n >= 2])
    assert "last_compaction" in (tbl.snapshot() or {})


def test_append_retry_after_crash_before_lineage_is_idempotent(spark, tmp_path):
    """The at-least-once window: a batch that crashed AFTER merge-promote
    but BEFORE its lineage row landed gets redelivered whole. Deterministic
    re-encode + deterministic <run_id>-<i>.parquet names + single
    manifest file per batch mean the retry overwrites instead of
    duplicating — rows, snapshot totals, and manifest all stay exact."""
    import os

    import pyarrow.parquet as pq

    from eggopress import synth

    table = str(tmp_path / "crashwin_tbl")
    corpus = synth.corpus_df(spark, 300)
    encode.encode_append(spark, corpus, table, run_id="stream-00000001")
    tbl = Table(table)

    # simulate the crash: erase the batch's lineage rows AND its snapshot
    # run entry (promote + manifest + sidecar already happened; the
    # lineage wave and the snapshot commit both come later in
    # encode_append, so neither exists at this crash point) — the
    # replay-skip must then NOT trigger
    for f in list(os.listdir(tbl.lineage_dir)):
        p = os.path.join(tbl.lineage_dir, f)
        if "stream-00000001" in set(pq.read_table(p, columns=["run_id"])
                                    .column("run_id").to_pylist()):
            os.remove(p)
    meta = os.path.join(tbl.meta_dir, f"v{tbl.current_version()}.metadata.json")
    snap = json.load(open(meta))
    snap["runs"] = [r for r in snap.get("runs", []) if r != "stream-00000001"]
    json.dump(snap, open(meta, "w"))

    s2 = encode.encode_append(spark, corpus, table, run_id="stream-00000001")
    assert s2.get("replayed") is None and s2["rows"] == 300
    assert decode.decode_table(spark, table).count() == 300
    snap = tbl.snapshot()
    assert snap["totals"]["rows"] == 300, "totals must not double-count"
    man = spark.read.parquet(tbl.manifest_dir)
    assert man.count() == man.dropDuplicates(["partition_id", "chunk_id", "column"]).count()


def test_time_travel_reads_each_batch_snapshot(spark, tmp_path):
    """Append tables keep earlier batches' files, so every committed
    snapshot stays readable: decode(version=N) returns exactly the rows
    present when vN committed."""
    landing = _landing(tmp_path, n_files=3)
    table = str(tmp_path / "tt_tbl")
    streaming.stream_ingest(
        spark, landing, table,
        checkpoint=str(tmp_path / "ckpt_tt"), max_files_per_trigger=1,
    ).awaitTermination()

    tbl = Table(table)
    assert tbl.current_version() >= 3
    # encoded snapshots, oldest-first; each adds one 40-doc batch
    import json as _json
    import os

    versions = []
    for f in sorted(os.listdir(tbl.meta_dir)):
        if f.endswith(".metadata.json"):
            snap = _json.load(open(os.path.join(tbl.meta_dir, f)))
            if snap.get("stage") == "encoded":
                versions.append(snap["version"])
    counts = [decode.decode_table(spark, table, version=v).count()
              for v in sorted(versions)]
    assert counts == [40, 80, 120]

    # compaction rewrites files: pre-compact versions that listed a
    # rewritten partition become unreadable LOUDLY while the current read
    # still works. The latest pre-compact version lists every partition
    # (including whichever fat one gets rewritten), so it must raise —
    # earlier versions may survive depending on file->batch order.
    from eggopress import maintenance

    latest_pre_compact = max(versions)
    assert maintenance.compact_table(spark, table)["compacted_partitions"] >= 1
    assert decode.decode_table(spark, table).count() == 120
    with pytest.raises(Exception, match="no longer exists"):
        decode.decode_table(spark, table, version=latest_pre_compact).count()


def _encoded_versions(tbl):
    import json as _json
    import os

    out = []
    for f in sorted(os.listdir(tbl.meta_dir)):
        if f.endswith(".metadata.json"):
            snap = _json.load(open(os.path.join(tbl.meta_dir, f)))
            if snap.get("stage") == "encoded":
                out.append(snap["version"])
    return sorted(out)


def test_decode_changes_reads_only_new_batches(spark, tmp_path):
    landing = _landing(tmp_path, n_files=3)
    table = str(tmp_path / "chg_tbl")
    streaming.stream_ingest(
        spark, landing, table,
        checkpoint=str(tmp_path / "ckpt_chg"), max_files_per_trigger=1,
    ).awaitTermination()
    v1, v2, v3 = _encoded_versions(Table(table))
    assert decode.decode_changes(spark, table, since_version=v1).count() == 80
    assert decode.decode_changes(spark, table, since_version=v2, version=v3).count() == 40
    assert decode.decode_changes(spark, table, since_version=v3).count() == 0

    # projected incremental read: schema honors columns=, including on
    # the empty no-change frame
    proj = decode.decode_changes(spark, table, since_version=v1,
                                 columns=["doc_id", "n_tok"])
    assert proj.columns == ["doc_id", "n_tok"] and proj.count() == 80

    # CLI surface: changes --since-version writes the incremental slice
    from eggopress import cli

    out = str(tmp_path / "chg_out")
    rc = cli.main(["changes", "--table", table, "--since-version", str(v1),
                   "--columns", "doc_id,n_tok", "--output", out], spark=spark)
    assert rc == 0
    assert spark.read.parquet(out).count() == 80
    empty = decode.decode_changes(spark, table, since_version=v3,
                                  columns=["doc_id"])
    assert empty.columns == ["doc_id"] and empty.count() == 0

    # a new batch after a ROLLBACK of the last one: changes-since must
    # work even though the since-side listing names retired files
    from eggopress import maintenance

    maintenance.rollback_table(spark, table, v2)
    assert decode.decode_changes(spark, table, since_version=v3).count() == 0
    assert decode.decode_changes(spark, table, since_version=v1).count() == 40


def test_rollback_restores_snapshot_and_stays_healthy(spark, tmp_path, capsys):
    import json as _json

    from eggopress import cli, maintenance

    landing = _landing(tmp_path, n_files=3)
    table = str(tmp_path / "rbk_tbl")
    streaming.stream_ingest(
        spark, landing, table,
        checkpoint=str(tmp_path / "ckpt_rbk"), max_files_per_trigger=1,
    ).awaitTermination()
    tbl = Table(table)
    v1, v2, v3 = _encoded_versions(tbl)
    assert decode.decode_table(spark, table).count() == 120

    out = maintenance.rollback_table(spark, table, v2)
    assert out["retired_files"] > 0
    assert decode.decode_table(spark, table).count() == 80, \
        "default reads must see the rolled-back state"
    # integrity holds after rollback (retired manifests went aside too)
    rc = cli.main(["describe", "--table", table], spark=spark)
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and report["healthy"] is True and report["rows"] == 80
    # retired batch recoverable on disk
    import os

    retired = [e for e in os.listdir(table) if e.startswith("_retired_rollback-")]
    assert retired

    with pytest.raises(ValueError, match="not before current"):
        maintenance.rollback_table(spark, table, tbl.current_version())


def test_describe_detects_orphans_and_health(spark, tmp_path, capsys):
    """describe must pass on an intact table and flag a data chunk whose
    manifest rows are missing (integrity check, exit code 1)."""
    import json as _json
    import os

    from eggopress import cli, synth

    table = str(tmp_path / "desc_tbl")
    encode.encode_append(spark, synth.corpus_df(spark, 500), table,
                         run_id="stream-00000001")
    rc = cli.main(["describe", "--table", table], spark=spark)
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["healthy"] is True
    assert out["rows"] == 500 and out["checks"]["snapshot_rows_match_data"]
    assert out["compression_x"] > 1

    # break it: remove the batch's manifest file -> orphan data chunks
    tbl = Table(table)
    for f in os.listdir(tbl.manifest_dir):
        if f.startswith("append-stream-00000001"):
            os.remove(os.path.join(tbl.manifest_dir, f))
    # manifest dir now empty -> read needs at least one file; re-add a
    # different batch's manifest so the reader has a schema
    encode.encode_append(spark, synth.corpus_df(spark, 100, seed=9), table,
                         run_id="stream-00000002")
    rc = cli.main(["describe", "--table", table], spark=spark)
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and out["healthy"] is False
    assert out["checks"]["data_chunks_without_manifest"] > 0


def test_history_and_vacuum(spark, tmp_path, capsys):
    import json as _json
    import os

    from eggopress import cli, maintenance

    landing = _landing(tmp_path, n_files=3)
    table = str(tmp_path / "hv_tbl")
    streaming.stream_ingest(
        spark, landing, table,
        checkpoint=str(tmp_path / "ckpt_hv"), max_files_per_trigger=1,
    ).awaitTermination()
    tbl = Table(table)

    hist = maintenance.snapshot_history(table)
    assert [h["version"] for h in hist] == list(range(1, len(hist) + 1))
    assert hist[-1]["rows"] == 120 and hist[-1]["mode"] == "append"

    # rollback leaves a retired dir; vacuum reclaims it + expires history
    v2 = [h["version"] for h in hist if h["stage"] == "encoded"][1]
    maintenance.rollback_table(spark, table, v2)
    assert any(e.startswith("_retired_") for e in os.listdir(table))
    rc = cli.main(["vacuum", "--table", table, "--keep-snapshots", "2"], spark=spark)
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["retired_dirs_removed"] >= 1 and out["bytes_freed"] > 0
    assert not any(e.startswith("_retired_") for e in os.listdir(table))
    # expired snapshots gone, current + keep window intact, reads fine
    kept = [h["version"] for h in maintenance.snapshot_history(table)]
    assert max(kept) == tbl.current_version() and len(kept) == 2
    assert decode.decode_table(spark, table).count() == 80


def test_stream_stats_windowed_watermark(spark, tmp_path):
    landing = _landing(tmp_path, n_files=3)
    out = streaming.stream_stats(spark, landing, window="1 minute")
    q = (
        out.writeStream.format("memory").queryName("agg_stream")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM agg_stream").collect()
    # 3 files at minutes 0,1,2 x one source each (src0/src1 alternating)
    got = {(r["window_start"].minute, r["source"]): r["n_docs"] for r in rows}
    assert got == {(0, "src0"): 40, (1, "src1"): 40, (2, "src0"): 40}


def test_stream_dedup_across_batches(spark, tmp_path):
    """Identical docs arriving in DIFFERENT micro-batches must land once
    with dedup_across_batches=True (content-addressed ids + anti-join
    against the table's decoded doc_id stream), and the whole-batch
    replay skip must stay intact on restart."""
    d = tmp_path / "landing"
    d.mkdir()
    # file f carries rows f*20 .. f*20+29: consecutive files overlap by 10
    for f in range(3):
        rows = [
            json.dumps({
                "doc_id": None,
                "text": f"shared doc {i} payload {i % 5}",
                "source": "src0",
                "ts": f"2026-01-01T00:{f:02d}:{i % 60:02d}",
            })
            for i in range(f * 20, f * 20 + 30)
        ]
        (d / f"batch{f}.jsonl").write_text("\n".join(rows))
    table = str(tmp_path / "dedup_tbl")
    q = streaming.stream_ingest(
        spark, str(d), table,
        checkpoint=str(tmp_path / "ckpt_dd"),
        max_files_per_trigger=1,
        dedup_across_batches=True,
    )
    q.awaitTermination()

    decoded = decode.decode_table(spark, table, columns=["doc_id"])
    assert decoded.count() == 70  # 90 arrivals, 70 distinct
    assert decoded.distinct().count() == 70

    # restart with no new files: nothing re-lands
    q2 = streaming.stream_ingest(
        spark, str(d), table,
        checkpoint=str(tmp_path / "ckpt_dd"),
        dedup_across_batches=True,
    )
    q2.awaitTermination()
    assert decode.decode_table(spark, table, columns=["doc_id"]).count() == 70

    # contrast: without the flag the cross-batch copies DO land twice
    table2 = str(tmp_path / "dup_tbl")
    q3 = streaming.stream_ingest(
        spark, str(d), table2,
        checkpoint=str(tmp_path / "ckpt_nd"),
        max_files_per_trigger=1,
    )
    q3.awaitTermination()
    assert decode.decode_table(spark, table2, columns=["doc_id"]).count() == 90


def test_seen_doc_ids_excludes_named_run(spark, tmp_path):
    """The dedup seen-set must be able to blind itself to one run's
    files — the crashed-replay determinism lever."""
    table = str(tmp_path / "seen_tbl")
    a = streaming._normalize(
        spark.createDataFrame(
            [(None, f"alpha {i}", "src0", None) for i in range(10)],
            streaming.DOCS_STREAM_SCHEMA,
        ), None)
    b = streaming._normalize(
        spark.createDataFrame(
            [(None, f"beta {i}", "src0", None) for i in range(10)],
            streaming.DOCS_STREAM_SCHEMA,
        ), None)
    encode.encode_append(spark, textstats.tokenize(a, make_ids=False), table, run_id="runA")
    encode.encode_append(spark, textstats.tokenize(b, make_ids=False), table, run_id="runB")

    assert decode.seen_doc_ids(spark, table).count() == 20
    only_b = decode.seen_doc_ids(spark, table, exclude_run="runA")
    assert only_b.count() == 10
    a_ids = {r["doc_id"] for r in textstats.tokenize(a, make_ids=False).select("doc_id").collect()}
    assert not a_ids & {r["doc_id"] for r in only_b.collect()}


def test_seen_doc_ids_reads_sidecars_not_blobs(spark, tmp_path):
    """Scale contract: on an append table the cross-batch seen-set must be
    served from the per-run doc_id sidecars (skinny parquet under
    index/docids/), never by blob-decoding chunk files — the previous
    O(table)-per-micro-batch scan made a long-lived stream quadratic."""
    from eggopress import synth

    table = str(tmp_path / "sidecar_tbl")
    encode.encode_append(spark, synth.corpus_df(spark, 200), table,
                         run_id="stream-00000000")
    encode.encode_append(spark, synth.corpus_df(spark, 200, seed=9), table,
                         run_id="stream-00000001")

    seen = decode.seen_doc_ids(spark, table)
    files = seen.inputFiles()
    assert files and all("index/docids/" in f for f in files), files
    assert not any("/data/" in f for f in files)
    assert seen.count() == 400

    excl = decode.seen_doc_ids(spark, table, exclude_run="stream-00000000")
    assert excl.count() == 200
    assert all("append-stream-00000001" in f for f in excl.inputFiles())

    # replay of a batch overwrites its sidecar (stays idempotent)
    snap_runs = Table(table).snapshot()["runs"]
    assert snap_runs == ["stream-00000000", "stream-00000001"]

    # a table with a missing sidecar degrades to the decode path, not to
    # silent under-reporting
    import shutil

    shutil.rmtree(Table(table).docid_sidecar_dir("stream-00000000"))
    fallback = decode.seen_doc_ids(spark, table)
    assert fallback.count() == 400
    assert any("/data/" in f for f in fallback.inputFiles())


def test_stream_neardup_drops_paraphrased_redelivery(spark, tmp_path):
    """Incremental near-dup index: a batch-2 document that is a
    PARAPHRASE of a batch-1 document (different doc_id, different text,
    SimHash within hamming<=3) must be dropped by the signature
    band-join — exact-id dedup can't see it. Signatures persist as
    per-run sidecars; snapshot carries sig_runs + sigs_cover_table."""
    from eggopress.pipeline import dedup as dedupl

    # long doc: vote margins grow with word count, so a one-word edit
    # flips only the handful of bits with near-zero margin (hamming 2
    # at this length, measured) — the regime SimHash near-dup targets
    base = ("the quick brown fox jumps over the lazy dog while seventeen "
            "astronauts carefully measure atmospheric pressure near the "
            "ancient lighthouse during a long calm summer evening " * 4
            ).strip()
    b1 = [{"doc_id": f"b1-{i:03d}",
           "text": f"completely unrelated article {i} about topic {i * 13} "
                   f"with body words {i * 7} {i * 11}",
           "source": "web"} for i in range(12)]
    b1.append({"doc_id": "b1-base", "text": base, "source": "web"})
    # paraphrase: one word changed -> few simhash bits flip
    para = base.replace("calm", "quiet", 1)
    b2 = [{"doc_id": f"b2-{i:03d}",
           "text": f"fresh batch two article {i} body {i * 17} {i * 19}",
           "source": "web"} for i in range(8)]
    b2.append({"doc_id": "b2-para", "text": para, "source": "web"})
    b2.append({"doc_id": "b2-exactcopy", "text": base, "source": "web"})

    # the planted pair really is within the hamming ball (guards the
    # fixture, not the operator)
    sig_df = lambda rows: dedupl.simhash(spark.createDataFrame(
        [(r["doc_id"], r["text"], r["source"]) for r in rows],
        "doc_id string, text string, source string"))
    expected_drop = {
        r["doc_id"] for r in dedupl.simhash_near_matches(
            sig_df(b2), sig_df(b1)).collect()
    }
    assert "b2-para" in expected_drop and "b2-exactcopy" in expected_drop

    landing = tmp_path / "nd_landing"
    landing.mkdir()
    (landing / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in b1))
    table = str(tmp_path / "nd_tbl")
    ckpt = str(tmp_path / "nd_ckpt")
    streaming.stream_ingest(
        spark, str(landing), table, checkpoint=ckpt,
        neardup="simhash").awaitTermination()
    tbl = Table(table)
    snap = tbl.snapshot()
    assert snap["sigs_cover_table"] is True
    assert snap["sig_runs"] == snap["runs"]
    sigs = decode.seen_signatures(spark, table)
    assert sigs.count() == 13

    (landing / "b2.jsonl").write_text("\n".join(json.dumps(r) for r in b2))
    streaming.stream_ingest(
        spark, str(landing), table, checkpoint=ckpt,
        neardup="simhash").awaitTermination()

    got = {r["doc_id"] for r in decode.decode_table(
        spark, table, columns=["doc_id"]).collect()}
    want = ({r["doc_id"] for r in b1}
            | {r["doc_id"] for r in b2} - expected_drop)
    assert got == want
    # dropped docs contribute no signature either
    assert decode.seen_signatures(spark, table).count() == len(want)

    # enabling neardup on a table whose history lacks signatures raises
    table2 = str(tmp_path / "nosig_tbl")
    streaming.stream_ingest(
        spark, str(landing), table2,
        checkpoint=str(tmp_path / "ck2")).awaitTermination()
    with pytest.raises(Exception, match="sigs_cover_table"):
        q = streaming.stream_ingest(
            spark, str(landing), table2,
            checkpoint=str(tmp_path / "ck3"), neardup="simhash")
        q.awaitTermination()


def test_sig_sidecars_survive_compaction_and_rollback(spark, tmp_path):
    """Compaction folds signature sidecars into one merged dir (seen
    listing stays O(runs since last compaction)); rollback retires the
    signatures of rolled-back runs so they stop shadowing re-ingests."""
    from eggopress import maintenance
    from eggopress.pipeline import dedup as dedupl
    from eggopress.pipeline import textstats as ts

    table = str(tmp_path / "sigc_tbl")

    def append(run, rows):
        docs = spark.createDataFrame(
            rows, "doc_id string, text string, source string")
        sig = dedupl.simhash(docs).select("doc_id", "simhash")
        encode.encode_append(spark, ts.tokenize(docs, make_ids=False),
                             table, run_id=run, signatures=sig)

    for b in range(3):
        append(f"r{b}", [(f"r{b}-{i}", f"batch {b} doc {i} text {i * 7}",
                          "web") for i in range(10)])
    assert decode.seen_signatures(spark, table).count() == 30

    v_before = Table(table).current_version()
    maintenance.compact_table(spark, table, min_files=2)
    snap = Table(table).snapshot()
    assert (snap.get("sig_merged") or {}).get("runs") == ["r0", "r1", "r2"]
    sigs = decode.seen_signatures(spark, table)
    assert sigs.count() == 30
    assert all("merged-" in f for f in sigs.inputFiles())

    append("r3", [(f"r3-{i}", f"batch 3 doc {i} text {i * 7}", "web")
                  for i in range(10)])
    assert decode.seen_signatures(spark, table).count() == 40

    # roll back past the r3 append: its signatures must go aside
    post_compact = Table(table).current_version() - 1
    maintenance.rollback_table(spark, table, version=post_compact)
    assert decode.seen_signatures(spark, table).count() == 30
    assert v_before  # silence lint; version progression sanity
    import os as _os

    assert not _os.path.isdir(Table(table).sig_sidecar_dir("r3"))


def test_seen_doc_ids_mixed_history_covers_batch_docs(spark, tmp_path):
    """A table FIRST built by encode_table (batch docs get no sidecars)
    then appended to must NOT take the sidecar fast path: the append
    runs' sidecars don't cover the batch docs, so the fast path would
    silently drop them from the seen-set and cross-batch dedup would
    re-ingest them as duplicates. Coverage is proven by the
    sidecars_cover_table snapshot marker, which only an unbroken
    append-only history carries."""
    from eggopress import synth

    table = str(tmp_path / "mixed_tbl")
    batch = synth.corpus_df(spark, 50)
    encode.encode_table(spark, batch, table, n_partitions=2)
    assert not (Table(table).snapshot() or {}).get("sidecars_cover_table")

    encode.encode_append(spark, synth.corpus_df(spark, 50, seed=9), table,
                         run_id="runX")
    snap = Table(table).snapshot()
    assert snap["runs"] == ["runX"]
    assert snap["sidecars_cover_table"] is False

    seen = decode.seen_doc_ids(spark, table)
    assert seen.count() == 100  # batch docs included
    assert any("/data/" in f for f in seen.inputFiles())  # decode path

    # pure-append history: the marker is True and survives further appends
    table2 = str(tmp_path / "pure_tbl")
    encode.encode_append(spark, synth.corpus_df(spark, 30), table2,
                         run_id="runA")
    encode.encode_append(spark, synth.corpus_df(spark, 30, seed=9), table2,
                         run_id="runB")
    assert Table(table2).snapshot()["sidecars_cover_table"] is True
    assert all("index/docids/" in f
               for f in decode.seen_doc_ids(spark, table2).inputFiles())


def test_rollback_after_compaction_keeps_manifests(spark, tmp_path):
    """Rolling back to a POST-compaction version must keep the original
    append batches' manifest files: the compacted data files carry the
    compaction run's names, but their chunk rows still belong to those
    manifests. (The old name-prefix heuristic retired them all.)"""
    from eggopress import maintenance

    landing = _landing(tmp_path, n_files=3)
    table = str(tmp_path / "rbc_tbl")
    streaming.stream_ingest(
        spark, landing, table,
        checkpoint=str(tmp_path / "ckpt_rbc"), max_files_per_trigger=1,
    ).awaitTermination()
    tbl = Table(table)
    maintenance.compact_table(spark, table)
    v_post_compact = tbl.current_version()

    # one more batch after the compaction, then roll it back
    import os

    with open(os.path.join(landing, "extra.jsonl"), "w") as f:
        f.write("\n".join(json.dumps({
            "doc_id": None, "text": f"extra doc {i}", "source": "late",
            "ts": "2026-01-01T02:00:00"}) for i in range(10)))
    streaming.stream_ingest(
        spark, landing, table,
        checkpoint=str(tmp_path / "ckpt_rbc"), max_files_per_trigger=1,
    ).awaitTermination()
    assert decode.decode_table(spark, table).count() == 130

    maintenance.rollback_table(spark, table, v_post_compact)
    assert decode.decode_table(spark, table).count() == 120
    # all three original append manifests survived the rollback
    manifests = tbl.manifest_file_listing()
    assert sorted(m for m in manifests if m.startswith("append-stream-000000")) == [
        f"append-stream-{b:08d}.parquet" for b in range(3)
    ]
    report = maintenance.table_report(spark, table)
    assert report["healthy"] is True and report["rows"] == 120
    # the rolled-back batch's sidecar went aside with it: its docs are no
    # longer "seen", so a re-ingest would land them again
    assert decode.seen_doc_ids(spark, table).count() == 120


def test_refused_rollback_moves_nothing(spark, tmp_path):
    """A rollback the target snapshot cannot support is refused before
    any file moves: the table keeps every file and decodes every row."""
    import json as _json
    import os

    from eggopress import maintenance, synth

    table = str(tmp_path / "refuse_tbl")
    for seed in (1, 2):
        encode.encode_append(spark, synth.corpus_df(spark, 200, seed=seed),
                             table, run_id=f"run{seed}")
    maintenance.compact_table(spark, table)
    tbl = Table(table)
    target = tbl.current_version()
    encode.encode_append(spark, synth.corpus_df(spark, 200, seed=3), table,
                         run_id="run3")
    # a target snapshot without its manifest listing cannot be restored
    meta = os.path.join(tbl.meta_dir, f"v{target}.metadata.json")
    with open(meta) as f:
        snap = _json.load(f)
    del snap["manifest_files"]
    with open(meta, "w") as f:
        _json.dump(snap, f)

    def listing():
        return sorted(os.path.relpath(os.path.join(d, f), table)
                      for d, _, fs in os.walk(table) for f in fs)

    assert decode.decode_table(spark, table).count() == 600
    before = listing()
    with pytest.raises(ValueError, match="manifest listing"):
        maintenance.rollback_table(spark, table, target)
    assert listing() == before
    assert decode.decode_table(spark, table).count() == 600


def test_append_chunk_ids_unique_across_many_stream_batches(spark):
    """The stream chunk-id namespace is the batch id itself — consecutive
    batches can never collide (the md5-hash namespace collided with ~50%
    probability by ~180 batches)."""
    from eggopress.encode import _append_chunk_base

    bases = [_append_chunk_base(f"stream-{b:08d}")[0] for b in range(2000)]
    assert len(set(bases)) == 2000
    base, shift = _append_chunk_base("stream-00000007")
    assert shift == 15 and base == (1 << 62) | (7 << 30)
    # ad-hoc run ids keep a hash namespace clear of the stream marker bit
    ahbase, ahshift = _append_chunk_base("runA")
    assert ahshift == 32 and ahbase < (1 << 62) and (ahbase & ((1 << 48) - 1)) == 0


def test_compaction_merges_docid_sidecars(spark, tmp_path):
    """Compaction folds per-run doc_id sidecars into ONE merged dir so
    the seen-set listing stays O(runs since last compaction) instead of
    O(stream lifetime); coverage, dedup, a later append, and rollback
    all stay correct around the merge."""
    import os

    from eggopress import maintenance

    landing = _landing(tmp_path, n_files=3)
    table = str(tmp_path / "smg_tbl")
    streaming.stream_ingest(
        spark, landing, table,
        checkpoint=str(tmp_path / "ckpt_smg"), max_files_per_trigger=1,
        dedup_across_batches=True,
    ).awaitTermination()
    tbl = Table(table)
    assert len(os.listdir(tbl.docid_index_dir)) == 3

    maintenance.compact_table(spark, table)
    v_post = tbl.current_version()
    entries = os.listdir(tbl.docid_index_dir)
    assert len(entries) == 1 and entries[0].startswith("merged-"), entries
    snap = tbl.snapshot()
    assert sorted(snap["docid_merged"]["runs"]) == snap["runs"]

    seen = decode.seen_doc_ids(spark, table)
    assert seen.count() == 120
    assert all("merged-" in f for f in seen.inputFiles())

    # a new batch after the merge: seen set = merged dir + one fresh dir,
    # and cross-batch dedup still drops a redelivered copy
    with open(os.path.join(landing, "extra.jsonl"), "w") as f:
        rows = [json.dumps({"doc_id": None, "text": f"file 0 doc {i} words words {i % 7}",
                            "source": "src0", "ts": "2026-01-01T03:00:00"})
                for i in range(5)]  # duplicates of batch 0's first 5 docs
        rows.append(json.dumps({"doc_id": None, "text": "genuinely new doc",
                                "source": "src0", "ts": "2026-01-01T03:00:00"}))
        f.write("\n".join(rows))
    streaming.stream_ingest(
        spark, landing, table,
        checkpoint=str(tmp_path / "ckpt_smg"), max_files_per_trigger=1,
        dedup_across_batches=True,
    ).awaitTermination()
    assert decode.decode_table(spark, table).count() == 121, \
        "only the genuinely new doc may land after the merge"
    seen2 = decode.seen_doc_ids(spark, table)
    files2 = seen2.inputFiles()
    assert seen2.count() == 121
    assert any("merged-" in f for f in files2) and any("append-stream" in f for f in files2)

    # rollback to the post-compaction version keeps the merged dir and
    # un-sees the rolled-back batch's docs
    maintenance.rollback_table(spark, table, v_post)
    assert decode.decode_table(spark, table).count() == 120
    assert decode.seen_doc_ids(spark, table).count() == 120
    report = maintenance.table_report(spark, table)
    assert report["healthy"] is True
