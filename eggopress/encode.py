"""The corpus write path. Every writer of a corpus table runs the same
steps: plan -> stage -> manifest -> promote -> lineage -> commit.

- plan (`_plan`): one groupBy gives per-source row and token counts; the
  partition count follows from them and `plan_salts` splits it across
  sources by row share (the skew policy).
- stage (`_stage`): salt, repartitionByRange on (source, salt), sort,
  then ONE mapInArrow job whose tasks encode the chunks, write their
  files to staging (`_write_chunks`, which compaction uses too) and
  return a small stats row per chunk to one collect.
- then, from those rows: the manifest, the promote of exactly the listed
  files, one lineage row per planned partition and the snapshot.

`encode_table` (batch: resumable, retried, optionally in waves) and
`encode_append` (one streaming micro-batch, replayed whole or not at
all) differ only where an append means something else: its manifest is
one append-<run_id>.parquet (a batch: <run_id>-w<wave>.parquet) that a
replay overwrites; its promote merges files into the partition dirs;
its chunk ids are namespaced per run; and it writes doc_id / signature
sidecars before its lineage rows.

Engine analog of eggo's toast pipeline (datasets/dbsnp/toast.sh; SURVEY.md
§3.2): the DISTRIBUTE BY derived-key shuffle (toast.sh:53) becomes
repartitionByRange on (source, salt), the spec's sample-hash skew
sub-partitioning (docs/spec.md:99-101) becomes explicit salting, and the
per-stage Parquet materialization becomes the lineage checkpoint table.
"""

from __future__ import annotations

import math
import os
import re
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from eggopress import chunk as chunklib
from eggopress import conf, lineage as lineagelib
from eggopress.schema import (CHUNK_ARROW_SCHEMA, CORPUS_ARROW_SCHEMA,
                              CORPUS_FORMAT, MANIFEST_SCHEMA)
from eggopress.tablefmt import Table


def _sort_keys(cluster: bool) -> list:
    """In-partition sort keys ahead of chunking.

    cluster=True — content clustering: docs sort by a cheap content
    signature (first token, then length) so similar docs land in the same
    chunk — dict/RLE/FOR locality is worth ~11% encoded size on the
    synthetic mix (60.0 MB vs 67.4 MB at the 60k-doc bench) at no extra
    shuffle; doc_id last keeps the order (and therefore chunking + codec
    choice) deterministic. Trade-offs: (a) chunk n_tok min/max stats
    widen, so n_tok-predicate chunk skipping prunes less than a pure-
    n_tok sort would; (b) the comparator costs encode throughput
    (measured r2->r3: suite encode 2.99M -> 2.20M tok/s at 60k docs) —
    both arms are published side by side in the bench
    (corpus_encode vs corpus_encode_nocluster). The 100 TB default
    favors the always-on ratio win: encode cost is paid once, the size
    win is paid on every scan/transfer forever after. Measured
    alternatives (200k-doc bench, identical input): deeper prefixes
    (tokens[0..1], tokens[0..2]) and full lexicographic token-array sort
    all encode 3-6% LARGER (they scramble the n_tok sub-sort that the
    length stream's FOR codec rides on) and the full-array comparator
    costs ~30% throughput.

    cluster=False — arrival clustering only: sort by doc_id within the
    partition keys. Still fully deterministic; maximum encode throughput.
    """
    if cluster:
        return ["source", "salt", F.expr("tokens[0]"), "n_tok", "doc_id"]
    return ["source", "salt", "doc_id"]


def plan_salts(source_counts: dict[str, int], n_partitions: int) -> dict[str, int]:
    """Salt count per source, proportional to its row share (min 1).

    This is the skew policy: a source holding 70% of rows gets ~70% of the
    partitions, so no single reducer owns the hot source.
    """
    total = sum(source_counts.values()) or 1
    # floor(x + 0.5), not Python round(): banker's rounding would diverge
    # from the documented (and oracle-pinned) half-up policy on .5 ties
    return {
        s: max(1, int(math.floor(n_partitions * c / total + 0.5)))
        for s, c in sorted(source_counts.items())
    }


def partition_ids(salts: dict[str, int]) -> list[str]:
    return [f"source={s}/salt={k}" for s, n in sorted(salts.items()) for k in range(n)]


def _salt_expr(salts: dict[str, int]):
    mapping = F.create_map(*[F.lit(x) for kv in salts.items() for x in kv])
    n = mapping[F.col("source")]
    # a source absent from the plan would otherwise become a NULL salt and
    # die deep in the Arrow worker as 'cannot convert float NaN to integer'
    return (
        F.when(
            n.isNull(),
            F.raise_error(
                F.concat(F.lit("encode: source missing from salt plan: "), F.col("source"))
            ).cast("int"),
        )
        .otherwise(F.pmod(F.xxhash64("doc_id"), n))
        .cast("int")
    )


# Spark's partition-directory escaping (ExternalCatalogUtils): task-side
# writes lay out source=<s> dirs as Spark's partitionBy writer did
_PATH_ESCAPE = re.compile(r'[\x00-\x1f"#%\'*/:=?\\\x7f{\[\]^]')
_PART_COLS = ("source", "salt")  # corpus partition dirs, not stored in the files
_FILE_SCHEMA = pa.schema([f for f in CHUNK_ARROW_SCHEMA if f.name not in _PART_COLS])


def _staged_schema(file_schema: pa.Schema) -> pa.Schema:
    """A write task's row per chunk: its stats columns and staged file."""
    return pa.schema([f for f in file_schema if not f.name.endswith("_blob")]
                     + [pa.field("file", pa.string(), False)])


_STAGED_SCHEMA = from_arrow_schema(_staged_schema(_FILE_SCHEMA))


def _write_chunks(staging: str, chunk_batches, file_schema: pa.Schema,
                  part_cols: tuple[str, ...] = (), row_group_bytes: int = 0):
    """The task-side chunk-file writer of every table write: each chunk row
    goes to its partition dir's staging file (<col>=<value>/ per part_cols;
    the staging root if none), named by task, stage and attempt so no
    attempt overwrites another's. A file closes a row group at
    row_group_bytes of buffered chunks (the corpus's 0: one per chunk, so
    footer min/max prune per chunk). Yields one _staged_schema row per chunk."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    name = f"part-{tc.partitionId():05d}-s{tc.stageId()}-a{tc.attemptNumber()}.parquet"
    staged_schema = _staged_schema(file_schema)
    stat_cols = staged_schema.names[:-1]
    writers: dict[str, pq.ParquetWriter] = {}
    pending: dict[str, list[pa.RecordBatch]] = {}
    try:
        for chunks in chunk_batches:
            files = []
            for i in range(chunks.num_rows):
                chunk = chunks.slice(i, 1)
                rel = os.path.join(*(
                    f"{c}=" + _PATH_ESCAPE.sub(lambda m: f"%{ord(m.group()):02X}",
                                               str(chunk[c][0].as_py()))
                    for c in part_cols), name)
                if rel not in writers:
                    os.makedirs(os.path.dirname(os.path.join(staging, rel)), exist_ok=True)
                    # Spark's zstd level; no dictionary and no footer
                    # min/max copies for the blobs, statistics kept on the
                    # stats columns so predicates still prune row groups
                    writers[rel] = pq.ParquetWriter(
                        os.path.join(staging, rel), file_schema,
                        compression=conf.DATA_CODEC, compression_level=3,
                        use_dictionary=stat_cols, write_statistics=stat_cols,
                        store_schema=False)
                pending.setdefault(rel, []).append(
                    chunk.select(file_schema.names).cast(file_schema))
                if sum(b.nbytes for b in pending[rel]) >= row_group_bytes:
                    writers[rel].write_table(pa.Table.from_batches(pending.pop(rel)))
                files.append(rel)
            yield chunks.select(stat_cols).append_column(
                "file", pa.array(files, pa.string())).cast(staged_schema)
        for rel, rows in pending.items():
            writers[rel].write_table(pa.Table.from_batches(rows))
    finally:
        for w in writers.values():
            w.close()


def _encode_fn(staging: str, fail_partitions: frozenset[str],
               fail_until_attempt: dict[str, int],
               attempts: dict[str, int],
               chunk_base: int, task_shift: int):
    """mapInArrow worker: split each sorted batch at (source,salt) group
    boundaries, encode each slice as one chunk, write it (_write_chunks).

    fail_partitions always fail (resume tests); fail_until_attempt[pid]=k
    fails while the current attempt number is <= k (auto-retry tests).
    chunk_base/task_shift namespace chunk ids per append batch (see
    _append_chunk_base) so ids from different streaming batches landing
    in the same partition never collide; batch encodes keep base 0 /
    shift 32 (their chunk set is replaced wholesale, so
    (task_id << 32) | seq is already unique). Narrow shifts get explicit
    overflow guards: a silent wrap would alias another task's ids and
    corrupt the (partition_id, chunk_id, column) manifest key.
    """

    def encode(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        task_id = tc.partitionId() if tc else 0
        seq = 0
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            src = np.asarray(batch.column("source").to_numpy(zero_copy_only=False))
            salt = batch.column("salt").to_numpy(zero_copy_only=False)
            key_change = np.flatnonzero(
                (src[1:] != src[:-1]) | (salt[1:] != salt[:-1])
            ) + 1
            starts = np.concatenate(([0], key_change, [n]))
            corpus_cols = [batch.column(c) for c in ("doc_id", "tokens", "n_tok", "source")]
            corpus_batch = pa.RecordBatch.from_arrays(
                [c.cast(f.type) for c, f in zip(corpus_cols, CORPUS_ARROW_SCHEMA)],
                schema=CORPUS_ARROW_SCHEMA,
            )
            rows = []
            for i in range(len(starts) - 1):
                s, e = int(starts[i]), int(starts[i + 1])
                source, k = str(src[s]), int(salt[s])
                pid = f"source={source}/salt={k}"
                if pid in fail_partitions:
                    raise RuntimeError(f"injected failure for {pid}")
                if attempts.get(pid, 0) + 1 <= fail_until_attempt.get(pid, 0):
                    raise RuntimeError(f"injected transient failure for {pid}")
                if task_shift < 32 and (seq >= (1 << task_shift)
                                        or task_id >= (1 << task_shift)):
                    raise RuntimeError(
                        f"chunk id field overflow (task={task_id}, seq={seq}, "
                        f"shift={task_shift}); widen the append id layout"
                    )
                rows.append(
                    chunklib.encode_batch(
                        corpus_batch.slice(s, e - s),
                        pid,
                        source,
                        k,
                        chunk_base | (task_id << task_shift) | seq,
                    )
                )
                seq += 1
            yield pa.RecordBatch.from_pylist(rows, schema=CHUNK_ARROW_SCHEMA)

    return lambda batches: _write_chunks(staging, encode(batches), _FILE_SCHEMA, _PART_COLS)


def _totals(chunks: list[dict]) -> dict:
    """Summary totals of one run's staged chunk rows."""
    return {"chunks": len(chunks),
            **{k: sum(c[f] for c in chunks) for k, f in (
                ("rows", "n_rows"), ("values", "n_values"),
                ("raw_bytes", "raw_bytes"), ("encoded_bytes", "encoded_bytes"))}}


def _table_state(tbl: Table) -> dict:
    """The snapshot fields for what a corpus table holds on disk: format,
    partitions, chunk and manifest files, and whole-table totals from the
    duplicate-free manifest (so right after a resume or an append replay):
    chunk-level counts from the tokens rows, bytes from all rows."""
    man = pq.read_table(tbl.manifest_dir)
    tok = man.filter(pc.equal(man["column"], "tokens"))
    return {"schema": CORPUS_FORMAT, "partitions": tbl.partition_dirs(),
            "files": tbl.partition_file_listing(),
            "manifest_files": tbl.manifest_file_listing(),
            "totals": {"chunks": tok.num_rows, **{
                k: pc.sum(t[c]).as_py() or 0 for k, c, t in (
                    ("rows", "n_rows", tok), ("values", "n_values", tok),
                    ("raw_bytes", "raw_bytes", tok),
                    ("encoded_bytes", "encoded_bytes", man))}}}


def _phase_clock():
    """(phases, mark): mark(name) adds the time since the previous mark
    to phases[name] — the phase_sec breakdown of one write."""
    phases: dict[str, float] = {}
    last = [time.time()]

    def mark(name: str) -> None:
        now = time.time()
        phases[name] = round(phases.get(name, 0.0) + (now - last[0]), 3)
        last[0] = now

    return phases, mark


def _plan(df: DataFrame, n_partitions: int | None) -> tuple[dict, dict]:
    """(salts, per-source row counts) for one write, from one groupBy.

    Default sizing (n_partitions=None): scale with cores, but never shred
    a small input into sub-chunk partitions (per-chunk overhead would eat
    the ratio). Corpus rows are HEAVY (hundreds of tokens), so the floor
    is value-based as well as row-based: a row-only floor sized the
    bench's 60k-doc / 35M-token corpus at 8 partitions, leaving 3/4 of
    the cores idle through the whole encode stage (optimization guide §2:
    derive partitioning from input size). ~2M token values per partition
    keeps every chunk big enough that the measured ratio cost is <1%
    (37.07 -> 37.38 MB on the bench corpus) while the encode stage
    parallelizes ~2x better.
    """
    rows = df.groupBy("source").agg(
        F.count("*").alias("cnt"), F.sum("n_tok").alias("vals")).collect()
    counts = {r["source"]: int(r["cnt"]) for r in rows}
    if n_partitions is None:
        total_vals = sum(int(r["vals"] or 0) for r in rows)
        n_partitions = min(
            conf.encode_partitions(conf.local_cores()),
            max(1, sum(counts.values()) // conf.CHUNK_ROWS + 1,
                total_vals // conf.values_per_partition() + 1),
        )
    return plan_salts(counts, n_partitions), counts


def _stage(spark: SparkSession, tbl: Table, salted: DataFrame,
           pids: list[str], run_id: str, *, cluster: bool, t0: float,
           mark, attempts: dict[str, int], retries: int = 0,
           fail_partitions: frozenset[str] = frozenset(),
           fail_until_attempt: dict[str, int] | None = None,
           chunk_ids: tuple[int, int] = (0, 32), wave_idx: int = 0) -> list[dict]:
    """Encode the salted rows of `pids` into the run's staging dir.

    Range-partitions on (source, salt), sorts within partitions, encodes
    and writes the chunk files under mapInArrow and collects their
    staged rows (as dicts, returned), re-running the job up to
    `retries` times. Every failed attempt is recorded as a 'failed'
    lineage row and counted in `attempts`."""
    arranged = salted.repartitionByRange(
        max(len(pids), 1), "source", "salt"
    ).sortWithinPartitions(*_sort_keys(cluster))
    staging = tbl.staging_dir(run_id)
    for try_no in range(max(0, retries) + 1):
        enc = arranged.mapInArrow(
            _encode_fn(staging, fail_partitions, fail_until_attempt or {},
                       dict(attempts), *chunk_ids),
            _STAGED_SCHEMA,
        )
        try:
            chunks = enc.collect()
            mark("encode_write")
            break
        except Exception as exc:
            # attribute the failure to the partition named in the task
            # error when parseable; otherwise to a wave marker — never
            # to every healthy partition in the wave (that over-reports
            # their attempt counts and misattributes the failure)
            m = re.search(r"source=[^/\s']+/salt=\d+", str(exc))
            failed_pids = [m.group(0)] if m and m.group(0) in pids \
                else [f"wave:{wave_idx}"]
            now_ms = int((time.time() - t0) * 1000)
            lineagelib.append(spark, tbl, [
                (run_id, pid, "encode", "failed", attempts.get(pid, 0) + 1,
                 None, None, None, None, now_ms)
                for pid in failed_pids
            ])
            for pid in failed_pids:
                attempts[pid] = attempts.get(pid, 0) + 1
            if try_no >= max(0, retries):
                raise
    return [r.asDict() for r in chunks]


def _lineage_rows(run_id: str, chunks: list[dict], pids: list[str],
                  attempts: dict[str, int], t0: float) -> list[tuple]:
    """One 'done' encode lineage row per planned partition, once its files
    are promoted; codec_summary is the sorted distinct token codecs.
    Planned-but-empty partitions count as done (nothing to write)."""
    wall_ms = int((time.time() - t0) * 1000)
    by_pid: dict[str, list[dict]] = {pid: [] for pid in pids}
    for c in chunks:
        by_pid[c["partition_id"]].append(c)
    return [
        (run_id, pid, "encode", "done", attempts.get(pid, 0) + 1,
         ",".join(sorted({c["tokens_codec"] for c in cs})),
         sum(c["raw_bytes"] for c in cs), sum(c["encoded_bytes"] for c in cs),
         sum(c["n_rows"] for c in cs), wall_ms)
        for pid, cs in by_pid.items()
    ]


def encode_table(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    *,
    n_partitions: int | None = None,
    run_id: str | None = None,
    resume: bool = False,
    waves: int = 1,
    retries: int = 0,
    fail_partitions: frozenset[str] | tuple[str, ...] = (),
    fail_until_attempt: dict[str, int] | None = None,
    salts: dict[str, int] | None = None,
    cluster: bool = True,
) -> dict:
    """Encode a corpus DataFrame into an eggopress table. Returns a summary.

    resume=True skips partitions whose lineage rows say encode=done
    (the anti-join resume of SURVEY.md V2). A fresh (non-resume) encode
    first clears data/manifest/lineage: partitions from a previous plan
    must not survive into the new table or decode would return
    phantom/duplicate rows. retries=N re-runs a failed wave up to N times
    (driver-level auto-retry, SURVEY.md V3 — the eggo sleep_progressive
    analog, eggo/util.py:50-59), recording each failure in lineage.

    cluster=True (default) content-clusters docs within each partition
    before chunking — better ratio at some encode-throughput cost (the
    measured trade lives in _sort_keys above and both arms are published
    in the bench); cluster=False is the opt-out for throughput-bound
    deployments. Decode output is identical either way (chunk boundaries
    move, rows don't).

    summary["sources"] is the plan's per-source row count, recorded in
    the planned snapshot and read back on resume (None when the caller
    supplied `salts`).
    """
    tbl = Table(table_path)
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    phases, mark = _phase_clock()
    if not resume:
        # non-destructive: demote the snapshot, move the previous table's
        # data/manifest/lineage ASIDE (not delete) — if this encode dies,
        # the old contents are still recoverable; they are purged only
        # after the final 'encoded' snapshot commits below
        tbl.retire_state(run_id, CORPUS_FORMAT)

    snap = tbl.snapshot()
    if resume and snap and "salts" in snap:
        salts = {k: int(v) for k, v in snap["salts"].items()}
        sources = snap.get("sources")
    else:
        sources = None
        if salts is None:
            salts, sources = _plan(df, n_partitions)
        # a caller-provided plan (e.g. one reused across the two scaling
        # runs) records no per-source counts
        tbl.commit_snapshot({"stage": "planned", "salts": salts,
                             "sources": sources, "run_id": run_id,
                             "schema": CORPUS_FORMAT})

    mark("plan")
    all_pids = partition_ids(salts)
    done = set(lineagelib.done_partitions(spark, tbl)) if resume else set()
    todo = [p for p in all_pids if p not in done]
    if not todo:
        return {"run_id": run_id, "partitions": 0, "skipped": len(done),
                "sources": sources, "wall_s": 0.0, **_totals([])}

    salted = df.withColumn("salt", _salt_expr(salts))
    pid = F.concat(F.lit("source="), F.col("source"),
                   F.lit("/salt="), F.col("salt").cast("string"))
    if done:
        salted = salted.filter(~pid.isin(sorted(done)))

    wave_groups = np.array_split(np.array(todo), max(1, waves))
    all_chunks: list[dict] = []
    attempts = lineagelib.attempt_counts(spark, tbl)
    # a resume under the same run_id must not overwrite its manifests
    first_wave = sum(f.startswith(f"{run_id}-w") for f in tbl.manifest_file_listing())

    for wave_idx, wave in enumerate(wave_groups):
        wave_pids = [str(p) for p in wave if p]
        if not wave_pids:
            continue
        wdf = salted.filter(pid.isin(wave_pids)) if len(wave_groups) > 1 else salted
        chunks = _stage(
            spark, tbl, wdf, wave_pids, run_id, cluster=cluster, t0=t0,
            mark=mark, attempts=attempts, retries=retries,
            fail_partitions=frozenset(fail_partitions),
            fail_until_attempt=fail_until_attempt, wave_idx=wave_idx)
        _write_manifest_file(tbl, f"{run_id}-w{first_wave + wave_idx}", chunks)
        mark("stats_manifest")

        tbl.promote_partitions(run_id, [c["file"] for c in chunks])
        lineagelib.append(spark, tbl, _lineage_rows(
            run_id, chunks, wave_pids, attempts, t0))
        all_chunks += chunks
        mark("promote_lineage")

    final_version = tbl.commit_snapshot({
        "stage": "encoded", "salts": salts, "sources": sources,
        "run_id": run_id, **_table_state(tbl)})
    # the replacing table is now the committed truth — only NOW is it safe
    # to drop the previous table's retired contents
    tbl.purge_retired()
    mark("commit")
    return {
        "run_id": run_id,
        "phase_sec": phases,
        "snapshot_version": final_version,
        "partitions": len(todo),
        "skipped": len(done),
        "sources": sources,
        **_totals(all_chunks),
        "wall_s": time.time() - t0,
    }


def encode_append(spark: SparkSession, df: DataFrame, table_path: str, *,
                  run_id: str, n_partitions: int | None = None,
                  cluster: bool = True,
                  signatures: DataFrame | None = None) -> dict:
    """Append-encode one micro-batch into an existing (or new) table —
    the streaming-ingest sink (SURVEY.md-plus: continuous corpus
    ingestion). Unlike encode_table this neither retires previous state
    nor resumes: each batch stages its chunks and MERGE-promotes the
    files into the shared source=/salt= dirs, writes its own manifest
    file, and records one lineage wave under the batch's run_id. Snapshot
    totals are recomputed from the manifest, so snapshot-gated readers
    always see a consistent 'encoded' stage.

    Idempotence across Structured Streaming retries comes from the
    checkpointed batch id: the caller derives run_id from batch_id, and a
    batch whose lineage wave is already recorded is skipped wholesale.
    """
    tbl = Table(table_path)
    t0 = time.time()
    phases, mark = _phase_clock()
    if _run_recorded(tbl, run_id):
        return {"run_id": run_id, "partitions": 0, "skipped": 1,
                "wall_s": 0.0, "replayed": True, **_totals([])}

    salts, _ = _plan(df, n_partitions)
    if not salts:
        return {"run_id": run_id, "partitions": 0, "skipped": 0,
                "wall_s": 0.0, **_totals([])}
    pids = partition_ids(salts)
    mark("plan")
    chunks = _stage(
        spark, tbl, df.withColumn("salt", _salt_expr(salts)), pids, run_id,
        cluster=cluster, t0=t0, mark=mark, attempts={},
        chunk_ids=_append_chunk_base(run_id))
    # idempotent manifest: one deterministic file per batch
    # (manifest/append-<run_id>.parquet, atomic os.replace) — an
    # at-least-once redelivery overwrites instead of appending a second
    # copy of the stats
    _write_manifest_file(tbl, f"append-{run_id}", chunks)
    mark("stats_manifest")
    # deterministic <run_id>-<i>.parquet names make the merge-promote
    # itself replay-safe (identical re-encode overwrites, never duplicates)
    tbl.promote_partitions(run_id, [c["file"] for c in chunks], merge=True)

    # sidecars, written BEFORE the lineage rows so any batch the replay
    # skip can see has them, mode=overwrite so a redelivery is idempotent:
    # the doc_id sidecar lets the streaming cross-batch dedup anti-join
    # O(batch) skinny files instead of blob-decoding the table per batch;
    # the (doc_id, simhash) sidecar is the incremental near-dup index (the
    # caller computes the signatures: they need the raw text)
    df.select("doc_id").write.mode("overwrite").parquet(
        tbl.docid_sidecar_dir(run_id))
    if signatures is not None:
        signatures.select("doc_id", "simhash").write.mode(
            "overwrite").parquet(tbl.sig_sidecar_dir(run_id))

    lineagelib.append(spark, tbl, _lineage_rows(run_id, chunks, pids, {}, t0))
    mark("promote_lineage")
    prev_snap = tbl.snapshot() or {}
    prev_runs = list(prev_snap.get("runs") or [])
    # coverage marker for the sidecar-based seen_doc_ids fast path: True
    # only when EVERY doc in the table arrived through a sidecar-writing
    # append — i.e. the table was born from appends (no prior snapshot)
    # and every committed snapshot since also carried the flag. A table
    # first built by encode_table (batch docs get no sidecars) never sets
    # it, so mixed-history tables degrade to the blob-decode path instead
    # of silently dropping the batch docs from the seen-set.
    sidecars_cover = (not prev_snap) or bool(
        prev_snap.get("sidecars_cover_table"))
    # same coverage logic for the signature index: True only while EVERY
    # append in the table's history wrote a signature sidecar
    sigs_cover = (signatures is not None) and (
        (not prev_snap) or bool(prev_snap.get("sigs_cover_table")))
    prev_sig_runs = list(prev_snap.get("sig_runs") or [])
    # carry the merged-sidecar references forward — dropping one would
    # orphan the merged dir and fail the seen-set coverage check
    extra = {k: prev_snap[k] for k in ("docid_merged", "sig_merged", "last_compaction")
             if prev_snap.get(k)}
    tbl.commit_snapshot({
        **extra,
        "stage": "encoded",
        "mode": "append",
        "run_id": run_id,
        # cumulative append-run set: the O(1) replay fast path AND the
        # coverage proof the sidecar-based seen_doc_ids needs (every run
        # in this list has a doc_id sidecar dir)
        "runs": sorted(set(prev_runs) | {run_id}),
        "sidecars_cover_table": sidecars_cover,
        "sig_runs": sorted(set(prev_sig_runs) | {run_id})
        if signatures is not None else prev_sig_runs,
        "sigs_cover_table": sigs_cover,
        **_table_state(tbl),
    })
    mark("commit")
    return {"run_id": run_id, "phase_sec": phases, "partitions": len(pids),
            "skipped": 0, "wall_s": time.time() - t0, **_totals(chunks)}


def _write_manifest_file(tbl: Table, name: str, chunks: list[dict]) -> None:
    """The manifest rows of staged chunk rows (one per column chunk, sorted
    by partition_id, chunk_id, column) as one parquet file with a
    caller-chosen (deterministic) name, swapped in atomically."""
    rows = sorted(({**c, "column": col, "codec": c[f"{col}_codec"],
                    "encoded_bytes": c[f"{col}_bytes"]}
                   for c in chunks for col in chunklib.COLUMNS),
                  key=lambda r: (r["partition_id"], r["chunk_id"], r["column"]))
    os.makedirs(tbl.manifest_dir, exist_ok=True)
    final = os.path.join(tbl.manifest_dir, f"{name}.parquet")
    # tmp lives OUTSIDE the manifest dir: a crash must never leave a
    # half-written file where spark.read.parquet(manifest_dir) would trip
    tmp = os.path.join(tbl.path, f"_manifest_tmp_{name}.parquet")
    pq.write_table(pa.Table.from_pylist(rows, to_arrow_schema(MANIFEST_SCHEMA)), tmp)
    os.replace(tmp, final)


def _append_chunk_base(run_id: str) -> tuple[int, int]:
    """(chunk_base, task_shift) namespacing one append batch's chunk ids.

    Streaming run_ids ('stream-<batch_id>') use the batch id itself —
    monotonic and collision-free — as the namespace: bit 62 marks the
    append layout, bits 30-61 carry the batch id, leaving 15-bit task and
    seq fields (guarded in _encode_fn). The previous scheme packed a
    15-bit md5(run_id) hash, which by the birthday bound collides between
    two batches with ~50% probability after ~180 batches — and colliding
    batches sharing a partition could then alias chunk_ids and silently
    weaken the (partition_id, chunk_id, column) manifest key. Non-stream
    run_ids (ad-hoc appends, bounded in count) keep the hash namespace.
    """
    m = re.fullmatch(r"stream-(\d+)", run_id)
    if m:
        batch_no = int(m.group(1)) & 0xFFFFFFFF
        return (1 << 62) | (batch_no << 30), 15
    import hashlib as _hashlib

    ns = int(_hashlib.md5(run_id.encode()).hexdigest()[:4], 16) & 0x3FFF
    return ns << 48, 32


def _run_recorded(tbl: Table, run_id: str) -> bool:
    """Has this append run already committed (the exactly-once replay
    check)? Fast path: the snapshot's cumulative run set — O(1), no growth
    with stream lifetime. Slow path (run absent from the snapshot): the
    lineage rows of this run_id — covers the crash window where the
    lineage wave landed but the snapshot commit didn't. Neither runs a
    Spark job."""
    if run_id in ((tbl.snapshot() or {}).get("runs") or []):
        return True
    # only a 'done' row commits a run: a recorded failure leaves the batch
    # to be replayed
    return lineagelib.run_done(tbl, run_id)


