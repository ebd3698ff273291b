"""The decode pass: encoded chunk blobs -> bit-identical corpus rows.

A single narrow mapInArrow stage (no shuffle): each chunk row is
self-describing (codec + params in blob headers), so decode needs only the
data files. Partition pruning comes free from the source=/salt= directory
layout — a sources= filter prunes at the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from eggopress import chunk as chunklib
from eggopress.schema import CORPUS_SCHEMA
from eggopress.tablefmt import Table


def read_encoded(spark: SparkSession, table_path: str,
                 sources: list[str] | None = None,
                 n_tok_range: tuple[int | None, int | None] | None = None,
                 version: int | None = None,
                 token_range: tuple[int | None, int | None] | None = None) -> DataFrame:
    tbl = Table(table_path)
    if version is not None:
        # time travel: exactly the chunk files snapshot <version> recorded
        # (append-mode tables keep earlier batches' files in place, so any
        # committed version stays readable until a rewrite)
        files = tbl.files_at_version(version)
        df = spark.read.option("basePath", tbl.data_dir).parquet(*files)
    else:
        df = spark.read.parquet(tbl.data_dir)
    if sources:
        df = df.filter(df.source.isin(sources))  # partition-pruned scan
    if n_tok_range:
        # chunk skipping on manifest-grade min/max stats: these are plain
        # int columns in the chunk parquet, so the predicate pushes down
        # to the scan and skipped chunks' blobs are never materialized
        lo, hi = n_tok_range
        if lo is not None:
            df = df.filter(df.n_tok_max >= lo)
        if hi is not None:
            df = df.filter(df.n_tok_min <= hi)
    if token_range:
        # token-VALUE window skip: a chunk whose [tok_min, tok_max] misses
        # [lo, hi] cannot contain a qualifying token — same pushdown shape
        # as n_tok_range, over the value-domain stats
        lo, hi = token_range
        if lo is not None:
            df = df.filter(df.tok_max >= lo)
        if hi is not None:
            df = df.filter(df.tok_min <= hi)
    return df


ALL_COLUMNS = tuple(f.name for f in CORPUS_SCHEMA)


def _resolve_columns(columns: list[str] | None) -> tuple[tuple[str, ...], list[str]]:
    """-> (decode set in corpus-schema order, needed blob column names).
    Decoding runs in schema order; callers that promise a caller-ordered
    result re-select at the end (decode_table does)."""
    if columns is None:
        want = ALL_COLUMNS
    else:
        bad = [c for c in columns if c not in ALL_COLUMNS]
        if bad or not columns or len(set(columns)) != len(columns):
            raise ValueError(f"columns must be a non-empty duplicate-free subset of {ALL_COLUMNS}, got {columns}")
        want = tuple(c for c in ALL_COLUMNS if c in columns)
    blob_names: list[str] = []
    for c in want:
        for b in chunklib.BLOB_DEPS[c]:
            if b not in blob_names:
                blob_names.append(b)
    return want, blob_names


def _make_decode_fn(want: tuple[str, ...], blob_names: list[str]):
    def _decode_fn(batches):
        for batch in batches:
            cols = {name: batch.column(name) for name in blob_names}
            for i in range(batch.num_rows):  # per-CHUNK loop (thousands of rows each)
                yield chunklib.decode_chunk_projected(
                    want, {n: cols[n][i].as_py() for n in blob_names}
                )
    return _decode_fn


def _decode_df(enc: DataFrame, columns: list[str] | None) -> DataFrame:
    """Projected decode (P4 on the data path): only the requested columns'
    blob streams are selected, so parquet column pruning never reads the
    other blobs' bytes — a doc_id/n_tok/source scan of a 100 TB table
    skips the ~95% of it that is token payload."""
    want, blob_names = _resolve_columns(columns)
    out_schema = T.StructType([f for f in CORPUS_SCHEMA if f.name in want])
    return enc.select(*blob_names).mapInArrow(
        _make_decode_fn(want, blob_names), out_schema
    )


def decode_changes(spark: SparkSession, table_path: str,
                   since_version: int, version: int | None = None,
                   columns: list[str] | None = None) -> DataFrame:
    """Incremental read: decode only the chunk files ADDED after snapshot
    since_version (up to `version`, default the current snapshot) — the
    consume-only-new-batches feed a training pipeline tails an append
    table with. Pure file-set difference of the two snapshots' recorded
    listings; no data is scanned to compute the diff.

    The since-side listing is used by NAME only (its files may already be
    gone — that's fine, they aren't read). Caveat: a compaction rewrites
    file names, so the first changes-read after one returns the whole
    compacted set; checkpoint consumers against post-compaction versions.
    """
    tbl = Table(table_path)
    to_version = version if version is not None else tbl.current_version()
    old = set(tbl.listing_at_version(since_version))
    new = [p for p in tbl.files_at_version(to_version) if p not in old]
    if not new:
        want, _ = _resolve_columns(columns)
        out = spark.createDataFrame(
            [], T.StructType([f for f in CORPUS_SCHEMA if f.name in want])
        )
    else:
        enc = spark.read.option("basePath", tbl.data_dir).parquet(*new)
        out = _decode_df(enc, columns)
    return out.select(*columns) if columns is not None else out


def seen_doc_ids(spark: SparkSession, table_path: str,
                 exclude_run: str | None = None) -> DataFrame:
    """doc_ids currently in the table, for the streaming cross-batch
    dedup anti-join. exclude_run blinds the set to that run's own files:
    the dedup filter must not see its OWN crashed replay's partial
    promote, or the re-run would encode a different row subset than the
    first attempt and the deterministic <run_id>-<i> overwrite would
    leave orphan chunks.

    Fast path: the per-run doc_id SIDECARS encode_append writes
    (index/docids/append-<run>/). Reading them is a skinny-parquet scan
    of just the id column — no chunk blob is touched — and the snapshot's
    cumulative run list proves coverage (every committed append run has
    a sidecar; the check is explicit so a table with exotic history
    degrades to the decode path instead of silently under-reporting).
    Fallback (batch-encoded tables / pre-sidecar history): blob-projected
    decode of the doc_id stream — correct everywhere, but O(table) chunk
    reads. Both paths honor the same join contract (a doc_id column)."""
    import os as _os

    tbl = Table(table_path)
    snap = tbl.snapshot() or {}
    runs = snap.get("runs") or []
    # a non-empty run list alone does NOT prove coverage: a table first
    # built by encode_table (batch docs, no sidecars) then appended to
    # would list only the append runs. The sidecars_cover_table marker is
    # set by encode_append iff the table was born from appends and every
    # snapshot since carried it, so it is the explicit proof that the
    # union of sidecars equals the table's doc set.
    if runs and snap.get("sidecars_cover_table") is True:
        # compaction folds old per-run sidecars into one merged dir
        # (snapshot key docid_merged) so this listing stays O(runs since
        # last compaction), not O(stream lifetime)
        merged = snap.get("docid_merged") or {}
        merged_dir = (_os.path.join(tbl.docid_index_dir, merged["dir"])
                      if merged.get("dir") else None)
        covered = (set(merged.get("runs") or [])
                   if (merged_dir and _os.path.isdir(merged_dir)) else set())
        dirs = ([merged_dir] if covered else []) + [
            tbl.docid_sidecar_dir(r) for r in runs
            if r != exclude_run and r not in covered
        ]
        per_run_ok = all(_os.path.isdir(d) for d in dirs)
        if per_run_ok and exclude_run is not None and exclude_run in covered:
            # cannot blind the seen-set to a run folded into the merged
            # dir — fall through to the decode path (correct, slower);
            # unreachable in the streaming flow, where a replayed run is
            # skipped before this filter ever runs
            per_run_ok = False
        if per_run_ok:
            if not dirs:
                return spark.createDataFrame([], "doc_id string")
            return spark.read.parquet(*dirs).select("doc_id")
    files = [
        _os.path.join(tbl.data_dir, pid, f)
        for pid, names in tbl.partition_file_listing().items()
        for f in names
        if exclude_run is None or not f.startswith(f"{exclude_run}-")
    ]
    if not files:
        return spark.createDataFrame([], "doc_id string")
    enc = spark.read.option("basePath", tbl.data_dir).parquet(*files)
    return _decode_df(enc, ["doc_id"])


def seen_signatures(spark: SparkSession, table_path: str,
                    exclude_run: str | None = None) -> DataFrame:
    """(doc_id, simhash) fingerprints of the docs already in the table —
    the incremental near-dup index the streaming filter band-joins new
    batches against. Sidecar-only (signatures are derived state, never
    stored in chunk blobs): every run listed in the snapshot's sig_runs
    must have its sidecar dir (or be folded into the merged dir), else
    this RAISES — a silently partial signature set would under-drop
    near-dups, which is exactly the failure mode the sigs_cover_table
    marker exists to keep honest."""
    import os as _os

    tbl = Table(table_path)
    snap = tbl.snapshot() or {}
    sig_runs = snap.get("sig_runs") or []
    merged = snap.get("sig_merged") or {}
    merged_dir = (_os.path.join(tbl.sig_index_dir, merged["dir"])
                  if merged.get("dir") else None)
    covered = (set(merged.get("runs") or [])
               if (merged_dir and _os.path.isdir(merged_dir)) else set())
    if exclude_run is not None and exclude_run in covered:
        raise RuntimeError(
            f"cannot exclude run {exclude_run!r}: folded into merged "
            "signature sidecar")
    dirs = ([merged_dir] if covered else []) + [
        tbl.sig_sidecar_dir(r) for r in sig_runs
        if r != exclude_run and r not in covered
    ]
    missing = [d for d in dirs if not _os.path.isdir(d)]
    if missing:
        raise RuntimeError(
            f"signature sidecars missing for committed runs: {missing}")
    if not dirs:
        return spark.createDataFrame([], "doc_id string, simhash long")
    return spark.read.parquet(*dirs).select("doc_id", "simhash")


def _docmap_fn(batches):
    """(chunk_id, doc_id_blob) chunk rows -> (doc_id, chunk_id) pairs;
    only the doc_id stream decodes."""
    import numpy as _np
    import pyarrow as _pa

    for batch in batches:
        ids, cids = [], []
        for i in range(batch.num_rows):
            arr = chunklib.decode_chunk_projected(
                ("doc_id",),
                {"doc_id_blob": batch.column("doc_id_blob")[i].as_py()},
            ).column(0)
            ids.append(arr)
            cids.append(_np.full(len(arr),
                                 batch.column("chunk_id")[i].as_py(),
                                 dtype=_np.int64))
        if ids:
            yield _pa.RecordBatch.from_arrays(
                [_pa.concat_arrays(ids),
                 _pa.array(_np.concatenate(cids), type=_pa.int64())],
                names=["doc_id", "chunk_id"],
            )


def build_doc_index(spark: SparkSession, table_path: str) -> dict:
    """Build the doc_id -> chunk random-access index (index/docmap/):
    one skinny (doc_id, chunk_id) row per document, hash-partitioned
    into 64 pfx= dirs so a point lookup prunes ~98% of the index files
    before reading a byte. Only the doc_id blobs are decoded to build it
    (column pruning skips the token payload). The index records the
    snapshot version it was built at; lookups refuse a stale index
    loudly instead of silently missing late appends."""
    import json as _json
    import os as _os

    tbl = Table(table_path)
    version = tbl.current_version()
    enc = read_encoded(spark, table_path).select("chunk_id", "doc_id_blob")
    dm = enc.mapInArrow(_docmap_fn, "doc_id string, chunk_id long")
    data_dir = _os.path.join(tbl.path, "index", "docmap", "data")
    (
        dm.withColumn("pfx", F.pmod(F.xxhash64("doc_id"), F.lit(64)))
        .write.partitionBy("pfx").mode("overwrite").parquet(data_dir)
    )
    meta = {"built_at_version": version, "pfx_mod": 64}
    tmp = _os.path.join(tbl.path, "index", "docmap", "_meta.json.tmp")
    with open(tmp, "w") as fh:
        _json.dump(meta, fh)
    _os.replace(tmp, _os.path.join(tbl.path, "index", "docmap", "_meta.json"))
    return meta


def update_doc_index(spark: SparkSession, table_path: str) -> dict:
    """INCREMENTAL docmap maintenance: index only the chunk files added
    since the version the index was built at (snapshot listing diff —
    the decode_changes mechanism), append their (doc_id, chunk_id) rows
    into the existing pfx= layout, and bump the recorded version. Work
    is O(new data), so a streaming table keeps its random-access index
    current at per-batch cost instead of rebuilding O(table) after
    every append. Falls back to a full build when no index exists; a
    compaction between versions rewrites file names, which the listing
    diff would misread as all-new — that case rebuilds too (loudly in
    the returned mode)."""
    import json as _json
    import os as _os

    tbl = Table(table_path)
    meta_path = _os.path.join(tbl.path, "index", "docmap", "_meta.json")
    if not _os.path.exists(meta_path):
        out = build_doc_index(spark, table_path)
        return {**out, "mode": "full_build"}
    with open(meta_path) as fh:
        meta = _json.load(fh)
    cur = tbl.current_version()
    built = meta["built_at_version"]
    if built == cur:
        return {**meta, "mode": "current"}
    built_snap_files = set(tbl.listing_at_version(built))
    cur_files = tbl.files_at_version(cur)
    if not built_snap_files <= set(cur_files):
        # files the index covered are gone — compacted away OR rolled
        # back: the incremental diff can no longer attribute rows, and
        # keeping the old rows would leave phantom doc_ids in the index
        # (benign for lookups thanks to the exact filters, but a lie
        # about coverage) -> full rebuild
        out = build_doc_index(spark, table_path)
        return {**out, "mode": "rebuild_after_rewrite"}
    new = [p for p in cur_files if p not in built_snap_files]
    if new:
        enc = spark.read.option("basePath", tbl.data_dir).parquet(*new) \
            .select("chunk_id", "doc_id_blob")
        dm = enc.mapInArrow(_docmap_fn, "doc_id string, chunk_id long")
        data_dir = _os.path.join(tbl.path, "index", "docmap", "data")
        (
            dm.withColumn("pfx", F.pmod(F.xxhash64("doc_id"),
                                        F.lit(meta["pfx_mod"])))
            .write.partitionBy("pfx").mode("append").parquet(data_dir)
        )
    meta = {**meta, "built_at_version": cur}
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        _json.dump(meta, fh)
    _os.replace(tmp, meta_path)
    return {**meta, "mode": "incremental", "new_files": len(new)}


def lookup_docs(spark: SparkSession, table_path: str, ids: list[str],
                columns: list[str] | None = None) -> DataFrame:
    """Random access by doc_id: resolve ids -> chunk ids through the
    docmap index (partition-pruned to the ids' pfx= dirs), then decode
    ONLY those chunks. Work scales with the request (O(|ids|) map rows
    collected, a handful of chunks decoded), not the table — the
    serve-training-docs-by-id path a 100 TB token store needs. The
    final exact doc_id filter makes chunk_id collisions across
    partitions harmless (they only cost pruning, never correctness)."""
    import json as _json
    import os as _os

    tbl = Table(table_path)
    meta_path = _os.path.join(tbl.path, "index", "docmap", "_meta.json")
    if not _os.path.exists(meta_path):
        raise ValueError(
            f"no doc index at {table_path}: run build_doc_index first")
    with open(meta_path) as fh:
        meta = _json.load(fh)
    if meta["built_at_version"] != tbl.current_version():
        raise ValueError(
            f"doc index stale (built at v{meta['built_at_version']}, table "
            f"at v{tbl.current_version()}): rebuild with build_doc_index")
    def _empty():
        # mirror decode_changes: the empty frame re-selects to the
        # CALLER's column order, so hit and miss paths agree on schema
        want, _ = _resolve_columns(columns)
        out = spark.createDataFrame(
            [], T.StructType([f for f in CORPUS_SCHEMA if f.name in want]))
        return out.select(*columns) if columns is not None else out

    if not ids:
        return _empty()
    idf = spark.createDataFrame([(i,) for i in ids], "doc_id string") \
        .withColumn("pfx", F.pmod(F.xxhash64("doc_id"),
                                  F.lit(meta["pfx_mod"])))
    pfxs = sorted({r["pfx"] for r in idf.select("pfx").distinct().collect()})
    dm = (
        spark.read.parquet(_os.path.join(tbl.path, "index", "docmap", "data"))
        .filter(F.col("pfx").isin(pfxs))  # partition pruning
        .filter(F.col("doc_id").isin(list(ids)))
    )
    chunk_ids = [int(r["chunk_id"]) for r in
                 dm.select("chunk_id").distinct().collect()]
    if not chunk_ids:
        return _empty()
    enc = read_encoded(spark, table_path).filter(
        F.col("chunk_id").isin(chunk_ids))
    eff = columns
    if columns is not None and "doc_id" not in columns:
        eff = ["doc_id"] + list(columns)
    out = _decode_df(enc, eff).filter(F.col("doc_id").isin(list(ids)))
    return out.select(*columns) if columns is not None else out


def stats_rollup(spark: SparkSession, table_path: str,
                 version: int | None = None) -> DataFrame:
    """Metadata-only aggregation: per-source doc and token totals from
    the chunk STATS columns alone — no blob is read (column pruning
    drops them at the scan) and nothing is decoded. The scan is
    O(#chunks), so 'how many docs / tokens per source' over a 100 TB
    table costs a manifest-scale pass, the same pushdown a SELECT
    count(*) answers from parquet row-group metadata."""
    enc = read_encoded(spark, table_path, version=version)
    return enc.groupBy("source").agg(
        F.sum(F.col("n_rows").cast("long")).alias("n_docs"),
        F.sum("n_values").alias("n_tok_sum"),
    )


def decode_table(spark: SparkSession, table_path: str,
                 sources: list[str] | None = None,
                 n_tok_range: tuple[int | None, int | None] | None = None,
                 version: int | None = None,
                 columns: list[str] | None = None,
                 token_range: tuple[int | None, int | None] | None = None) -> DataFrame:
    """Decode a table; `n_tok_range=(lo, hi)` is the predicate path (P2):
    chunk-level min/max skipping at the scan, then an exact row filter on
    the decoded output (chunk stats only bound, rows inside a surviving
    chunk may still miss the range). `token_range=(lo, hi)` keeps docs
    containing AT LEAST ONE token value in [lo, hi] — the
    "which docs mention token X" scan: chunks whose [tok_min, tok_max]
    window misses the range are skipped at the scan before any blob read;
    surviving chunks decode and an exact exists() filter runs per row
    (this one must decode the token stream, so project columns= to what
    you need and let the chunk skip carry the savings). `version=N`
    time-travels to snapshot N's recorded file set. `columns=` projects
    at the BLOB level: only the requested columns' encoded streams are
    read and decoded (P4 on data); the result carries the columns in the
    CALLER'S order (positional consumers of e.g. the CLI --columns output
    rely on it — the trailing select is free, the data is already
    decoded)."""
    # (None, None) is truthy but boundless — normalize to "no predicate"
    # so it can't reach the row filters and build an empty exists() lambda
    if n_tok_range is not None and set(n_tok_range) == {None}:
        n_tok_range = None
    if token_range is not None and set(token_range) == {None}:
        token_range = None
    enc = read_encoded(spark, table_path, sources, n_tok_range, version,
                       token_range)
    eff = columns
    if columns is not None:
        need = [c for c, rng in (("n_tok", n_tok_range), ("tokens", token_range))
                if rng and c not in columns]
        if need:
            eff = list(columns) + need  # needed for the exact row filters
    out = _decode_df(enc, eff)
    if n_tok_range:
        lo, hi = n_tok_range
        if lo is not None:
            out = out.filter(out.n_tok >= lo)
        if hi is not None:
            out = out.filter(out.n_tok <= hi)
    if token_range:
        lo, hi = token_range
        conds = [c for c in (
            None if lo is None else f"t >= {int(lo)}",
            None if hi is None else f"t <= {int(hi)}",
        ) if c]
        out = out.filter(F.expr(f"exists(tokens, t -> {' and '.join(conds)})"))
    if columns is not None:
        out = out.select(*columns)
    return out
