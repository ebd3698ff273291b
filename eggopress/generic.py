"""Generic-schema columnar encode — the codec engine applied to ANY flat
Spark schema, not just the corpus shape.

SURVEY.md §5 names lineitem-style int/price/date columns as natural
dict/FOR/RLE targets; the corpus engine (encode.py) pins its pipeline to
(doc_id, tokens, n_tok, source), so this module is the schema-agnostic
face of the same codec stack (reference analog: eggo's flatten/convert
passes accept arbitrary ADAM schemas, eggo/datasets/*/datapackage.json —
the dataset registry is schema-per-dataset, not one fixed shape).

Each column chunk goes through the same column-chunk layer as the
corpus (chunk.py: _encode_column / _decode_column — ints, floats as IEEE
bit patterns, timestamps, dates, strings and int/float arrays, no
per-row Python). A list column's (lengths, values) blob pair is framed
into one `<c>__blob` here (_frame2); the corpus instead stores the pair
as its n_tok_blob and tokens_blob.

Nulls are rejected loudly (ValueError) — the codec stack is dense-only,
same contract as the corpus path.

Layout: a tablefmt table whose <path>/data/*.parquet, written by the
encode tasks with the corpus's chunk writer, hold one row per CHUNK
(chunk_rows input rows batched by Arrow): per-column `<c>__blob` /
`<c>__codec` plus `<c>__min`/`<c>__max`/`<c>__sum` int64 stats for
integer-backed kinds (chunk skipping, as in the corpus engine); its
GENERIC_FORMAT snapshot records the schema and kind map to decode by.
Scale shape: encode is a narrow mapInArrow over whatever partitioning
the caller chose (cluster_by adds one repartitionByRange + in-partition
sort, exactly the corpus engine's clustering trade); decode is a narrow
mapInArrow over the chunk files with column pruning at the parquet scan
(only requested `<c>__blob` streams are read) and min/max chunk
skipping pushed down as scan filters.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from eggopress.chunk import (
    _ELEMENT_KIND,
    _KINDS,
    _colkind,
    _decode_column,
    _encode_column,
    _from_int64,
    _int_stats,
)
from eggopress.codecs import core as codecs
from eggopress.encode import _phase_clock, _staged_schema, _write_chunks
from eggopress.schema import GENERIC_FORMAT
from eggopress.tablefmt import Table

# Generic chunk files close a row group at this many buffered bytes. An
# 80-column row group costs ~8 KB of footer: a seed-11 generic_lineitem
# encode (16 chunks, 8 files) took 1,865,846 B by Spark's writer,
# 1,908,429 B at one row group per ~115 KB chunk, 1,776,560 B at one per file.
ROW_GROUP_BYTES = 1 << 20


def _frame2(a: bytes, b: bytes) -> bytes:
    """Two sub-blobs -> one framed blob (u32 length prefix on the first)."""
    return len(a).to_bytes(4, "little") + a + b


def _unframe2(blob: bytes) -> tuple[bytes, bytes]:
    n = int.from_bytes(blob[:4], "little")
    return blob[4 : 4 + n], blob[4 + n :]


def _chunk_schema(names: list[str], kinds: dict[str, str]) -> pa.Schema:
    fields = [
        pa.field("chunk_id", pa.int64()),
        pa.field("n_rows", pa.int64()),
        pa.field("raw_bytes", pa.int64()),
        pa.field("encoded_bytes", pa.int64()),
    ]
    for c in names:
        fields.append(pa.field(f"{c}__blob", pa.binary()))
        fields.append(pa.field(f"{c}__codec", pa.string()))
        if _KINDS[kinds[c]][0]:
            fields.append(pa.field(f"{c}__min", pa.int64()))
            fields.append(pa.field(f"{c}__max", pa.int64()))
            fields.append(pa.field(f"{c}__sum", pa.int64()))
    return pa.schema(fields)


def _zorder_expr(df: DataFrame, cols: list[str],
                 kinds: dict[str, str]) -> "F.Column":
    """Morton (Z-order) key over 2-4 int-backed columns: each column is
    min/max-bucketized to 16 bits (one tiny driver agg), the bit planes
    interleave into one int64 sort key. All JVM expressions — the bucket
    scale is a driver float, the interleave is shift/and/or terms.

    Why: a lexicographic range sort makes only the FIRST column's chunk
    min/max stats selective; Z-order gives every participating column
    locality, so `where=` chunk skipping prunes on any of them — the
    multi-dimensional pruning layout (Delta/Iceberg OPTIMIZE ZORDER
    semantics), here feeding codec locality too."""
    if not 2 <= len(cols) <= 4:
        raise ValueError(f"zorder needs 2-4 columns, got {len(cols)}")
    views = []
    for c in cols:
        k = kinds[c]
        if k in ("int8", "int16", "int32", "int64"):
            views.append(F.col(c).cast("long"))
        elif k == "date":
            views.append(F.datediff(F.col(c), F.lit("1970-01-01")).cast("long"))
        else:
            raise ValueError(
                f"zorder supports int/date columns, got {c!r} ({k})")
    stats = df.agg(*[f(v).alias(f"{i}_{m}") for i, v in enumerate(views)
                     for m, f in (("min", F.min), ("max", F.max))]).first()
    if stats is None or stats[0] is None:
        raise ValueError("zorder clustering needs a non-empty DataFrame "
                         "(no rows to derive bucket ranges from)")
    # 16 bits/col up to 3 columns; 15 at 4 so the top interleaved bit
    # lands at shift 59, never the int64 sign bit (a sign-bit key would
    # sort its half of the curve negative-FIRST, rotating the order at
    # the boundary)
    bits = 15 if len(cols) == 4 else 16
    buckets = []
    for i, v in enumerate(views):
        lo, hi = int(stats[f"{i}_min"]), int(stats[f"{i}_max"])
        scale = float((1 << bits) - 1) / float(max(hi - lo, 1))
        buckets.append(
            F.least(F.lit((1 << bits) - 1),
                    F.floor((v - F.lit(lo)).cast("double") * scale))
            .cast("long"))
    ncols = len(cols)
    z = F.lit(0).cast("long")
    for k in range(bits):
        for j, b in enumerate(buckets):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(b, k).bitwiseAND(F.lit(1)),
                            k * ncols + j))
    return z


def encode_generic(spark: SparkSession, df: DataFrame, path: str, *,
                   n_partitions: int | None = None,
                   cluster_by: tuple[str, ...] | list[str] | None = None,
                   cluster_mode: str = "range",
                   chunk_rows: int | None = None) -> dict:
    """Encode any supported-schema DataFrame into a generic chunk table.

    cluster_by=(cols) range-partitions and sorts within partitions first
    — the clustering-for-ratio trade, identical to the corpus engine's
    cluster= flag (co-locating similar values is what makes dict/FOR
    small). cluster_mode='zorder' sorts by a Morton key over the
    cluster_by columns instead of lexicographically: every listed
    column's chunk min/max stats become selective (multi-dimensional
    chunk pruning), at a small ratio cost vs a perfect single-column
    sort. Without cluster_by the encode is a NARROW pass over the input
    partitioning: zero shuffles, the plan you want when the upstream
    layout is already good.

    Returns the snapshot's totals (chunks, rows, raw_bytes,
    encoded_bytes) plus phase_sec (plan: count, zorder stats and
    sizing; encode_write: the encode job; commit) and tasks, the
    planned encode task count (None on the narrow pass, which keeps the
    input's partitioning)."""
    from eggopress import conf

    names = list(df.columns)
    kinds = {f.name: _colkind(f.dataType) for f in df.schema.fields}
    out_schema = _chunk_schema(names, kinds)
    rows_per_chunk = chunk_rows or conf.CHUNK_ROWS
    phases, mark = _phase_clock()

    if cluster_mode not in ("range", "zorder"):
        raise ValueError(f"unknown cluster_mode: {cluster_mode!r}")
    tasks = n_partitions
    if cluster_by:
        missing = [c for c in cluster_by if c not in names]
        if missing:
            raise ValueError(f"cluster_by columns not in schema: {missing}")
        # Size the encode stage by chunk volume; n_partitions is the
        # caller's layout floor. Every Python task of a mapInArrow stage
        # pays ~0.2 s before its function runs (at local[2] on a 4-CPU
        # host a no-op mapInArrow over 1,000 rows took 0.36 / 0.55 / 1.03
        # / 1.83 s at 2 / 4 / 8 / 16 tasks, the same stages without Python
        # 0.07-0.09 s). Tasks up to the cluster's parallelism pay it side
        # by side, so one wave of whole chunks fills every slot; past
        # that, one task per 8 chunks, capped at 2x the parallelism. A
        # constant floor such as the shuffle partition count cut 80k
        # lineitem rows into 8 tasks of two short chunks each, 4 waves on
        # 2 slots; a constant count starves a big input instead (6M
        # lineitem rows on 8 partitions left 24 of 32 cores idle). Chunks
        # stay full chunk_rows slices; the file count grows with the data.
        n_chunks = -(-df.count() // rows_per_chunk)
        slots = spark.sparkContext.defaultParallelism
        tasks = max(n_partitions or 1,
                    min(n_chunks, max(slots, -(-n_chunks // 8)), 2 * slots))
        if cluster_mode == "zorder":
            df = (
                df.withColumn("_z", _zorder_expr(df, list(cluster_by), kinds))
                .repartitionByRange(tasks, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        else:
            df = df.repartitionByRange(tasks, *cluster_by) \
                   .sortWithinPartitions(*cluster_by)
    elif n_partitions:
        df = df.repartition(n_partitions)
    mark("plan")

    def encode_fn(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seq = 0
        for batch in batches:
            for start in range(0, batch.num_rows, rows_per_chunk):
                sl = batch.slice(start, rows_per_chunk)
                cols: dict = {
                    # 20-bit per-task sequence; far above any real
                    # chunks-per-task count, raises before wrapping
                    "chunk_id": (pid << 20) | seq,
                    "n_rows": sl.num_rows,
                }
                if seq >= (1 << 20):
                    raise RuntimeError("chunk sequence overflow in task")
                seq += 1
                raw = enc = 0
                for c in names:
                    arr = sl.column(c)
                    blob, r, codec = _encode_column(c, kinds[c], arr)
                    if kinds[c] in _ELEMENT_KIND:
                        blob = _frame2(*blob)
                    cols[f"{c}__blob"] = blob
                    cols[f"{c}__codec"] = codec
                    raw += r
                    enc += len(blob)
                    if _KINDS[kinds[c]][0]:
                        (cols[f"{c}__min"], cols[f"{c}__max"],
                         cols[f"{c}__sum"]) = _int_stats(kinds[c], arr)
                yield pa.RecordBatch.from_pylist(
                    [{**cols, "raw_bytes": raw, "encoded_bytes": enc}], schema=out_schema)

    # the previous table is retired only once the job has staged every
    # chunk file, so a failed encode leaves it in place
    tbl = Table(path)
    run_id = uuid.uuid4().hex[:12]
    rows = df.mapInArrow(
        lambda batches: _write_chunks(tbl.staging_dir(run_id), encode_fn(batches), out_schema,
                                     row_group_bytes=ROW_GROUP_BYTES),
        from_arrow_schema(_staged_schema(out_schema))).collect()
    mark("encode_write")
    tbl.retire_state(run_id, GENERIC_FORMAT)
    tbl.promote_partitions(run_id, [r["file"] for r in rows])
    os.makedirs(tbl.data_dir, exist_ok=True)  # an empty input promotes no file
    totals = {"chunks": len(rows), "rows": sum(r["n_rows"] for r in rows),
              **{k: sum(r[k] for r in rows) for k in ("raw_bytes", "encoded_bytes")}}
    tbl.commit_snapshot({
        "stage": "encoded", "run_id": run_id, "schema": GENERIC_FORMAT,
        "spark_schema": df.schema.jsonValue(), "kinds": kinds,
        "files": {"": sorted(os.listdir(tbl.data_dir))}, "totals": totals})
    tbl.purge_retired()
    mark("commit")
    return {**totals, "phase_sec": phases, "tasks": tasks}


def read_meta(path: str) -> dict:
    """Schema, columns, kinds and totals of the committed generic table at
    path; ValueError for an old _meta.json table or any other format."""
    snap = Table(path).snapshot() or {}
    if snap.get("schema") != GENERIC_FORMAT or snap.get("stage") != "encoded":
        found = ("an old _meta.json table: re-encode it with encode_generic"
                 if os.path.exists(os.path.join(path, "_meta.json")) else
                 f"format {snap.get('schema')!r}, stage {snap.get('stage')!r}")
        raise ValueError(f"{path} holds no committed {GENERIC_FORMAT} table ({found})")
    return {"schema": snap["spark_schema"],
            "columns": [f["name"] for f in snap["spark_schema"]["fields"]],
            "kinds": snap["kinds"], "totals": snap["totals"]}


def _open(spark: SparkSession, path: str) -> tuple[dict, DataFrame]:
    """read_meta(path) and the table's chunk rows, read with the chunk
    schema it implies, so a table of no chunk files reads as no rows."""
    meta = read_meta(path)
    return meta, spark.read.schema(from_arrow_schema(_chunk_schema(
        meta["columns"], meta["kinds"]))).parquet(os.path.join(path, "data"))


def decode_generic(spark: SparkSession, path: str,
                   columns: list[str] | None = None,
                   where: dict[str, tuple[int | None, int | None]] | None = None,
                   ) -> DataFrame:
    """Decode a generic chunk table back to its original schema,
    bit-identical. columns= projects at the BLOB level (only those
    streams are read — parquet column pruning does the work). where=
    {col: (lo, hi)} prunes chunks by the recorded int64 min/max stats at
    the scan, then applies the exact row filter post-decode (int-backed
    kinds only: ints, timestamps as epoch ticks, dates as days)."""
    meta, chunks = _open(spark, path)
    kinds = meta["kinds"]
    full_schema = T.StructType.fromJson(meta["schema"])
    want = list(columns) if columns is not None else list(meta["columns"])
    unknown = [c for c in want if c not in kinds]
    if unknown:
        raise ValueError(f"unknown columns: {unknown}")
    if len(set(want)) != len(want):
        raise ValueError(f"duplicate columns: {want}")

    where = {k: v for k, v in (where or {}).items()
             if not (v[0] is None and v[1] is None)}
    for c, rng in where.items():
        if c not in kinds or not _KINDS[kinds[c]][0]:
            raise ValueError(
                f"where only supports int-backed columns, got {c!r} "
                f"({kinds.get(c)})")
    need = sorted(set(want) | set(where), key=meta["columns"].index)

    proj = ["n_rows"] + [f"{c}__blob" for c in need]
    for c, (lo, hi) in where.items():
        # chunk skip: a chunk whose [min,max] window misses the range
        # never has its blobs read (predicate reaches the parquet scan)
        if lo is not None:
            chunks = chunks.filter(F.col(f"{c}__max") >= int(lo))
        if hi is not None:
            chunks = chunks.filter(F.col(f"{c}__min") <= int(hi))
    chunks = chunks.select(*proj)

    # exact row filters run on the raw int64 stream emitted as a helper
    # column by the decode UDF — the SAME domain as the chunk stats, with
    # zero timestamp/timezone semantics in the loop (unix_micros etc.
    # don't even accept TIMESTAMP_NTZ)
    helper = {c: f"_{c}__i64" for c in where}
    out_spark = T.StructType(
        [full_schema[c] for c in need]
        + [T.StructField(h, T.LongType()) for h in helper.values()])
    out_arrow = to_arrow_schema(out_spark)
    arrow_fields = {c: out_arrow.field(c) for c in need}

    def decode_fn(batches):
        for batch in batches:
            cols = {c: batch.column(f"{c}__blob") for c in need}
            for i in range(batch.num_rows):
                arrays, extras = [], {}
                for c in need:
                    blob = cols[c][i].as_py()
                    if c in where:
                        ints = codecs.decode_ints(blob)
                        arrays.append(
                            _from_int64(ints, arrow_fields[c]))
                        extras[c] = pa.array(ints, type=pa.int64())
                    else:
                        if kinds[c] in _ELEMENT_KIND:
                            blob = _unframe2(blob)
                        arrays.append(_decode_column(
                            kinds[c], blob, arrow_fields[c]))
                yield pa.RecordBatch.from_arrays(
                    arrays + [extras[c] for c in where], schema=out_arrow)

    out = chunks.mapInArrow(decode_fn, out_spark)
    for c, (lo, hi) in where.items():
        if lo is not None:
            out = out.filter(F.col(helper[c]) >= int(lo))
        if hi is not None:
            out = out.filter(F.col(helper[c]) <= int(hi))
    return out.select(*want)


def stats_rollup_generic(spark: SparkSession, path: str,
                         columns: list[str]) -> DataFrame:
    """Metadata-only aggregation over a generic table: COUNT / SUM /
    MIN / MAX of int-backed columns from the chunk STATS columns alone —
    no blob is read (parquet column pruning drops them at the scan), so
    the pass costs O(#chunks) rows regardless of table size: the same
    discipline as the corpus engine's stats_rollup, generalized to any
    schema. Returns one row: (n_rows, <c>_sum, <c>_min, <c>_max, ...)
    in the raw int64 stats domain (epoch micros for timestamps, days
    for dates)."""
    meta, chunks = _open(spark, path)
    kinds = meta["kinds"]
    for c in columns:
        if c not in kinds or not _KINDS[kinds[c]][0]:
            raise ValueError(
                f"stats rollup only covers int-backed columns, got {c!r} "
                f"({kinds.get(c)})")
    aggs = [F.sum("n_rows").alias("n_rows")]
    for c in columns:
        aggs += [
            F.sum(f"{c}__sum").alias(f"{c}_sum"),
            F.min(f"{c}__min").alias(f"{c}_min"),
            F.max(f"{c}__max").alias(f"{c}_max"),
        ]
    return chunks.agg(*aggs)


def codec_report(spark: SparkSession, path: str) -> DataFrame:
    """Per-(column, codec) chunk counts and encoded bytes — the generic
    analog of the corpus manifest's codec-selection view."""
    meta, chunks = _open(spark, path)
    stack = ", ".join(
        f"'{c}', {c}__codec, {c}__blob" for c in meta["columns"])
    n = len(meta["columns"])
    return (
        chunks.selectExpr(
            f"stack({n}, {stack}) as (column, codec, blob)")
        .groupBy("column", "codec")
        .agg(F.count("*").alias("chunks"),
             F.sum(F.length("blob")).alias("encoded_bytes"))
    )
