"""The column-chunk layer: the one place a column kind turns into codec
streams and back, for both engines.

This is the engine's nested<->flat duality (reference: ADAM flatten,
datasets/dbsnp/toast.sh:36-42 and SURVEY.md P1). Every column chunk is
an Arrow-buffer-level transform, never per-row Python:

  int8/16/32/64        -> one int stream (codec auto-selection: dict /
                          rle / forbp / pfor / delta / plain)
  float64 / float32    -> IEEE bit pattern viewed as int64/int32 —
                          bit-identical by construction (NaN payloads
                          included)
  timestamp (any unit) -> int64 epoch ticks
  date32               -> int32 days
  string               -> (lengths, utf8 buffer) via the str codecs
  array<int/float>     -> (lengths stream, values stream); decode
                          re-nests the values via cumsum of the lengths

Streams keep their native width (int32 stays int32): the codecs take
int32 and int64 alike and emit the same bytes for the same values.

generic.py applies this layer to any flat schema. The corpus is three
of its columns, CORPUS_KINDS: its n_tok column IS the token list's
lengths stream (stored as n_tok_blob beside the values' tokens_blob),
so encode_batch refuses a chunk whose n_tok disagrees with its token
lists, and a decode of both n_tok and tokens decodes that stream once.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T

from eggopress.codecs import core as codecs
from eggopress.schema import CORPUS_ARROW_SCHEMA

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

# kind -> (has int64 min/max stats, raw bytes per value). For list kinds
# it is per element, and list_int counts 8 whatever the element width
_KINDS = {
    "int8": (True, 1), "int16": (True, 2), "int32": (True, 4),
    "int64": (True, 8),
    "f32": (False, 4), "f64": (False, 8),
    "ts": (True, 8), "date": (True, 4),
    "str": (False, None), "list_int": (False, 8),
    "list_f32": (False, 4), "list_f64": (False, 8),
}
# list kind -> the scalar kind of its elements
_ELEMENT_KIND = {"list_int": "int64", "list_f32": "f32", "list_f64": "f64"}

# the corpus as column kinds; n_tok is the tokens list's lengths stream
CORPUS_KINDS = {"doc_id": "str", "source": "str", "tokens": "list_int"}
COLUMNS = ("doc_id", "source", "n_tok", "tokens")


def _colkind(dt: T.DataType) -> str:
    if isinstance(dt, T.ByteType):
        return "int8"
    if isinstance(dt, T.ShortType):
        return "int16"
    if isinstance(dt, T.IntegerType):
        return "int32"
    if isinstance(dt, T.LongType):
        return "int64"
    if isinstance(dt, T.FloatType):
        return "f32"
    if isinstance(dt, T.DoubleType):
        return "f64"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, _INT_TYPES):
        # containsNull may be declared; density is enforced per chunk
        return "list_int"
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.FloatType):
        return "list_f32"
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.DoubleType):
        return "list_f64"
    raise ValueError(f"unsupported column type for generic encode: {dt}")


def _check_dense(name: str, arr: pa.Array) -> None:
    if arr.null_count:
        raise ValueError(
            f"encode is dense-only: column {name!r} has "
            f"{arr.null_count} nulls")


def _string_parts(arr: pa.Array) -> tuple[np.ndarray, bytes]:
    """StringArray -> (int64 lengths, concatenated utf8 buffer)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    b = arr.cast(pa.binary())
    offsets = np.frombuffer(
        b.buffers()[1], dtype=np.int32, count=len(b) + 1 + b.offset
    )[b.offset :].astype(np.int64)
    data = b.buffers()[2]
    buf = b"" if data is None else data.to_pybytes()[offsets[0] : offsets[-1]]
    return np.diff(offsets), buf


def _string_from_parts(lengths: np.ndarray, buf: bytes) -> pa.Array:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.Array.from_buffers(
        pa.utf8(), len(lengths), [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(buf)]
    )


def _int_values(kind: str, arr: pa.Array) -> np.ndarray:
    """Scalar column -> its int stream at native width (ints narrower
    than 32 bits are widened; the codecs take int32 and int64)."""
    if kind == "f64":
        return arr.to_numpy(zero_copy_only=False).view(np.int64)
    if kind == "f32":
        return arr.to_numpy(zero_copy_only=False).view(np.int32)
    if kind == "ts":
        arr = arr.cast(pa.int64())
    elif kind == "date":
        arr = arr.cast(pa.int32())
    ints = arr.to_numpy(zero_copy_only=False)
    return ints if ints.dtype.itemsize >= 4 else ints.astype(np.int64)


def _list_lengths(arr: pa.Array) -> np.ndarray:
    return np.diff(np.asarray(arr.offsets)).astype(np.int64)


def _encode_column(name: str, kind: str, arr: pa.Array
                   ) -> tuple[bytes | tuple[bytes, bytes], int, str]:
    """-> (blob, raw_bytes, codec). Dispatch is per COLUMN CHUNK, never
    per row. List kinds return a (lengths blob, values blob) pair, and
    the reported codec is the values stream's."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    _check_dense(name, arr)
    n = len(arr)
    if kind == "str":
        lengths, buf = _string_parts(arr)
        blob = codecs.encode_strs(lengths, buf)
        return blob, len(buf) + 4 * n, codecs.codec_of(blob)
    if kind in _ELEMENT_KIND:
        values = arr.flatten()
        _check_dense(name, values)
        val_blob = codecs.encode_ints(_int_values(_ELEMENT_KIND[kind], values))
        pair = (codecs.encode_ints(_list_lengths(arr)), val_blob)
        return (pair, _KINDS[kind][1] * len(values) + 4 * n,
                codecs.codec_of(val_blob))
    blob = codecs.encode_ints(_int_values(kind, arr))
    return blob, _KINDS[kind][1] * n, codecs.codec_of(blob)


def _int_stats(kind: str, arr: pa.Array) -> tuple[int, int, int]:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    ints = _int_values(kind, arr)
    if not len(ints):
        return 0, 0, 0
    return int(ints.min()), int(ints.max()), int(ints.sum(dtype=np.int64))


def _from_int64(ints: np.ndarray, field: pa.Field) -> pa.Array:
    """Decoded int64 stream -> typed column array (scalar kinds): the
    stream, narrowed to the field's width, is the column's values
    buffer (ints, IEEE bits, date days and epoch ticks alike). A stream
    that does not fit a narrower field raises ValueError naming the
    field instead of wrapping."""
    width = field.type.bit_width
    if width < 64 and len(ints):
        lo, hi = int(ints.min()), int(ints.max())
        if lo < -(1 << (width - 1)) or hi >= 1 << (width - 1):
            raise ValueError(
                f"decoded values of column {field.name!r} span "
                f"[{lo}, {hi}], outside its {width}-bit type {field.type}")
    vals = np.ascontiguousarray(ints, dtype=f"<i{width // 8}")
    return pa.Array.from_buffers(field.type, len(vals),
                                 [None, pa.py_buffer(vals)])


def _list_from_parts(lengths: np.ndarray, val_blob: bytes,
                     field: pa.Field) -> pa.Array:
    values = _from_int64(codecs.decode_ints(val_blob),
                         field.type.value_field.with_name(field.name))
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int64()).cast(pa.int32()), values,
    ).cast(field.type)


def _decode_column(kind: str, blob: bytes | tuple[bytes, bytes],
                   field: pa.Field) -> pa.Array:
    """Inverse of _encode_column; list kinds take the (lengths blob,
    values blob) pair."""
    if kind == "str":
        return _string_from_parts(*codecs.decode_strs(blob))
    if kind in _ELEMENT_KIND:
        len_blob, val_blob = blob
        return _list_from_parts(codecs.decode_ints(len_blob), val_blob,
                                field)
    return _from_int64(codecs.decode_ints(blob), field)


def _min_max(a: np.ndarray) -> tuple[int, int]:
    return (int(a.min()), int(a.max())) if len(a) else (0, 0)


def encode_batch(batch: pa.RecordBatch, partition_id: str, source: str,
                 salt: int, chunk_id: int) -> dict:
    """Encode one corpus batch (all rows must belong to one partition)."""
    n_rows = batch.num_rows
    tokens = batch.column("tokens")
    n_tok = batch.column("n_tok").to_numpy(zero_copy_only=False)
    bad = np.flatnonzero(n_tok != _list_lengths(tokens))
    if len(bad):
        raise ValueError(
            f"n_tok != len(tokens) in partition {partition_id!r} chunk "
            f"{chunk_id}: {len(bad)} rows, first doc_id "
            f"{batch.column('doc_id')[int(bad[0])].as_py()!r}")
    values = tokens.flatten().to_numpy(zero_copy_only=False)

    blobs: dict[str, bytes] = {}
    raw = 0
    for c, kind in CORPUS_KINDS.items():
        blob, r, _ = _encode_column(c, kind, batch.column(c))
        if kind in _ELEMENT_KIND:
            blobs["n_tok"], blobs[c] = blob
            # int32 token values + list offsets, plus the n_tok column
            r = 4 * len(values) + 8 * n_rows
        else:
            blobs[c] = blob
        raw += r

    row = {
        "source": source,
        "salt": salt,
        "partition_id": partition_id,
        "chunk_id": chunk_id,
        "n_rows": n_rows,
        "n_values": int(len(values)),
        "raw_bytes": int(raw),
        "encoded_bytes": sum(len(b) for b in blobs.values()),
    }
    # chunk-skipping stats: a predicate decode prunes chunks whose
    # [min, max] window misses the predicate (SURVEY.md §4)
    row["n_tok_min"], row["n_tok_max"] = _min_max(n_tok)
    row["tok_min"], row["tok_max"] = _min_max(values)
    for c in COLUMNS:
        row[f"{c}_blob"] = blobs[c]
        row[f"{c}_bytes"] = len(blobs[c])
        row[f"{c}_codec"] = codecs.codec_of(blobs[c])
    return row


# which encoded streams each corpus column needs at decode time; tokens
# re-nests through the n_tok lengths, so it pulls that stream too
BLOB_DEPS = {
    "doc_id": ("doc_id_blob",),
    "source": ("source_blob",),
    "n_tok": ("n_tok_blob",),
    "tokens": ("n_tok_blob", "tokens_blob"),
}


def decode_chunk_projected(columns: tuple[str, ...],
                           blobs: dict[str, bytes]) -> pa.RecordBatch:
    """Decode only `columns` of a chunk (column order = CORPUS schema
    order). `blobs` must hold every stream in BLOB_DEPS[c] for each
    requested column — and nothing forces it to hold the rest, which is
    the point: a projection never touches the undecoded streams."""
    fields = [f for f in CORPUS_ARROW_SCHEMA if f.name in columns]
    arrays: dict[str, pa.Array] = {}
    for c, kind in CORPUS_KINDS.items():
        field = CORPUS_ARROW_SCHEMA.field(c)
        if kind in _ELEMENT_KIND:
            if c not in columns and "n_tok" not in columns:
                continue
            # one decode of the lengths stream serves n_tok and tokens
            lengths = codecs.decode_ints(blobs["n_tok_blob"])
            if "n_tok" in columns:
                arrays["n_tok"] = _from_int64(
                    lengths, CORPUS_ARROW_SCHEMA.field("n_tok"))
            if c in columns:
                arrays[c] = _list_from_parts(lengths, blobs[f"{c}_blob"],
                                             field)
        elif c in columns:
            arrays[c] = _decode_column(kind, blobs[f"{c}_blob"], field)
    return pa.RecordBatch.from_arrays(
        [arrays[f.name] for f in fields], schema=pa.schema(fields)
    )
