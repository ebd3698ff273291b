"""In-process pricing of the layers that run inside Spark's Python
workers (codecs, chunk), by replaying the same seeded inputs the Spark
run encodes through the public functions of eggopress.codecs and
eggopress.chunk on one core."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa

STREAM_VALUES = 1 << 18  # values per priced int stream
REPS = 3
_ZSTD = pa.Codec("zstd")


def _timed(fn):
    """-> (median seconds over REPS calls, the last call's result)."""
    ts = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        out = fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts), out


def _string_parts(arr: pa.Array) -> tuple[np.ndarray, bytes]:
    b = arr.cast(pa.binary())
    offs = np.frombuffer(b.buffers()[1], dtype=np.int32,
                         count=len(b) + 1 + b.offset)[b.offset:].astype(np.int64)
    data = b.buffers()[2]
    buf = b"" if data is None else data.to_pybytes()[offs[0]:offs[-1]]
    return np.diff(offs), buf


def _price(n: int, enc, dec) -> dict:
    from eggopress.codecs import core as codecs

    t_enc, blob = _timed(enc)
    t_dec, _ = _timed(lambda: dec(blob))
    return {
        "values": n,
        "enc_mvals_per_s": n / t_enc / 1e6,
        "dec_mvals_per_s": n / t_dec / 1e6,
        "bits_per_value": 8.0 * len(blob) / n,
        "bits_per_value_zstd": 8.0 * len(_ZSTD.compress(blob)) / n,
        "winner": codecs.codec_of(blob),
    }


def price_ints(stream: np.ndarray) -> dict:
    from eggopress.codecs import core as codecs

    s = np.ascontiguousarray(stream)
    return _price(len(s), lambda: codecs.encode_ints(s), codecs.decode_ints)


def price_strs(arr: pa.Array) -> dict:
    from eggopress.codecs import core as codecs

    lengths, buf = _string_parts(arr)
    return _price(len(lengths), lambda: codecs.encode_strs(lengths, buf),
                  codecs.decode_strs)


def corpus_block(seed: int) -> pa.RecordBatch:
    from eggopress import synth

    return synth.gen_block(0, synth.BLOCK_DOCS, seed)


def corpus_streams(block: pa.RecordBatch) -> dict[str, np.ndarray]:
    """Token streams per synth regime (doc index mod 10), plus n_tok."""
    n = block.num_rows
    n_tok = block.column("n_tok").to_numpy().astype(np.int64)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offs[1:])
    values = block.column("tokens").flatten().to_numpy().astype(np.int64)
    regime = np.arange(n) % 10
    groups = {"zipf": (0, 1, 2, 3), "runs": (4, 5), "narrow": (6, 7),
              "uniform": (8,), "edge": (9,)}
    out = {}
    for name, regs in groups.items():
        docs = np.flatnonzero(np.isin(regime, regs))
        parts, total = [], 0
        for d in docs:
            parts.append(values[offs[d]:offs[d + 1]])
            total += len(parts[-1])
            if total >= STREAM_VALUES:
                break
        out[name] = np.concatenate(parts)[:STREAM_VALUES]
    out["n_tok"] = n_tok
    return out


def price_shapes(seed: int, lineitem_rows: pa.Table) -> dict:
    block = corpus_block(seed)
    shapes = {k: price_ints(v) for k, v in corpus_streams(block).items()}
    shapes["doc_id"] = price_strs(block.column("doc_id"))
    shapes["li_str"] = price_strs(
        lineitem_rows.column("l_comment").combine_chunks())
    shapes["li_f64"] = price_ints(
        lineitem_rows.column("l_extendedprice").to_numpy().view(np.int64))
    return shapes


def price_chunk(seed: int, chunk_rows: int) -> dict:
    """One chunk_rows-row corpus chunk through chunk.encode_batch and
    chunk.decode_chunk_projected; codec_share is the part of encode_batch
    spent inside the four codec calls on the same column streams."""
    from eggopress import chunk
    from eggopress.codecs import core as codecs

    batch = corpus_block(seed).slice(0, chunk_rows)
    doc = _string_parts(batch.column("doc_id"))
    src = _string_parts(batch.column("source"))
    n_tok = batch.column("n_tok").to_numpy().astype(np.int64)
    values = batch.column("tokens").flatten().to_numpy().astype(np.int32)
    # encode_batch and the bare codec calls alternate, so drift in the
    # machine's speed hits both alike
    t_enc, t_codec = [], []
    for _ in range(REPS):
        t0 = time.perf_counter()
        row = chunk.encode_batch(batch, "source=web/salt=0", "web", 0, 0)
        t1 = time.perf_counter()
        codecs.encode_strs(*doc)
        codecs.encode_strs(*src)
        codecs.encode_ints(n_tok)
        codecs.encode_ints(values)
        t_codec.append(time.perf_counter() - t1)
        t_enc.append(t1 - t0)
    blobs = {k: row[k] for k in ("doc_id_blob", "source_blob", "n_tok_blob",
                                 "tokens_blob")}
    t_dec, _ = _timed(lambda: chunk.decode_chunk_projected(
        tuple(chunk.COLUMNS), blobs))
    enc_s, codec_s = statistics.median(t_enc), statistics.median(t_codec)
    return {
        "rows": batch.num_rows,
        "values": int(len(values)),
        "encode_batch_ms": 1000.0 * enc_s,
        "decode_ms": 1000.0 * t_dec,
        "codec_ms": 1000.0 * codec_s,
        "codec_share": codec_s / enc_s if enc_s > 0 else 0.0,
    }
