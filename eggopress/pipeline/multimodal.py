"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode / feature-extraction as Arrow-batched Pandas UDFs.

The fixture synthesizes REAL BMP files (the 'BM' magic, little-endian
file-size, and a BITMAPINFOHEADER carrying width/height/bpp at fixed
offsets), so feature extraction is a genuine binary media-header decode —
np.frombuffer at header offsets over one concatenated batch buffer, zero
per-element Python — with an exact DuckDB oracle (the header fields are
deterministic functions of the document). ``decode_image`` REALLY decodes
one compressed raster format — 8-bpp BMP BI_RLE8, a bytes-only
run-length scheme implementable in pure numpy (encoded runs, absolute
mode, EOL/EOB escapes) — with an exact closed-form pixel oracle; pixel
decode of entropy-coded formats (PNG/JPEG/audio/video) still needs a
media library the container doesn't ship and still raises
NotImplementedError.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, byte_len int, width int, height int, bpp int, "
    "checksum bigint, mime string"
)

ADLER_MOD = 65_521
BMP_HEADER_LEN = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER


def _bmp_headers(byte_len: np.ndarray, width: np.ndarray,
                 height: np.ndarray) -> np.ndarray:
    """(n, 54) uint8 header matrix, fully vectorized."""
    n = len(byte_len)
    hdr = np.zeros((n, BMP_HEADER_LEN), dtype=np.uint8)
    hdr[:, 0] = 0x42  # 'B'
    hdr[:, 1] = 0x4D  # 'M'

    def le32(col: int, vals: np.ndarray) -> None:
        v = vals.astype(np.int64)
        for k in range(4):
            hdr[:, col + k] = (v >> (8 * k)) & 0xFF

    le32(2, byte_len + BMP_HEADER_LEN)  # file size
    le32(10, np.full(n, BMP_HEADER_LEN))  # pixel-data offset
    le32(14, np.full(n, 40))  # DIB header size
    le32(18, width)
    le32(22, height)
    hdr[:, 26] = 1  # planes
    hdr[:, 28] = 24  # bits per pixel
    return hdr


def attach_binary(df: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload:binary, meta struct) — the multimodal
    table shape. payload is a real BMP: 54-byte header (width/height
    derived deterministically from n_chars so the oracle can check the
    parsed values) followed by the utf-8 text standing in for pixel data.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = [t.encode("utf-8") for t in pdf["text"]]
            blen = np.fromiter((len(t) for t in texts), dtype=np.int64,
                               count=len(texts))
            width = (blen % 640) + 1
            height = ((blen * 3) % 480) + 1
            hdrs = _bmp_headers(blen, width, height)
            payloads = [hdrs[i].tobytes() + texts[i] for i in range(len(texts))]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "n_bytes": (blen + BMP_HEADER_LEN).astype("int64"),
                "mime": "image/bmp",
            })

    flat = df.select("doc_id", "text").mapInPandas(
        fn, "doc_id bigint, payload binary, n_bytes bigint, mime string"
    )
    return flat.select(
        "doc_id",
        "payload",
        F.struct(F.col("n_bytes"), F.col("mime")).alias("meta"),
    )


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched BMP header decode over binary payloads (mapInPandas).

    One concatenated buffer per batch + offset arithmetic: magic check,
    little-endian width/height/bpp reads at fixed header offsets, and an
    adler-style checksum over the pixel bytes — all vectorized numpy, zero
    per-element Python in the hot path."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            byte_len = payloads.str.len().to_numpy(dtype=np.int64)
            buf = np.frombuffer(b"".join(payloads.tolist()), dtype=np.uint8)
            ends = np.cumsum(byte_len)
            starts = ends - byte_len
            if np.any(byte_len < BMP_HEADER_LEN):
                raise ValueError("payload shorter than a BMP header")
            magic_ok = (buf[starts] == 0x42) & (buf[starts + 1] == 0x4D)
            if not np.all(magic_ok):
                raise ValueError("payload without BMP magic")

            def le32(off: int) -> np.ndarray:
                v = buf[starts + off].astype(np.int64)
                for k in range(1, 4):
                    v |= buf[starts + off + k].astype(np.int64) << (8 * k)
                return v

            width = le32(18).astype("int32")
            height = le32(22).astype("int32")
            bpp = (buf[starts + 28].astype(np.int64)
                   | (buf[starts + 29].astype(np.int64) << 8)).astype("int32")
            # checksum over pixel data only (bytes after the header)
            cs = np.concatenate(([0], np.cumsum(buf, dtype=np.int64)))
            checksum = ((cs[ends] - cs[starts + BMP_HEADER_LEN]) % ADLER_MOD).astype("int64")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "byte_len": byte_len.astype("int32"),
                "width": width,
                "height": height,
                "bpp": bpp,
                "checksum": checksum,
                "mime": pdf["mime"],
            })

    flat = assets.select("doc_id", "payload", F.col("meta.mime").alias("mime"))
    return flat.mapInPandas(fn, FEATURE_SCHEMA)


# ----------------------------------------------------- raster ops
# Real image/video OPERATIONS without media libraries: the fixture
# synthesizes raw rasters with a closed-form pixel function
# pixel(x, y, frame, doc) = (x + y + frame + doc_id) % 256, so
# nearest-neighbor resize and frame sampling are genuinely computed over
# pixel buffers AND their checksums have exact SQL oracles.

RASTER_MIME = "video/x-raw-gray"


def _raster_dims(doc_ids: "np.ndarray"):
    w = (doc_ids % 13) + 4
    h = (doc_ids % 7) + 3
    frames = (doc_ids % 3) + 1
    return w, h, frames


def attach_raster(df: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload:binary, meta{width,height,n_frames,
    mime}): a deterministic single-channel raster 'video' per doc
    (n_frames stacked width x height planes)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            w, h, fr = _raster_dims(ids)
            payloads = []
            for i in range(len(ids)):
                x = np.arange(w[i], dtype=np.int64)
                y = np.arange(h[i], dtype=np.int64)
                f = np.arange(fr[i], dtype=np.int64)
                px = (x[None, None, :] + y[None, :, None] + f[:, None, None]
                      + ids[i]) % 256
                payloads.append(px.astype(np.uint8).tobytes())
            yield pd.DataFrame({
                "doc_id": ids,
                "payload": payloads,
                "width": w.astype("int32"),
                "height": h.astype("int32"),
                "n_frames": fr.astype("int32"),
            })

    flat = df.select("doc_id").mapInPandas(
        fn, "doc_id bigint, payload binary, width int, height int, n_frames int"
    )
    return flat.select(
        "doc_id", "payload",
        F.struct("width", "height", "n_frames",
                 F.lit(RASTER_MIME).alias("mime")).alias("meta"),
    )


def _dim_groups(pdf: pd.DataFrame):
    """Yield (row_indices, w, h, fr, stacked) per distinct (w, h, fr)
    group of an Arrow batch: all pixel gathering happens as ONE fancy
    index per group over one concatenated buffer — the dims are
    low-cardinality by construction, so the only Python-level loop left
    runs once per distinct shape, not once per image. (iterrows, the
    previous idiom, paid pandas Series construction per ROW on top of
    the per-image loop.)"""
    if len(pdf) == 0:
        return
    w = pdf["width"].to_numpy(dtype=np.int64)
    h = pdf["height"].to_numpy(dtype=np.int64)
    fr = pdf["n_frames"].to_numpy(dtype=np.int64)
    sizes = w * h * fr
    buf = np.frombuffer(b"".join(pdf["payload"].tolist()), dtype=np.uint8)
    ends = np.cumsum(sizes)
    starts = ends - sizes
    if len(buf) != int(ends[-1] if len(ends) else 0):
        raise ValueError("raster payload length disagrees with meta dims")
    key = (w << 40) | (h << 20) | fr
    order = np.argsort(key, kind="stable")
    bounds = np.flatnonzero(np.diff(key[order])) + 1
    for grp in np.split(order, bounds):
        gw, gh, gf = int(w[grp[0]]), int(h[grp[0]]), int(fr[grp[0]])
        flat_idx = starts[grp][:, None] + np.arange(gw * gh * gf)[None, :]
        yield grp, gw, gh, gf, buf[flat_idx].reshape(len(grp), gf, gh, gw)


def resize_frames(assets: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of every frame to (out_w, out_h) — a REAL
    pixel operation: each output pixel gathers in[y*h//out_h, x*w//out_w].
    Images are processed as one stacked (n, frames, h, w) ndarray per
    distinct-dims group (see _dim_groups): index-map build, gather, and
    checksum are each one vectorized numpy op over the whole group."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ox = np.arange(out_w, dtype=np.int64)
        oy = np.arange(out_h, dtype=np.int64)
        for pdf in batches:
            n = len(pdf)
            out_payload: list = [None] * n
            out_sum = np.zeros(n, dtype=np.int64)
            for grp, gw, gh, gf, stacked in _dim_groups(pdf):
                sx = (ox * gw) // out_w
                sy = (oy * gh) // out_h
                resized = stacked[:, :, sy[:, None], sx[None, :]]
                out_sum[grp] = resized.sum(axis=(1, 2, 3), dtype=np.int64)
                flat = resized.reshape(len(grp), -1)
                for j, i in enumerate(grp):
                    out_payload[i] = flat[j].tobytes()
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": out_payload,
                "width": np.full(n, out_w, dtype="int32"),
                "height": np.full(n, out_h, dtype="int32"),
                "n_frames": pdf["n_frames"],
                "pixel_sum": out_sum,
            })

    flat = assets.select("doc_id", "payload", "meta.width", "meta.height",
                         "meta.n_frames")
    return flat.mapInPandas(
        fn, "doc_id bigint, payload binary, width int, height int, "
            "n_frames int, pixel_sum bigint"
    )


def sample_frames(assets: DataFrame, every_k: int = 2) -> DataFrame:
    """Keep every k-th frame (frame 0, k, 2k, ...): one output row per
    sampled frame with its pixel checksum — the video-pipeline
    frame-extraction shape. Per distinct-dims group the kept frames are
    sliced and checksummed as one stacked ndarray op."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            ids, fidx, sums, frames = [], [], [], []
            for grp, gw, gh, gf, stacked in _dim_groups(pdf):
                kept = np.arange(0, gf, every_k)
                sub = stacked[:, kept]  # (g, nk, h, w)
                gsums = sub.sum(axis=(2, 3), dtype=np.int64)
                ids.append(np.repeat(doc_ids[grp], len(kept)))
                fidx.append(np.tile(kept, len(grp)))
                sums.append(gsums.reshape(-1))
                flat = sub.reshape(len(grp) * len(kept), gh * gw)
                frames.extend(flat[j].tobytes() for j in range(flat.shape[0]))
            yield pd.DataFrame({
                "doc_id": np.concatenate(ids) if ids else np.array([], dtype="int64"),
                "frame_idx": (np.concatenate(fidx) if fidx else np.array([])).astype("int32"),
                "pixel_sum": np.concatenate(sums) if sums else np.array([], dtype="int64"),
                "frame": frames,
            })

    flat = assets.select("doc_id", "payload", "meta.width", "meta.height",
                         "meta.n_frames")
    return flat.mapInPandas(
        fn, "doc_id bigint, frame_idx int, pixel_sum bigint, frame binary"
    )


# ------------------------------------------------- BMP BI_RLE8 decode
# The one pixel-decode a pure-numpy engine CAN do honestly: BI_RLE8 is a
# bytes-only run-length scheme (encoded runs, absolute mode, EOL/EOB
# escapes — Windows BMP spec), no entropy coding, no media library
# needed. The fixture synthesizes genuinely RLE-compressed payloads with
# a closed-form pixel function, so the decoded pixel checksum has an
# exact SQL oracle; every third doc encodes its first stored row in
# ABSOLUTE mode so both encoding modes are exercised.

RLE_MIME = "image/bmp;compression=rle8"


def _rle_dims(doc_ids: np.ndarray):
    w = (doc_ids % 19) + 5
    h = (doc_ids % 7) + 3
    runlen = (doc_ids % 5) + 2
    return w, h, runlen


def attach_rle_bmp(df: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload:binary, meta) where payload is an
    8-bpp BI_RLE8-compressed BMP. Pixel function (top-down coordinates):
    pixel(x, y) = (y + doc_id + x // runlen) % 256 — constant within
    runs of `runlen`, so the RLE encoding is real compression, and the
    decoded checksum is closed-form for the oracle. Rows are stored
    bottom-up (positive biHeight), each terminated by the 00 00 EOL
    escape, stream terminated by 00 01; docs with doc_id % 3 == 0 store
    their FIRST stored row in absolute mode (00 n literals, word-
    aligned)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            ws, hs, rls = _rle_dims(ids)
            payloads = []
            for doc, w, h, rl in zip(ids.tolist(), ws.tolist(),
                                     hs.tolist(), rls.tolist()):
                stream = bytearray()
                first_stored = True
                for y in range(h - 1, -1, -1):  # bottom-up storage
                    if doc % 3 == 0 and first_stored:
                        # absolute mode: 00 <n> <n literal bytes> <pad>
                        vals = bytes(
                            (y + doc + x // rl) % 256 for x in range(w))
                        stream += b"\x00" + bytes([w]) + vals
                        if w % 2:
                            stream += b"\x00"  # word alignment pad
                    else:
                        for x0 in range(0, w, rl):
                            count = min(rl, w - x0)
                            val = (y + doc + x0 // rl) % 256
                            stream += bytes([count, val])
                    stream += b"\x00\x00"  # end of line
                    first_stored = False
                stream += b"\x00\x01"  # end of bitmap
                hdr = np.zeros(BMP_HEADER_LEN, dtype=np.uint8)
                hdr[0], hdr[1] = 0x42, 0x4D
                for off, v in ((2, BMP_HEADER_LEN + len(stream)),
                               (10, BMP_HEADER_LEN), (14, 40),
                               (18, w), (22, h), (30, 1)):  # compression=1
                    for k in range(4):
                        hdr[off + k] = (v >> (8 * k)) & 0xFF
                hdr[26] = 1  # planes
                hdr[28] = 8  # bits per pixel
                payloads.append(hdr.tobytes() + bytes(stream))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "n_bytes": [len(p) for p in payloads],
                "mime": RLE_MIME,
            })

    flat = df.select("doc_id").mapInPandas(
        fn, "doc_id bigint, payload binary, n_bytes bigint, mime string")
    return flat.select(
        "doc_id", "payload",
        F.struct(F.col("n_bytes"), F.col("mime")).alias("meta"))


def decode_image(payload: bytes) -> np.ndarray:
    """One BI_RLE8 BMP payload -> (h, w) uint8 pixel array (top-down).
    This is the one format a pure-numpy engine can honestly own:
    anything entropy-coded (PNG/JPEG/audio/video) raises, since no media
    library ships with the engine and pretending otherwise would be a
    silent wrong-pixels bug waiting to happen.

    The scan is per-RUN Python (the escape grammar is inherently
    sequential: absolute mode consumes a variable, padded span), but
    pixel expansion is np.repeat over the collected (count, value)
    arrays — work per pixel stays vectorized. Delta escapes (00 02)
    raise: they leave pixels undefined, which a checksum contract can't
    represent."""
    buf = np.frombuffer(payload, dtype=np.uint8)
    if len(buf) < BMP_HEADER_LEN or buf[0] != 0x42 or buf[1] != 0x4D:
        raise ValueError("not a BMP payload")

    def le32(off: int) -> int:
        return int(buf[off]) | int(buf[off + 1]) << 8 | \
            int(buf[off + 2]) << 16 | int(buf[off + 3]) << 24

    w, h = le32(18), le32(22)
    bpp = int(buf[28]) | int(buf[29]) << 8
    compression = le32(30)
    if bpp != 8 or compression != 1:
        raise NotImplementedError(
            f"only 8-bpp BI_RLE8 decodes here (got bpp={bpp}, "
            f"compression={compression}); other formats need a media "
            "library this environment doesn't ship")
    data = bytes(payload[le32(10):])
    rows: list[np.ndarray] = []
    segments: list[np.ndarray] = []  # in-order row pieces
    counts: list[int] = []  # pending encoded runs (batched for np.repeat)
    values: list[int] = []
    i = 0

    def flush_pending() -> None:
        if counts:
            segments.append(np.repeat(np.array(values, dtype=np.uint8),
                                      np.array(counts, dtype=np.int64)))
            counts.clear(); values.clear()

    def flush_row() -> None:
        flush_pending()
        row = (np.concatenate(segments) if segments
               else np.empty(0, dtype=np.uint8))
        if len(row) != w:
            raise ValueError(f"row length {len(row)} != width {w}")
        rows.append(row)
        segments.clear()

    while i + 1 < len(data):
        c, v = int(data[i]), int(data[i + 1])
        i += 2
        if c > 0:  # encoded run
            counts.append(c); values.append(v)
        elif v == 0:  # end of line
            flush_row()
        elif v == 1:  # end of bitmap
            break
        elif v == 2:
            raise NotImplementedError("BI_RLE8 delta escape unsupported")
        else:  # absolute mode: v literal bytes, word-aligned
            flush_pending()  # literals sit between runs — keep order
            segments.append(
                np.frombuffer(data[i : i + v], dtype=np.uint8))
            i += v + (v % 2)
    if len(rows) != h:
        raise ValueError(f"decoded {len(rows)} rows, expected {h}")
    return np.flipud(np.stack(rows))  # bottom-up storage -> top-down


def decode_rle_frames(assets: DataFrame) -> DataFrame:
    """Arrow-batched BI_RLE8 decode over the payload column: parses +
    decompresses every payload and emits an order-sensitive pixel
    checksum (sum of pixel * (row-major index + 1)) — the proof the
    whole image decoded, in the right order, at the right size."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_w, out_h, npx, cks = [], [], [], []
            for payload in pdf["payload"]:
                img = decode_image(payload)
                h, w = img.shape
                out_w.append(w); out_h.append(h); npx.append(w * h)
                weights = np.arange(1, w * h + 1, dtype=np.int64)
                cks.append(int((img.reshape(-1).astype(np.int64) * weights).sum()))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": np.array(out_w, dtype=np.int32),
                "height": np.array(out_h, dtype=np.int32),
                "n_pixels": np.array(npx, dtype=np.int64),
                "pixel_checksum": np.array(cks, dtype=np.int64),
            })

    return assets.select("doc_id", "payload").mapInPandas(
        fn,
        "doc_id bigint, width int, height int, n_pixels bigint, "
        "pixel_checksum bigint",
    )


def rle_decode_oracle() -> str:
    """Closed-form checksum of the decoded BI_RLE8 pixels: the fixture's
    pixel function evaluated symbolically over the (x, y) grid."""
    return """
SELECT doc_id,
       cast(w as int) AS width,
       cast(h as int) AS height,
       cast(w * h as bigint) AS n_pixels,
       cast(list_sum(list_transform(generate_series(0, h - 1), y ->
            list_sum(list_transform(generate_series(0, w - 1), x ->
              ((y + doc_id + (x // runlen)) % 256) * (y * w + x + 1)
            )))) as bigint) AS pixel_checksum
FROM (SELECT doc_id,
             (doc_id % 19) + 5 AS w,
             (doc_id % 7) + 3 AS h,
             (doc_id % 5) + 2 AS runlen
      FROM documents)
"""


def _pixel_sum_duck(x_hi: str, y_hi: str, sx: str, sy: str, extra: str) -> str:
    """SQL closed form of sum over out pixels of ((sx + sy + extra) % 256)."""
    return (
        f"list_sum(list_transform(generate_series(0, {y_hi} - 1), oy -> "
        f"list_sum(list_transform(generate_series(0, {x_hi} - 1), ox -> "
        f"(({sx}) + ({sy}) + ({extra})) % 256))))"
    )


def resize_oracle(out_w: int, out_h: int) -> str:
    """Checksums of the nearest-neighbor-resized first... ALL frames,
    computed symbolically from the pixel formula."""
    inner = _pixel_sum_duck(
        str(out_w), str(out_h),
        f"(ox * w) // {out_w}", f"(oy * h) // {out_h}", "f + doc_id"
    )
    return f"""
SELECT doc_id,
       cast({out_w} as int) AS width,
       cast({out_h} as int) AS height,
       cast(n_frames as int) AS n_frames,
       cast(list_sum(list_transform(generate_series(0, n_frames - 1), f ->
         {inner})) as bigint) AS pixel_sum
FROM (SELECT doc_id,
             (doc_id % 13) + 4 AS w,
             (doc_id % 7) + 3 AS h,
             (doc_id % 3) + 1 AS n_frames
      FROM documents)
"""


def sample_frames_oracle(every_k: int = 2) -> str:
    inner = _pixel_sum_duck("w", "h", "ox", "oy", "f + doc_id")
    return f"""
SELECT doc_id,
       cast(f as int) AS frame_idx,
       cast({inner} as bigint) AS pixel_sum
FROM (SELECT doc_id,
             (doc_id % 13) + 4 AS w,
             (doc_id % 7) + 3 AS h,
             unnest(generate_series(0, (doc_id % 3))) AS f
      FROM documents)
WHERE f % {every_k} = 0
"""


# the header fields are deterministic functions of the document (and the
# ascii-only corpus makes the pixel checksum the character-code sum), so
# the WHOLE feature row — including the dims parsed back out of the binary
# header — has an exact SQL oracle
FEATURES_ORACLE = f"""
SELECT doc_id,
       cast(n_chars + {BMP_HEADER_LEN} as int) AS byte_len,
       cast((n_chars % 640) + 1 as int) AS width,
       cast(((n_chars * 3) % 480) + 1 as int) AS height,
       cast(24 as int) AS bpp,
       cast(coalesce(list_sum(list_transform(string_split_regex(text, ''), c -> ascii(c))), 0) % {ADLER_MOD} as bigint) AS checksum,
       'image/bmp' AS mime
FROM documents
"""
