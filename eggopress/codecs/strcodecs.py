"""String-column codecs over the (lengths, concatenated-utf8-buffer) form.

A string column chunk is decomposed Arrow-style into an int32 lengths
stream (encoded with the int auto-selector — ascending offsets come back
via cumsum) and one contiguous byte buffer. Three buffer strategies:

  str_plain — raw buffer
  str_fsst  — FSST symbol-table compression of the buffer (good for
              doc_id-like keys with shared prefixes / zero runs)
  str_dict  — dictionary over whole strings (good for low-cardinality
              columns like `source`); codes via the int auto-selector,
              the unique-string pool recursively via str_plain/str_fsst

Selection mirrors the int path: encode a deterministic sample under each
candidate, pick the smallest, plain-fallback guard.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from eggopress.codecs import fsst
from eggopress.codecs.framing import make_blob, pack_parts, split_blob, unpack_parts
from eggopress.codecs.intcodecs import decode_ints, encode_ints

SAMPLE_ROWS = 2048


def _slice(lengths: np.ndarray, buf: bytes, n: int) -> tuple[np.ndarray, bytes]:
    if n >= len(lengths):
        return lengths, buf
    ls = lengths[:n]
    return ls, buf[: int(ls.sum())]


def enc_str_plain(lengths: np.ndarray, buf: bytes,
                  _lblob: bytes | None = None) -> bytes:
    lblob = _lblob if _lblob is not None else encode_ints(lengths.astype(np.int64))
    return make_blob({"c": "str_plain", "n": int(len(lengths))}, pack_parts([lblob, buf]))


def dec_str_plain(header: dict, payload: bytes) -> tuple[np.ndarray, bytes]:
    lblob, buf = unpack_parts(payload)
    return decode_ints(lblob), buf


def enc_str_fsst(lengths: np.ndarray, buf: bytes,
                 _lblob: bytes | None = None) -> bytes:
    table = fsst.build_table(buf)
    enc = fsst.encode(buf, table)
    lblob = _lblob if _lblob is not None else encode_ints(lengths.astype(np.int64))
    header = {"c": "str_fsst", "n": int(len(lengths)), "tab": fsst.table_to_json(table)}
    return make_blob(header, pack_parts([lblob, enc]))


def dec_str_fsst(header: dict, payload: bytes) -> tuple[np.ndarray, bytes]:
    lblob, enc = unpack_parts(payload)
    table = fsst.table_from_json(header["tab"])
    return decode_ints(lblob), fsst.decode(enc, table)


def enc_str_dict(lengths: np.ndarray, buf: bytes) -> bytes:
    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    arr = pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(buf)]
    )
    d = arr.dictionary_encode()  # vectorized C++; codes in first-appearance order
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = d.dictionary
    uoff = np.frombuffer(uniq.buffers()[1], dtype=np.int32, count=len(uniq) + 1)
    ulens = np.diff(uoff).astype(np.int64)
    ubuf = uniq.buffers()[2].to_pybytes()[uoff[0] : uoff[-1]]
    ulblob = encode_ints(ulens)
    ublob_fsst = enc_str_fsst(ulens, ubuf, _lblob=ulblob)
    ublob_plain = enc_str_plain(ulens, ubuf, _lblob=ulblob)
    ublob = ublob_fsst if len(ublob_fsst) < len(ublob_plain) else ublob_plain
    cblob = encode_ints(codes)
    header = {"c": "str_dict", "n": n, "k": int(len(uniq))}
    return make_blob(header, pack_parts([cblob, ublob]))


def dec_str_dict(header: dict, payload: bytes) -> tuple[np.ndarray, bytes]:
    cblob, ublob = unpack_parts(payload)
    codes = decode_ints(cblob)
    ulens, ubuf = decode_strs(ublob)
    uoff = np.zeros(len(ulens) + 1, dtype=np.int64)
    np.cumsum(ulens, out=uoff[1:])
    uarr = np.frombuffer(ubuf, dtype=np.uint8)
    lengths = ulens[codes]
    # gather: build output buffer by fancy-indexing source ranges
    out_total = int(lengths.sum())
    if out_total == 0:
        return lengths, b""
    starts = uoff[codes]
    out_off = np.zeros(len(codes) + 1, dtype=np.int64)
    np.cumsum(lengths, out=out_off[1:])
    # index vector: for each output byte its source position
    idx = np.repeat(starts - out_off[:-1], lengths) + np.arange(out_total, dtype=np.int64)
    return lengths, uarr[idx].tobytes()


_DECODERS = {
    "str_plain": dec_str_plain,
    "str_fsst": dec_str_fsst,
    "str_dict": dec_str_dict,
}
_ENCODERS = {
    "str_plain": enc_str_plain,
    "str_fsst": enc_str_fsst,
    "str_dict": enc_str_dict,
}
STR_CODECS = tuple(_ENCODERS)


def encode_strs(lengths: np.ndarray, buf: bytes,
                candidates: tuple[str, ...] = STR_CODECS) -> bytes:
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    s_len, s_buf = _slice(lengths, buf, SAMPLE_ROWS)
    if candidates == STR_CODECS:
        return _encode_strs_default(lengths, buf, s_len, s_buf)
    best_name, best_size = "str_plain", None
    for name in candidates:
        size = len(_ENCODERS[name](s_len, s_buf))
        if best_size is None or size < best_size:
            best_name, best_size = name, size
    blob = _ENCODERS[best_name](lengths, buf)
    if best_name != "str_plain":
        p = enc_str_plain(lengths, buf)
        if len(blob) >= len(p):
            return p
    return blob


def _encode_strs_default(lengths: np.ndarray, buf: bytes,
                         s_len: np.ndarray, s_buf: bytes) -> bytes:
    """Default-candidates selection with provably-redundant work removed.
    Byte-identical to the generic loop above over (plain, fsst, dict) —
    pinned by test_encode_strs_matches_reference_selection:

    - the sample lengths blob is computed ONCE and shared by the plain
      and fsst probes (both embed the identical encode_ints(lengths)
      stream);
    - the fsst probe is SKIPPED when an exact lower bound on its blob
      size proves the argmin cannot change: fsst replaces symbols of at
      most 8 bytes with 1-byte codes, so its payload is >= len(lblob) +
      ceil(len(buf)/8) and the framed blob strictly larger. fsst is
      selected only if f < p (probe order), and dict then only if
      d < min(p, f); if LB >= p, fsst never replaces plain; if d < p and
      d < LB <= f, dict beats both — either way the winner is decided by
      the plain/dict comparison alone;
    - when the sample IS the whole column, probe blobs are reused as the
      full encodes (the same skip encode_ints applies to small streams);
    - the full-size plain guard is SKIPPED when the winner's blob is
      already <= len(buf): the full plain blob embeds buf verbatim plus
      a non-empty header and lengths stream, so it is strictly larger
      and can never be returned."""
    sample_is_full = len(lengths) <= SAMPLE_ROWS
    s_lblob = encode_ints(s_len)
    p_blob = enc_str_plain(s_len, s_buf, _lblob=s_lblob)
    p_size = len(p_blob)
    d_blob = enc_str_dict(s_len, s_buf)
    d_size = len(d_blob)
    f_lb = len(s_lblob) + (len(s_buf) + 7) // 8
    f_blob = None
    if not (f_lb >= p_size or (d_size < p_size and d_size < f_lb)):
        f_blob = enc_str_fsst(s_len, s_buf, _lblob=s_lblob)
    # same argmin/tie semantics as the probe loop: strict < replaces, in
    # (plain, fsst, dict) order
    best_name, best_size = "str_plain", p_size
    if f_blob is not None and len(f_blob) < best_size:
        best_name, best_size = "str_fsst", len(f_blob)
    if d_size < best_size:
        best_name, best_size = "str_dict", d_size
    if best_name == "str_plain":
        return p_blob if sample_is_full else enc_str_plain(lengths, buf)
    if sample_is_full:
        blob = {"str_fsst": f_blob, "str_dict": d_blob}[best_name]
        if len(blob) >= p_size:
            return p_blob
        return blob
    blob = _ENCODERS[best_name](lengths, buf)
    if len(blob) <= len(buf):  # full plain is strictly larger — guard moot
        return blob
    p = enc_str_plain(lengths, buf)
    if len(blob) >= len(p):
        return p
    return blob


def decode_strs(blob: bytes) -> tuple[np.ndarray, bytes]:
    """Returns (lengths:int64 array, concatenated utf8 buffer)."""
    header, payload = split_blob(blob)
    return _DECODERS[header["c"]](header, payload)
