"""Bit-packing primitives (capability C4, SURVEY.md §2.4).

Packs non-negative integers < 2**width into a little-endian bit stream.
Fully vectorized: encode expands to a (n, width) bit matrix and
``np.packbits``; decode uses ``np.unpackbits`` + a float64 matmul with the
power-of-two weight vector (exact: row sums < 2**32 <= 2**53).
Width is capped at 32 — values wider than that take the plain path.
"""

from __future__ import annotations

import numpy as np

MAX_WIDTH = 32


def bit_lengths(x: np.ndarray) -> np.ndarray:
    """Vectorized int.bit_length() for a uint64 array."""
    x = x.astype(np.uint64, copy=True)
    w = np.zeros(x.shape, dtype=np.uint8)
    for s in (32, 16, 8, 4, 2, 1):
        m = x >= np.uint64(1 << s)
        w[m] += s
        x[m] >>= np.uint64(s)
    w += x.astype(np.uint8)  # residual x is in {0,1}
    return w


def bit_lengths32(x: np.ndarray) -> np.ndarray:
    """bit_lengths for uint32 input (hot path): the binary exponent of the
    value as a float64, exact for every uint32 (0 maps to 0)."""
    return np.frexp(x.astype(np.float64))[1].astype(np.uint8)


def pack(vals: np.ndarray, width: int) -> bytes:
    """Pack vals (non-negative, < 2**width) into width bits each.

    Layout: width = 8q + r is stored as q contiguous byte planes (plane j =
    byte j of every value) followed by a little-endian bit stream of the r
    high bits. Exactly ceil(n*width bits) of payload, but every pass writes
    contiguously — no strided stores, no wide-int intermediates.
    """
    n = len(vals)
    if width == 0 or n == 0:
        return b""
    if width > MAX_WIDTH:
        raise ValueError(f"bitpack width {width} > {MAX_WIDTH}")
    v = vals.astype(np.uint32, copy=False)
    q, r = divmod(width, 8)
    parts = []
    for j in range(q):
        parts.append(((v >> np.uint32(8 * j)) & np.uint32(0xFF)).astype(np.uint8).tobytes())
    if r:
        hi = v >> np.uint32(8 * q)  # values < 2**r, r in 1..7
        parts.append(_pack_small(hi, r))
    return b"".join(parts)


def _pack_small(vals: np.ndarray, r: int) -> bytes:
    """Pack values < 2**r (1<=r<=7) at exactly r bits each: 8 values land
    in one little-endian uint64 word occupying its low r bytes — pure
    integer arithmetic, no bit matrices or transposes."""
    n = len(vals)
    m = (n + 7) // 8
    padded = np.zeros(m * 8, dtype=np.uint64)
    padded[:n] = vals.astype(np.uint64, copy=False)
    V = padded.reshape(m, 8)
    shifts = (np.uint64(r) * np.arange(8, dtype=np.uint64))
    words = (V << shifts).sum(axis=1, dtype=np.uint64)  # disjoint bit ranges
    by = words.astype("<u8").view(np.uint8).reshape(m, 8)[:, :r]
    return np.ascontiguousarray(by).tobytes()[: (n * r + 7) // 8]


def _unpack_small(buf: bytes, r: int, n: int) -> np.ndarray:
    m = (n + 7) // 8
    raw = np.zeros(m * 8, dtype=np.uint8)
    src = np.frombuffer(buf, dtype=np.uint8)
    by = raw.reshape(m, 8)
    flat = np.zeros(m * r, dtype=np.uint8)
    flat[: len(src)] = src[: m * r]
    by[:, :r] = flat.reshape(m, r)
    words = raw.view("<u8")
    mask = np.uint64((1 << r) - 1)
    out = np.empty((m, 8), dtype=np.uint64)
    for k in range(8):
        out[:, k] = (words >> np.uint64(r * k)) & mask
    return out.ravel()[:n]


def unpack(buf: bytes, width: int, n: int) -> np.ndarray:
    """Inverse of pack; returns uint64 array of length n."""
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    q, r = divmod(width, 8)
    out = np.zeros(n, dtype=np.uint32)
    off = 0
    for j in range(q):
        plane = np.frombuffer(buf, dtype=np.uint8, count=n, offset=off)
        out |= plane.astype(np.uint32) << np.uint32(8 * j)
        off += n
    if r:
        hi = _unpack_small(buf[off:], r, n).astype(np.uint32)
        out |= hi << np.uint32(8 * q)
    return out.astype(np.uint64)
