"""Codec unit tests: decode(encode(x)) == x exactly, adversarial inputs.

SURVEY.md §5 items 1-2. Deterministic seeds throughout.
"""

import numpy as np
import pytest

from eggopress.codecs import core
from eggopress.codecs import bitpack, fsst
from eggopress.codecs.intcodecs import (
    dec_delta,
    dec_dict,
    dec_forbp,
    dec_plain,
    dec_rle,
    enc_delta,
    enc_dict,
    enc_forbp,
    enc_plain,
    enc_rle,
)
from eggopress.codecs.framing import split_blob

RNG = np.random.default_rng(42)

INT_CASES = {
    "empty": np.zeros(0, dtype=np.int32),
    "single": np.array([7], dtype=np.int32),
    "all_equal": np.full(1000, 123, dtype=np.int32),
    "ascending": np.arange(5000, dtype=np.int32),
    "descending": np.arange(5000, dtype=np.int32)[::-1].copy(),
    "zipf": np.minimum(RNG.zipf(1.3, 20000), 50257).astype(np.int32),
    "runny": np.repeat(
        RNG.integers(0, 50, 500).astype(np.int32), RNG.geometric(0.05, 500)
    ),
    "narrow": (RNG.integers(0, 2**6, 10000) + 2**29).astype(np.int32),
    "incompressible": RNG.integers(0, 2**31, 10000, dtype=np.int64).astype(np.int32),
    "extremes": np.array([0, 2147483647, -2147483648, 1, -1], dtype=np.int32),
    "block_edge": np.arange(128 * 3 + 1, dtype=np.int32),
    "int64_runs": np.repeat(np.array([2**40, 0, 2**40], dtype=np.int64), 100),
}


@pytest.mark.parametrize("name", list(INT_CASES))
def test_int_auto_roundtrip(name):
    arr = INT_CASES[name]
    blob = core.encode_ints(arr)
    out = core.decode_ints(blob)
    np.testing.assert_array_equal(out, arr.astype(np.int64))


@pytest.mark.parametrize("name", list(INT_CASES))
@pytest.mark.parametrize(
    "enc,dec",
    [(enc_plain, dec_plain), (enc_forbp, dec_forbp), (enc_rle, dec_rle),
     (enc_dict, dec_dict), (enc_delta, dec_delta)],
    ids=["plain", "forbp", "rle", "dict", "delta"],
)
def test_each_int_codec_roundtrip(name, enc, dec):
    arr = INT_CASES[name]
    try:
        blob = enc(arr)
    except OverflowError:
        pytest.skip("residual too wide for this codec (falls back in auto)")
    header, payload = split_blob(blob)
    if header["c"] in ("rle", "dict", "delta"):
        out = core.decode_ints(blob)
    else:
        out = dec(header, payload)
    np.testing.assert_array_equal(out, arr.astype(np.int64))


def test_delta_wins_sorted_streams():
    """A sorted key stream must select delta and land far below forbp
    (the step sizes, not the value widths, set the bit cost); the
    zigzag handles descending runs; extreme ranges skip the candidate
    via OverflowError instead of wrapping."""
    sorted_keys = np.sort(RNG.integers(0, 2**40, 50_000)).astype(np.int64)
    blob = core.encode_ints(sorted_keys)
    assert core.codec_of(blob) == "delta"
    np.testing.assert_array_equal(core.decode_ints(blob), sorted_keys)
    # values are ~40-bit, steps are ~24-bit: delta must land well under
    # the plain fallback a bare FOR overflows into on this range
    assert len(blob) < 0.5 * len(enc_plain(sorted_keys))

    desc = sorted_keys[::-1].copy()
    np.testing.assert_array_equal(core.decode_ints(core.encode_ints(desc)), desc)

    wide = np.array([-(2**62), 2**62], dtype=np.int64)
    with pytest.raises(OverflowError):
        enc_delta(wide)
    np.testing.assert_array_equal(  # auto path skips delta, still exact
        core.decode_ints(core.encode_ints(wide)), wide)


def test_selection_deterministic_and_beats_plain():
    arr = INT_CASES["runny"]
    b1, b2 = core.encode_ints(arr), core.encode_ints(arr)
    assert b1 == b2
    assert len(b1) <= 4 * len(arr) + 44
    assert core.codec_of(b1) == "rle"


def test_selection_plain_fallback_on_incompressible():
    arr = INT_CASES["incompressible"]
    blob = core.encode_ints(arr)
    assert len(blob) <= 4 * len(arr) + 44 + 8


def test_bitpack_roundtrip_widths():
    for width in (0, 1, 3, 7, 13, 31, 32):
        vals = RNG.integers(0, 2**width if width else 1, 777, dtype=np.uint64)
        buf = bitpack.pack(vals, width)
        out = bitpack.unpack(buf, width, len(vals))
        np.testing.assert_array_equal(out, vals)
        if width:
            assert len(buf) == (777 * width + 7) // 8


def test_bit_lengths():
    x = np.array([0, 1, 2, 3, 4, 255, 256, 2**31, 2**32 - 1], dtype=np.uint64)
    expected = np.array([int(v).bit_length() for v in x], dtype=np.uint8)
    np.testing.assert_array_equal(bitpack.bit_lengths(x), expected)


def test_bit_lengths32_matches_int_bit_length():
    # 0, 2**k (1 included) and 2**k - 1 (2**32 - 1 included), then random
    edges = [0] + [2**k for k in range(32)] + [2**k - 1 for k in range(1, 33)]
    rand = np.random.default_rng(5).integers(0, 2**32, 10**6, dtype=np.uint64)
    x = np.concatenate([np.array(edges, dtype=np.uint64), rand]).astype(np.uint32)
    expected = np.array([int(v).bit_length() for v in x], dtype=np.uint8)
    np.testing.assert_array_equal(bitpack.bit_lengths32(x), expected)


# ------------------------------------------------------------- strings

def _mk_strs(strs):
    bufs = [s.encode("utf-8") for s in strs]
    lengths = np.array([len(b) for b in bufs], dtype=np.int64)
    return lengths, b"".join(bufs)


STR_CASES = {
    "doc_ids": [f"web-{i:010d}" for i in range(3000)],
    "low_card": (["web", "books", "code", "wiki", "forums"] * 600),
    "empty_strings": ["", "a", "", "bb", ""],
    "unicode": ["héllo", "wörld", "日本語テキスト", "züri"] * 50,
    "single": ["lonely"],
    "none": [],
    "random_ascii": [
        "".join(chr(c) for c in RNG.integers(32, 127, RNG.integers(1, 30)))
        for _ in range(500)
    ],
}


@pytest.mark.parametrize("name", list(STR_CASES))
def test_str_auto_roundtrip(name):
    lengths, buf = _mk_strs(STR_CASES[name])
    blob = core.encode_strs(lengths, buf)
    out_lengths, out_buf = core.decode_strs(blob)
    np.testing.assert_array_equal(out_lengths, lengths)
    assert out_buf == buf


def test_str_dict_wins_low_cardinality():
    lengths, buf = _mk_strs(STR_CASES["low_card"])
    blob = core.encode_strs(lengths, buf)
    assert core.codec_of(blob) == "str_dict"
    assert len(blob) < len(buf) // 4


def test_fsst_roundtrip_and_compresses():
    buf = b"".join(f"web-{i:010d}".encode() for i in range(5000))
    table = fsst.build_table(buf)
    assert table, "expected learnable symbols"
    enc = fsst.encode(buf, table)
    assert fsst.decode(enc, table) == buf
    assert len(enc) < len(buf) * 0.6


def test_fsst_all_bytes_used_degrades_gracefully():
    buf = bytes(range(256)) * 4
    table = fsst.build_table(buf)
    assert table == []
    assert fsst.decode(fsst.encode(buf, table), table) == buf


def test_fsst_binary_random_roundtrip():
    buf = RNG.integers(0, 200, 10000, dtype=np.int64).astype(np.uint8).tobytes()
    table = fsst.build_table(buf)
    enc = fsst.encode(buf, table)
    assert fsst.decode(enc, table) == buf


@pytest.mark.parametrize("name", list(INT_CASES))
def test_plain_blob_size_exact(name):
    """The analytic plain size used by the plain-fallback guards must
    equal the real blob byte-for-byte-in-length — selection decisions
    hang on this equality (r06 optimization: the guards no longer build
    a full plain payload per encoded stream)."""
    from eggopress.codecs.intcodecs import plain_blob_size

    arr = INT_CASES[name]
    assert plain_blob_size(arr) == len(enc_plain(arr))
    assert plain_blob_size(arr.astype(np.int64)) == len(
        enc_plain(arr.astype(np.int64)))


def test_encode_strs_matches_reference_selection():
    """The default-candidates fast path in encode_strs (shared sample
    lengths blob, fsst lower-bound probe skip, sample==full blob reuse,
    analytic plain-guard skip — r06 optimization) must stay BYTE-identical
    to the plain probe-everything selection loop on every regime: the
    skips are argued from exact lower bounds, and this pins the argument."""
    from eggopress.codecs import strcodecs as sc

    def reference(lengths, buf):
        lengths = np.ascontiguousarray(lengths, dtype=np.int64)
        s_len, s_buf = sc._slice(lengths, buf, sc.SAMPLE_ROWS)
        best_name, best_size = "str_plain", None
        for name in sc.STR_CODECS:
            size = len(sc._ENCODERS[name](s_len, s_buf))
            if best_size is None or size < best_size:
                best_name, best_size = name, size
        blob = sc._ENCODERS[best_name](lengths, buf)
        if best_name != "str_plain":
            p = sc.enc_str_plain(lengths, buf)
            if len(blob) >= len(p):
                return p
        return blob

    extra = {
        # > SAMPLE_ROWS so the sampled probe and full encode diverge
        "big_low_card": ["AA", "BB", "CC"] * 3000,
        "big_doc_ids": [f"id_{i:09d}" for i in range(5000)],
        "big_same": ["samestring"] * 8192,
        "big_random": [
            "".join(chr(c) for c in RNG.integers(33, 127, 20))
            for _ in range(3000)
        ],
        # exactly at / just over the sample boundary
        "at_sample": [str(i) for i in range(sc.SAMPLE_ROWS)],
        "over_sample": [str(i) for i in range(sc.SAMPLE_ROWS + 1)],
    }
    for name, strs in {**STR_CASES, **extra}.items():
        lengths, buf = _mk_strs(strs)
        assert sc.encode_strs(lengths, buf) == reference(lengths, buf), name
