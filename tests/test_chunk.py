"""Column-chunk layer: the corpus chunk as three generic columns, with
n_tok carried as the token list's lengths stream."""

import numpy as np
import pyarrow as pa
import pytest

from eggopress import chunk, synth
from eggopress.codecs import core as codecs


def test_encode_batch_rejects_n_tok_mismatch():
    batch = synth.gen_block(0, 500, seed=3)
    n_tok = batch.column("n_tok").to_numpy().copy()
    # same total, so the flat token stream alone cannot expose it
    n_tok[10] += 1
    n_tok[11] -= 1
    bad = batch.set_column(batch.schema.get_field_index("n_tok"), "n_tok",
                           pa.array(n_tok, type=pa.int32()))
    with pytest.raises(ValueError, match=r"source=web/salt=3.* chunk 17\b"):
        chunk.encode_batch(bad, "source=web/salt=3", "web", 3, 17)


def test_narrowed_int_out_of_range_raises():
    """A decoded stream that does not fit its column's narrower type
    raises, naming the column and the out-of-range [min, max], instead
    of wrapping (2**31 in an int32 column used to read back as -2**31)."""
    blob = codecs.encode_ints(np.array([0, 7, 2**31], dtype=np.int64))
    with pytest.raises(ValueError, match=r"'l_quantity'.*\[0, 2147483648\]"):
        chunk._decode_column("int32", blob, pa.field("l_quantity", pa.int32()))
    with pytest.raises(ValueError, match=r"'flag'.*\[-129, 5\]"):
        chunk._decode_column("int8", codecs.encode_ints(np.array([-129, 5])),
                             pa.field("flag", pa.int8()))
    pair = (codecs.encode_ints(np.array([1, 2])),
            codecs.encode_ints(np.array([1, 2**31, 3])))
    with pytest.raises(ValueError, match=r"'tokens'.*\[1, 2147483648\]"):
        chunk._decode_column("list_int", pair,
                             pa.field("tokens", pa.list_(pa.int32())))
    # the type's own extremes still decode exactly
    edge = np.array([-(2**31), 0, 2**31 - 1], dtype=np.int64)
    out = chunk._decode_column("int32", codecs.encode_ints(edge),
                               pa.field("x", pa.int32()))
    assert out.to_pylist() == edge.tolist()
