"""Column-chunk layer: the corpus chunk as three generic columns, with
n_tok carried as the token list's lengths stream."""

import pyarrow as pa
import pytest

from eggopress import chunk, synth


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
