"""On-disk format pins: the exact bytes a seeded chunk encodes to.

The roundtrip tests prove decode(encode(x)) == x; these prove the encoded
bytes themselves do not move. Any change to a codec, to the column-chunk
layer or to the blob layout shows up here as a digest mismatch, so a
refactor that claims "byte-identical" is checked, not assumed."""

import hashlib

import pyarrow.parquet as pq

from eggopress import chunk, generic, synth


def _sha(blob: bytes) -> str:
    return hashlib.sha256(blob).hexdigest()


def test_corpus_chunk_bytes_pinned():
    batch = synth.gen_block(0, 8192, seed=7)
    row = chunk.encode_batch(batch, "source=web/salt=0", "web", 0, 0)
    assert {k: _sha(row[f"{k}_blob"]) for k in chunk.COLUMNS} == {
        "doc_id": "277d305f94671b8229fae10c92c1807f853d16384a0be0692c8658d88910b7e2",
        "source": "2f82cc0ddf11d033760df949eebc9dbcdbe42833f25df6bfac205a37a53902f5",
        "n_tok": "1829f5c6fd663c13ff5603e03c0c9a7077b26f52c32a284af9cbcf23e7a87ab5",
        "tokens": "85f89c8d6b710bde55f73520a9d7bebeb6e335a1d40536cf14edf1d4cf134c98",
    }
    assert (row["raw_bytes"], row["encoded_bytes"], row["n_values"]) == (
        19331278, 9207194, 4763048)


def test_generic_chunk_bytes_pinned(spark, tmp_path):
    # one partition of 2000 rows: below the Arrow batch size, so exactly
    # one chunk, built from deterministic expressions only
    df = spark.range(0, 2000, 1, 1).selectExpr(
        "cast((id * 7919) % 1000 as int) as i",
        "cast(id * 1000003 as long) as l",
        "cast((id % 97) * 1.25 + id / 7.0 as double) as d",
        "date_add(date'2020-01-01', cast(id % 400 as int)) as dt",
        "concat('k', cast(id % 37 as string)) as s",
        "transform(sequence(1, cast(id % 5 as int)),"
        " x -> x * 3 + cast(id % 11 as int)) as a")
    path = str(tmp_path / "pin")
    generic.encode_generic(spark, df, path)
    t = pq.read_table(f"{path}/data")
    assert t.num_rows == 1
    assert {c: _sha(t.column(f"{c}__blob")[0].as_py()) for c in df.columns} == {
        "i": "260fd7fea41362ab3beced2233578f9e64ed579c1dacf8041a01d3c14c52e898",
        "l": "7c039448f999338604ae917d6343d5c61408aefedfd3b4e01ff902287ebbbe05",
        "d": "7e86713e0668827e04f0467f496a7ae6d77b9b674a44da8744d4619b723afa00",
        "dt": "20dc89ed3262ed8075a9cc5a76d55bfdde96509a00d40f65c70e134237333179",
        "s": "12ba3819cb8519e6771f93f99e184c84fc159c14c74f7b8201cb279e8ae5c514",
        "a": "31f6f9dc22e875609eecce860ac27455b21902d9d6f33b5bc19a8ccf06184c5b",
    }
    assert (t.column("raw_bytes")[0].as_py(),
            t.column("encoded_bytes")[0].as_py()) == (107858, 20895)
