"""Deterministic synthetic corpus generator (FIXTURES.md §1).

Blocks of BLOCK_DOCS documents are generated independently with
``default_rng(seed + block_id)``, so the corpus is identical regardless of
Spark parallelism (the same property eggo gets from content-addressed
staging names, eggo/util.py:81-90). Five token regimes are assigned
round-robin by document index so every partition exercises every codec:

  i%10 in 0-3 → zipf(1.3) capped at vocab 50257   (dict / bit-pack)
  i%10 in 4,5 → long repeated runs                 (RLE)
  i%10 in 6,7 → narrow range at a random base      (FOR + bit-pack)
  i%10 == 8   → uniform positive int32             (plain fallback)
  i%10 == 9   → adversarial edges (len-1, all-equal, 0 / INT32_MAX,
                strictly ascending / descending)

``source`` is skewed: web ≈ 70% of docs (docs/spec.md:99-101 motivation).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from eggopress.schema import CORPUS_ARROW_SCHEMA, CORPUS_SCHEMA

BLOCK_DOCS = 10_000
VOCAB = 50_257
SOURCES = np.array(["web", "books", "code", "wiki", "forums"])
SOURCE_P = np.array([0.70, 0.075, 0.075, 0.075, 0.075])
SEED = 42


def gen_block(block_id: int, n_docs: int, seed: int = SEED,
              mean_len: float = 6.2, sigma: float = 0.6) -> pa.RecordBatch:
    """Generate one deterministic block of the corpus as an Arrow batch."""
    rng = np.random.default_rng(seed + block_id)
    base_idx = block_id * BLOCK_DOCS
    idx = np.arange(base_idx, base_idx + n_docs, dtype=np.int64)

    lengths = np.clip(
        rng.lognormal(mean_len, sigma, n_docs).astype(np.int64), 1, 8192
    )
    regime = (idx % 10).astype(np.int64)
    src_codes = rng.choice(len(SOURCES), size=n_docs, p=SOURCE_P)
    sources = SOURCES[src_codes]

    values = np.zeros(int(lengths.sum()), dtype=np.int32)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])

    def fill(mask: np.ndarray, gen) -> None:
        for d in np.flatnonzero(mask):
            s, e = offsets[d], offsets[d + 1]
            values[s:e] = gen(int(e - s), int(idx[d]))

    # zipf — vectorized across all zipf docs at once
    zmask = regime <= 3
    ztotal = int(lengths[zmask].sum())
    if ztotal:
        zvals = np.minimum(rng.zipf(1.3, ztotal), VOCAB).astype(np.int32)
        zoff = 0
        for d in np.flatnonzero(zmask):
            s, e = offsets[d], offsets[d + 1]
            values[s:e] = zvals[zoff : zoff + (e - s)]
            zoff += e - s

    # runny — runs with geometric lengths, vectorized per doc-group
    rmask = (regime == 4) | (regime == 5)
    rtotal = int(lengths[rmask].sum())
    if rtotal:
        n_runs = max(rtotal // 10, 1)
        run_vals = rng.integers(0, 512, n_runs * 2, dtype=np.int64).astype(np.int32)
        run_lens = rng.geometric(0.05, n_runs * 2)
        stream = np.repeat(run_vals, run_lens)
        while len(stream) < rtotal:
            stream = np.concatenate([stream, stream])
        roff = 0
        for d in np.flatnonzero(rmask):
            s, e = offsets[d], offsets[d + 1]
            values[s:e] = stream[roff : roff + (e - s)]
            roff += e - s

    # narrow range — per-doc random base up to 2**30, small width
    nmask = (regime == 6) | (regime == 7)
    for d in np.flatnonzero(nmask):
        s, e = offsets[d], offsets[d + 1]
        base = int(rng.integers(0, 2**30))
        k = int(rng.integers(1, 12))
        values[s:e] = (rng.integers(0, 2**k, e - s) + base).astype(np.int32)

    # incompressible
    imask = regime == 8
    itotal = int(lengths[imask].sum())
    if itotal:
        ivals = rng.integers(0, 2**31, itotal, dtype=np.int64).astype(np.int32)
        ioff = 0
        for d in np.flatnonzero(imask):
            s, e = offsets[d], offsets[d + 1]
            values[s:e] = ivals[ioff : ioff + (e - s)]
            ioff += e - s

    # edge cases — override lengths pattern deterministically by sub-case
    emask = regime == 9
    for j, d in enumerate(np.flatnonzero(emask)):
        s, e = offsets[d], offsets[d + 1]
        m = e - s
        case = j % 5
        if case == 0:
            values[s:e] = np.full(m, 7, dtype=np.int32)  # all-equal
        elif case == 1:
            values[s:e] = np.arange(m, dtype=np.int32)  # ascending
        elif case == 2:
            values[s:e] = np.arange(m, dtype=np.int32)[::-1]  # descending
        elif case == 3:
            v = np.zeros(m, dtype=np.int32)
            v[::2] = 2147483647
            values[s:e] = v  # 0 / INT32_MAX alternating
        else:
            values[s:e] = rng.integers(0, 3, m, dtype=np.int64).astype(np.int32)

    # force some length-1 docs among edge rows (regime 9, every 7th)
    # (lengths already vary; n_tok=1 docs occur naturally via clip floor)

    doc_ids = np.char.add(
        np.char.add(sources.astype(str), "-"),
        np.char.zfill(idx.astype(str), 10),
    )

    tokens_arr = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int64()).cast(pa.int32()),
        pa.array(values, type=pa.int32()),
    ).cast(CORPUS_ARROW_SCHEMA.field("tokens").type)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_ids.tolist(), type=pa.string()),
            tokens_arr,
            pa.array(lengths.astype(np.int32), type=pa.int32()),
            pa.array(sources.tolist(), type=pa.string()),
        ],
        schema=CORPUS_ARROW_SCHEMA,
    )


def corpus_df(spark, n_docs: int, seed: int = SEED):
    """Distributed deterministic corpus as a Spark DataFrame.

    One generator block per Spark input split via mapInArrow over a
    spark.range of block ids — parallelism-independent content.
    """
    n_blocks = (n_docs + BLOCK_DOCS - 1) // BLOCK_DOCS
    blocks = spark.range(0, n_blocks, numPartitions=min(n_blocks, 256))

    def gen(batches):
        for batch in batches:
            for bid in batch.column(0).to_pylist():
                take = min(BLOCK_DOCS, n_docs - bid * BLOCK_DOCS)
                if take > 0:
                    yield gen_block(int(bid), take, seed)

    return blocks.mapInArrow(gen, CORPUS_SCHEMA)

