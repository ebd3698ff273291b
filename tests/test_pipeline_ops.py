"""Pipeline-operator tests beyond the oracle-parity suite: algorithm
variants must agree with each other, and scale-path candidates must be
supersets of true results."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.mark.parametrize("thr", [0.5, 0.6, 0.8, 0.9])
def test_jaccard_prefix_matches_inverted(spark, docs, thr):
    """Parity at HIGH thresholds too: the positional filter once silently
    dropped boundary pairs admitted by the 6dp-rounded final comparison
    (true J a hair under t, round(J,6) == t) — sweep the regimes."""
    from eggopress.pipeline import dedup

    a = {tuple(r) for r in dedup.ngram_jaccard_pairs(docs, thr, "prefix").collect()}
    b = {tuple(r) for r in dedup.ngram_jaccard_pairs(docs, thr, "inverted").collect()}
    assert a == b
    if thr <= 0.6:
        assert len(a) > 0


def test_minhash_candidates_cover_true_dups(spark, docs):
    """LSH candidates must include every pair above a high threshold
    (recall check for the banding parameters)."""
    from eggopress.pipeline import dedup

    true_pairs = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, 0.9, "inverted").collect()
    }
    cands = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert true_pairs, "fixture should contain near-duplicate docs"
    missed = true_pairs - cands
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_simhash_close_for_duplicates(spark, docs):
    from eggopress.pipeline import dedup

    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    dup = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, 0.95, "inverted").collect()
    }
    for a, b in dup:
        # 64-bit fingerprints: expected flips ~2x the old 32-bit variant
        ham = bin(sh[a] ^ sh[b]).count("1")
        assert ham <= 12, f"simhash hamming {ham} for near-identical pair {(a, b)}"


_BOILER = ("qzx wvk jjq mmz ppl qqr ttx uuv wwy zzk " * 4).strip()


def _planted_dup_docs(spark, docs, n_copies=500):
    """docs plus a planted mega-duplicate group: n_copies rows sharing one
    synthetic boilerplate text (the web-crawl scenario the bucket guards
    exist for). The nonsense words guarantee the clones only collide with
    each other, never with real fixture docs."""
    clones = spark.range(n_copies).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.lit("boiler").alias("source"),
        F.lit(_BOILER).alias("text"),
        F.lit(len(_BOILER)).alias("n_chars"),
        F.lit("en").alias("lang"),
    )
    return docs.select("doc_id", "source", "text", "n_chars", "lang").union(clones)


def test_bucket_guard_bounds_minhash_candidates(spark, docs):
    """A 500-doc exact-dup group makes ~125k candidate pairs per band
    unguarded; with the cap those buckets are shed and candidate volume
    stays bounded, while pairs outside the mega group are unaffected."""
    from eggopress.pipeline import dedup

    poisoned = _planted_dup_docs(spark, docs, 500)
    unguarded_baseline = {
        (r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    guarded = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(poisoned, max_bucket_rows=50).collect()
    }
    planted = {p for p in guarded if p[0] >= 1_000_000 or p[1] >= 1_000_000}
    assert not planted, "mega-bucket pairs must be shed by the guard"
    assert guarded == unguarded_baseline  # non-mega pairs unaffected


def test_bucket_guard_simhash_and_cosine(spark, docs, embs):
    from eggopress.pipeline import dedup, simsearch

    poisoned = _planted_dup_docs(spark, docs, 300)
    guarded = dedup.simhash_pairs(poisoned, 3, max_bucket_rows=50)
    planted = guarded.filter((F.col("id_a") >= 1_000_000) | (F.col("id_b") >= 1_000_000))
    assert planted.count() == 0

    # cosine guard: clone one embedding 300x -> its buckets exceed the cap
    one = embs.limit(1).select("embedding")
    clones = (
        spark.range(300).crossJoin(one)
        .select((F.col("id") + 1_000_000).alias("vec_id"), "embedding")
    )
    poisoned_e = embs.select("vec_id", "embedding").union(clones)
    out = simsearch.cosine_neardup(poisoned_e, 0.99, dim=64, max_bucket_rows=50)
    assert out.filter((F.col("id_a") >= 1_000_000) & (F.col("id_b") >= 1_000_000)).count() == 0


def test_jaccard_leaves_no_persisted_rdds(spark, docs):
    """The prefix path materializes its shingle-hash table to scratch
    parquet, NOT .persist(): after the consuming action completes, executor
    storage memory must be empty (repeated calls must not accumulate)."""
    from eggopress.pipeline import dedup

    # other test modules may cache fixtures in the shared session; the
    # contract is that THIS operator adds nothing to storage memory
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    dedup.ngram_jaccard_pairs(docs, 0.6, "prefix").count()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after == before


def test_cosine_neardup_raises_on_dim_mismatch(spark, embs):
    from eggopress.pipeline import simsearch

    with pytest.raises(Exception, match="dim mismatch"):
        simsearch.cosine_neardup(embs, 0.9, dim=32).count()


def test_cosine_neardup_auto_bits_recall(spark):
    """Planted near-dup pairs (cos >= 0.99) must be recalled at least at
    the docstring's formula rate under auto-derived banding."""
    import math

    import numpy as np
    from eggopress.pipeline import simsearch

    rng = np.random.default_rng(99)
    base = rng.normal(size=(60, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # 20 perturbed copies of the first 20 vectors -> planted pairs (i, 100+i)
    pert = base[:20] + rng.normal(scale=0.02, size=(20, 64))
    pert /= np.linalg.norm(pert, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(100 + i, [float(x) for x in v]) for i, v in enumerate(pert)]
    embs2 = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    out = simsearch.cosine_neardup(embs2, 0.95, dim=64, bits_per_band="auto")
    got = {(r.id_a, r.id_b) for r in out.collect()}
    planted = {(i, 100 + i) for i in range(20)}
    hit = len(planted & got)
    bits = simsearch.auto_bits_per_band(80)
    theta = math.acos(0.95)
    p_band = (1 - theta / math.pi) ** bits
    expected = 1 - (1 - p_band) ** simsearch.NEARDUP_BANDS
    # formula bound with sampling slack (20 Bernoulli trials)
    assert hit / len(planted) >= expected - 0.15, (hit, expected, bits)


def test_lsh_topk_subset_of_brute(spark, embs):
    """LSH ANN results must be drawn from the true ranking (every returned
    id appears in the brute-force full ranking with the same score)."""
    from eggopress.pipeline import simsearch

    q = list(embs.filter(F.col("vec_id") == 0).first()["embedding"])
    brute = {r.vec_id: r.cos for r in simsearch.brute_topk(embs, q, 500).collect()}
    approx = simsearch.lsh_topk(embs, q, 10).collect()
    assert 1 <= len(approx) <= 10
    for r in approx:
        assert r.vec_id in brute
        assert abs(brute[r.vec_id] - r.cos) < 1e-9


def test_ivf_topk_subset_of_brute(spark, embs):
    """IVF results must come from the true ranking with identical scores,
    and probing ALL cells must reproduce exact brute-force top-k."""
    from eggopress.pipeline import simsearch

    q = list(embs.filter(F.col("vec_id") == 0).first()["embedding"])
    brute = {r.vec_id: r.cos for r in simsearch.brute_topk(embs, q, 500).collect()}
    approx = simsearch.ivf_topk(embs, q, 10).collect()
    assert 1 <= len(approx) <= 10
    for r in approx:
        assert r.vec_id in brute and abs(brute[r.vec_id] - r.cos) < 1e-9

    full = simsearch.ivf_topk(embs, q, 10, n_cells=16, nprobe=16).collect()
    exact = simsearch.brute_topk(embs, q, 10).collect()
    assert [(r.vec_id, r.cos) for r in full] == [(r.vec_id, r.cos) for r in exact]


def test_multimodal_decode_image_contract():
    """decode_image owns exactly what pure numpy can: BI_RLE8 decodes
    for real; non-BMP bytes are rejected; entropy-coded / uncompressed
    formats still raise NotImplementedError honestly."""
    import numpy as np

    from eggopress.pipeline import multimodal

    with pytest.raises(ValueError, match="not a BMP"):
        multimodal.decode_image(b"\x89PNG....." + b"\x00" * 64)
    # a 24-bpp uncompressed header (the attach_binary shape) still raises
    hdr = multimodal._bmp_headers(
        np.array([12]), np.array([2]), np.array([2]))[0].tobytes()
    with pytest.raises(NotImplementedError, match="BI_RLE8"):
        multimodal.decode_image(hdr + b"\x00" * 12)


def _rle_payload(w, h, rows_spec):
    """Hand-build a BI_RLE8 payload: rows_spec is a list (bottom-up
    storage order) of byte strings appended verbatim to the stream."""
    import numpy as np

    from eggopress.pipeline import multimodal as mm

    stream = b"".join(rows_spec) + b"\x00\x01"
    hdr = np.zeros(mm.BMP_HEADER_LEN, dtype=np.uint8)
    hdr[0], hdr[1] = 0x42, 0x4D
    for off, v in ((2, mm.BMP_HEADER_LEN + len(stream)),
                   (10, mm.BMP_HEADER_LEN), (14, 40), (18, w), (22, h),
                   (30, 1)):
        for k in range(4):
            hdr[off + k] = (v >> (8 * k)) & 0xFF
    hdr[26], hdr[28] = 1, 8
    return hdr.tobytes() + stream


def test_rle8_decoder_mixed_modes_and_errors():
    """A row mixing encoded runs and an absolute span must decode in
    stream order; delta escapes and row-length mismatches fail loudly."""
    import numpy as np

    from eggopress.pipeline import multimodal as mm

    # one row, w=8: run(3 x 7), absolute [9, 8, 6] (3 literals + pad),
    # run(2 x 5) -> [7 7 7 9 8 6 5 5]
    row = b"\x03\x07" + b"\x00\x03\x09\x08\x06\x00" + b"\x02\x05" + b"\x00\x00"
    img = mm.decode_image(_rle_payload(8, 1, [row]))
    assert img.tolist() == [[7, 7, 7, 9, 8, 6, 5, 5]]

    # two rows stored bottom-up flip to top-down
    r0 = b"\x04\x01\x00\x00"  # stored first = bottom row, value 1
    r1 = b"\x04\x02\x00\x00"  # stored second = top row, value 2
    img2 = mm.decode_image(_rle_payload(4, 2, [r0, r1]))
    assert img2.tolist() == [[2, 2, 2, 2], [1, 1, 1, 1]]

    with pytest.raises(NotImplementedError, match="delta"):
        mm.decode_image(_rle_payload(4, 1, [b"\x00\x02\x01\x01\x04\x01\x00\x00"]))
    with pytest.raises(ValueError, match="row length"):
        mm.decode_image(_rle_payload(5, 1, [b"\x04\x01\x00\x00"]))
    assert np.issubdtype(img.dtype, np.uint8)


def test_rle8_fixture_roundtrips_against_pixel_function(spark, docs):
    """The synthesized RLE payloads decode to EXACTLY the closed-form
    pixel function (payload-level check, both encoding modes: doc_id%3==0
    rows use absolute mode)."""
    import numpy as np

    from eggopress.pipeline import multimodal as mm

    rows = mm.attach_rle_bmp(docs.limit(30)).collect()
    assert any(r["doc_id"] % 3 == 0 for r in rows)
    for r in rows:
        doc = r["doc_id"]
        w, h, rl = (doc % 19) + 5, (doc % 7) + 3, (doc % 5) + 2
        img = mm.decode_image(bytes(r["payload"]))
        assert img.shape == (h, w)
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        expect = ((y + doc + x // rl) % 256).astype(np.uint8)
        assert (img == expect).all(), doc


def test_multimodal_payloads_are_valid_bmp(spark, docs):
    """Independent check of the BMP writer: unpack headers with struct
    (not our vectorized parser), per the format spec's fixed LE offsets."""
    import struct

    from eggopress.pipeline import multimodal

    rows = multimodal.attach_binary(docs.limit(20)).collect()
    assert rows
    for r in rows:
        p = bytes(r["payload"])
        assert p[:2] == b"BM"
        file_size, = struct.unpack_from("<I", p, 2)
        px_off, = struct.unpack_from("<I", p, 10)
        dib, = struct.unpack_from("<I", p, 14)
        width, height = struct.unpack_from("<ii", p, 18)
        planes, bpp = struct.unpack_from("<HH", p, 26)
        assert file_size == len(p)
        assert px_off == 54 and dib == 40 and planes == 1 and bpp == 24
        assert 1 <= width <= 640 and 1 <= height <= 480
        assert r["meta"]["n_bytes"] == len(p)
        assert r["meta"]["mime"] == "image/bmp"


def test_raster_resize_and_frame_sample_pixels(spark, docs):
    """Independent pixel-level check: recompute nearest-neighbor resize
    and frame extraction with plain numpy from the pixel formula and
    compare PAYLOAD BYTES, not just checksums."""
    import numpy as np
    from eggopress.pipeline import multimodal

    assets = multimodal.attach_raster(docs.limit(10))
    resized = {r["doc_id"]: r for r in
               multimodal.resize_frames(assets, 8, 6).collect()}
    sampled = {(r["doc_id"], r["frame_idx"]): r for r in
               multimodal.sample_frames(assets, 2).collect()}
    for d in resized:
        w, h, fr = (d % 13) + 4, (d % 7) + 3, (d % 3) + 1
        x = np.arange(w); y = np.arange(h); f = np.arange(fr)
        px = ((x[None, None, :] + y[None, :, None] + f[:, None, None] + d)
              % 256).astype(np.uint8)
        sx = (np.arange(8) * w) // 8
        sy = (np.arange(6) * h) // 6
        expect = px[:, sy[:, None], sx[None, :]]
        assert bytes(resized[d]["payload"]) == expect.tobytes()
        for k in range(0, fr, 2):
            assert bytes(sampled[(d, k)]["frame"]) == px[k].tobytes()


def test_exact_dedup_drops_known_copies(spark, docs):
    from eggopress.pipeline import dedup

    base = docs.count()
    doubled = docs.union(docs)
    out = dedup.exact_dedup(doubled)
    kept = out.agg(F.sum("kept")).first()[0]
    dropped = out.agg(F.sum("dropped")).first()[0]
    assert kept + dropped == 2 * base
    assert dropped >= base  # every doc had at least one copy


def test_resolve_clusters_collapses_transitive_chains(spark):
    """A~B, B~C with no direct A~C edge must land in ONE cluster labeled
    by the min id; disjoint components keep separate labels."""
    from eggopress.pipeline import dedup

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("e", "f"), ("c", "d")],
        "id_a string, id_b string",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.resolve_clusters(pairs).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "e", "f": "e"}


def test_resolve_clusters_raises_past_diameter_cap(spark):
    from eggopress.pipeline import dedup

    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(6)]
    pairs = spark.createDataFrame(chain, "id_a string, id_b string")
    with pytest.raises(RuntimeError):
        dedup.resolve_clusters(pairs, max_iter=2)
    ok = dedup.resolve_clusters(pairs)
    assert {r["cluster_id"] for r in ok.collect()} == {"n00"}


def test_token_histogram_matches_explode(spark, docs):
    """The bincount partial-agg plan must equal the naive explode+groupBy."""
    from eggopress.pipeline import textstats

    corpus = textstats.tokenize(docs)
    fast = textstats.token_histogram(corpus)
    naive = (
        corpus.select(F.explode("tokens").alias("token"))
        .groupBy("token").agg(F.count("*").alias("n"))
    )
    assert fast.exceptAll(naive).count() == 0
    assert naive.exceptAll(fast).count() == 0


def test_knn_join_prefilter_matches_window_plan(spark, embs):
    """The two-phase local-top-k prefilter must be bit-identical to the
    pure-window plan — it selects by the final ordering on the final
    scores, so no true top-k member can be dropped."""
    from eggopress.pipeline import simsearch

    queries = embs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    fast = simsearch.knn_join(embs, queries, 7, prefilter=True)
    ref = simsearch.knn_join(embs, queries, 7, prefilter=False)
    assert fast.count() == 4 * 7
    assert fast.exceptAll(ref).count() == 0
    assert ref.exceptAll(fast).count() == 0


def test_train_split_deterministic_and_complete(spark, docs):
    from eggopress.pipeline import textstats

    corpus = textstats.tokenize(docs)
    s1 = textstats.train_split(corpus)
    # partition of the corpus: every doc in exactly one split
    assert s1.count() == corpus.count()
    frac = {r["split"]: r["n"] for r in
            s1.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(frac) == {"train", "val", "test"}
    assert frac["train"] > frac["val"] and frac["train"] > frac["test"]
    # content-stable: re-derivation and row-order changes don't move docs
    s2 = textstats.train_split(corpus.orderBy(F.desc("doc_id")))
    j = s1.select("doc_id", "split").join(
        s2.select("doc_id", F.col("split").alias("s2")), "doc_id")
    assert j.filter(F.col("split") != F.col("s2")).count() == 0
    with pytest.raises(ValueError):
        textstats.train_split(corpus, fractions=(("a", 0.5), ("b", 0.4)))


def test_scratch_root_defaults_to_shared_warehouse(spark, monkeypatch):
    """Cluster-safety contract: with no explicit override, intermediate
    materializations land under the Spark WAREHOUSE dir — the one path
    every deployment already has on the shared filesystem — never under a
    per-host local medium (executors writing to their own /dev/shm and a
    follow-up read on other executors would lose partitions)."""
    from eggopress.pipeline import dedup

    monkeypatch.delenv("EGGOPRESS_SCRATCH_DIR", raising=False)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    local_wh = wh[len("file:"):] if wh.startswith("file:") else wh
    while local_wh.startswith("//"):
        local_wh = local_wh[1:]
    root = dedup.scratch_root(spark)
    assert root == f"{local_wh}/_eggopress_scratch".replace("//_", "/_")
    out = dedup._materialize_scratch(spark.range(5).selectExpr("id", "id * 2 as v"))
    assert out.count() == 5
    assert all("_eggopress_scratch" in f for f in out.inputFiles())
    assert "/dev/shm" not in root


def test_scratch_override_runs_dedup_paths_on_plain_dir(spark, docs, tmp_path, monkeypatch):
    """All three scratch-dependent operators (prefix-Jaccard result
    materialization, shed_big_buckets, resolve_clusters) must work with
    scratch pointed at an arbitrary non-tmpfs shared dir."""
    from eggopress.pipeline import dedup

    shared = str(tmp_path / "shared_scratch")
    monkeypatch.setenv("EGGOPRESS_SCRATCH_DIR", shared)
    pairs = dedup.ngram_jaccard_pairs(docs, 0.6, "prefix")
    assert pairs.count() > 0
    assert all(shared in f for f in pairs.inputFiles())

    banded = spark.range(200).selectExpr(
        "cast(id as string) as doc_id",
        "case when id < 150 then 'hot' else concat('b', id) end as bucket")
    shed = dedup.shed_big_buckets(banded, 50, "test")
    assert shed.filter(F.col("bucket") == "hot").count() == 0
    assert shed.count() == 50

    clusters = dedup.resolve_clusters(dedup.simhash_pairs(docs, 3))
    assert clusters.count() > 0


def test_ivf_raises_on_sparse_vec_ids(spark, embs):
    """A degraded quantizer (vec_ids offset past n_cells) must fail loudly
    instead of silently returning an empty result."""
    from eggopress.pipeline import simsearch

    q = [0.1] * 64
    offset = embs.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    with pytest.raises(ValueError, match="quantizer degraded"):
        simsearch.ivf_topk(offset, q, 5)
    # intact ids still work and probing all cells reproduces brute exactly
    full = simsearch.ivf_topk(embs, q, 5, n_cells=8, nprobe=8)
    brute = simsearch.brute_topk(embs, q, 5)
    assert [tuple(r) for r in full.collect()] == [tuple(r) for r in brute.collect()]


def test_knn_join_bucketed_subset_of_exact(spark, embs):
    """The bucketed (no-broadcast) k-NN join returns a subset of the exact
    join's candidate space with IDENTICAL scores, certain self-retrieval,
    and rank consistency; measured recall vs exact top-k is reported."""
    from eggopress.pipeline import simsearch

    queries = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    k = 7
    exact = {(r.q_id, r.vec_id): r.cos
             for r in simsearch.knn_join(embs, queries, k).collect()}
    approx = simsearch.knn_join_bucketed(embs, queries, k).collect()
    assert approx, "bucketed join must return candidates"
    # every query retrieves itself at rank 1 (self shares every bucket)
    rank1 = {r.q_id: r.vec_id for r in approx if r.rank == 1}
    assert rank1 == {q: q for q in range(5)}
    # scores agree with brute cosine wherever the pair overlaps exact
    for r in approx:
        if (r.q_id, r.vec_id) in exact:
            assert abs(exact[(r.q_id, r.vec_id)] - r.cos) < 1e-9
    # per-query rank sequences are 1..n without gaps
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in approx:
        per_q[r.q_id].append(r.rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= k
    recall = len({(r.q_id, r.vec_id) for r in approx} & set(exact)) / len(exact)
    print(f"bucketed knn recall vs exact top-{k}: {recall:.3f}")
    assert recall >= 1 / k  # self-retrieval alone guarantees this floor


def test_dim_groups_matches_per_image_reference():
    """Pure-numpy property check (no Spark): the grouped stacked-gather
    path must reproduce exactly what a per-image np.frombuffer reshape
    sees, for every row, across mixed dims and group orders."""
    import numpy as np
    import pandas as pd

    from eggopress.pipeline.multimodal import _dim_groups

    rng = np.random.default_rng(11)
    rows = []
    for i in range(200):
        w, h, fr = int(rng.integers(1, 9)), int(rng.integers(1, 7)), int(rng.integers(1, 4))
        payload = rng.integers(0, 256, size=fr * h * w, dtype=np.uint8)
        rows.append((i, payload.tobytes(), w, h, fr))
    pdf = pd.DataFrame(rows, columns=["doc_id", "payload", "width", "height", "n_frames"])

    seen = np.zeros(len(pdf), dtype=bool)
    for grp, gw, gh, gf, stacked in _dim_groups(pdf):
        assert stacked.shape == (len(grp), gf, gh, gw)
        for j, i_row in enumerate(grp):
            ref = np.frombuffer(pdf["payload"].iloc[i_row], dtype=np.uint8).reshape(
                pdf["n_frames"].iloc[i_row], pdf["height"].iloc[i_row], pdf["width"].iloc[i_row])
            assert np.array_equal(stacked[j], ref)
            assert not seen[i_row]
            seen[i_row] = True
    assert seen.all(), "every row must appear in exactly one group"

    # corrupted meta (payload length disagrees) fails loudly
    import pytest as _pytest

    bad = pdf.copy()
    bad.loc[0, "width"] = bad["width"].iloc[0] + 1
    with _pytest.raises(ValueError, match="disagrees"):
        list(_dim_groups(bad))


def test_sample_corpus_deterministic_and_proportional(spark, docs):
    from eggopress.pipeline import textstats

    corpus = textstats.tokenize(docs)
    frac = {"src1": 0.5, "src2": 0.0}
    s1 = textstats.sample_corpus(corpus, frac)
    s2 = textstats.sample_corpus(corpus.orderBy(F.desc("doc_id")), frac)
    # content-stable: identical keep-set regardless of row order
    assert {r["doc_id"] for r in s1.select("doc_id").collect()} == \
           {r["doc_id"] for r in s2.select("doc_id").collect()}
    per = {r["source"]: r["n"] for r in
           s1.groupBy("source").agg(F.count("*").alias("n")).collect()}
    full = {r["source"]: r["n"] for r in
            corpus.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert "src2" not in per                      # fraction 0 drops all
    assert per["src1"] < full["src1"]             # fraction 0.5 drops some
    assert per["src3"] == full["src3"]            # default 1.0 keeps all
    with pytest.raises(ValueError):
        textstats.sample_corpus(corpus, {"src1": 1.5})


def test_sample_corpus_quoted_source_name(spark):
    """A source name containing a single quote must be data, not SQL
    syntax — in BOTH the Spark operator (Column-expression threshold)
    and the DuckDB oracle WHERE clause (doubled-quote escaping)."""
    import duckdb

    from eggopress.pipeline import textstats

    rows = [(f"d{i:03d}", [1, 2, 3], 3, "o'reilly" if i % 2 else "wiki")
            for i in range(40)]
    corpus = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    frac = {"o'reilly": 0.0, "wiki": 1.0}
    kept = textstats.sample_corpus(corpus, frac)
    srcs = {r["source"] for r in kept.select("source").collect()}
    assert srcs == {"wiki"} and kept.count() == 20

    con = duckdb.connect()
    vals = ",".join(
        "('d%03d', '%s')" % (i, "o''reilly" if i % 2 else "wiki")
        for i in range(40))
    con.execute(
        f"CREATE TABLE c AS SELECT * FROM (VALUES {vals}) t(doc_id, source)")
    where = textstats.sample_corpus_where_duck(frac)
    duck_kept = {r[0] for r in con.execute(
        f"SELECT doc_id FROM c WHERE {where}").fetchall()}
    assert duck_kept == {r["doc_id"] for r in kept.select("doc_id").collect()}


def test_decontaminate_flags_overlap_only(spark):
    """A doc embedding a benchmark passage verbatim is flagged with the
    right hit count; reworded text sharing no n-gram is not; docs
    shorter than n grams are never flagged."""
    from eggopress.pipeline import textstats

    bench = spark.createDataFrame(
        [("the secret benchmark passage about unusual zebras dancing",)],
        "text string")
    docs = spark.createDataFrame(
        [("clean", "a completely unrelated document about cooking pasta "
                   "with tomatoes and basil at home"),
         ("dirty", "intro words then the secret benchmark passage about "
                   "unusual zebras dancing plus trailing text"),
         ("reworded", "a secret passage about benchmark zebras that were "
                      "unusual and dancing around"),
         ("tiny", "too short")],
        "doc_id string, text string")
    got = {r["doc_id"]: r["n_hits"] for r in
           textstats.decontaminate(docs, bench, n=5).collect()}
    # the 8-word benchmark text has 4 distinct 5-grams, all inside 'dirty'
    assert got == {"dirty": 4}
    with pytest.raises(ValueError):
        textstats.decontaminate(docs, bench, n=0)


def test_pack_sequences_invariants(spark, docs):
    """Packing = concat-then-chunk: offsets stay inside the context
    window, pack ids are the exact prefix-sum quotients, and totals are
    preserved (packing moves no rows)."""
    from eggopress.pipeline import textstats

    corpus = textstats.tokenize(docs)
    ctx = 256
    packed = textstats.pack_sequences(corpus, ctx=ctx)
    assert packed.count() == corpus.count()
    assert packed.filter((F.col("pack_off") < 0) | (F.col("pack_off") >= ctx)).count() == 0
    # per-source reference check against a driver-side sequential pass
    rows = packed.select("source", "doc_id", "n_tok", "pack_id", "pack_off") \
                 .orderBy("source", "doc_id").collect()
    prev_by_src: dict = {}
    for r in rows:
        prev = prev_by_src.get(r["source"], 0)
        assert r["pack_id"] == prev // ctx, r
        assert r["pack_off"] == prev % ctx, r
        prev_by_src[r["source"]] = prev + r["n_tok"]
    with pytest.raises(ValueError):
        textstats.pack_sequences(corpus, ctx=0)


def test_pack_sequences_materialized(spark, docs):
    """materialize=True emits the concat+chunk product itself: per source
    every pack except the last is exactly ctx tokens, totals are
    preserved, and the token STREAM (order included) equals a
    driver-side sequential concat of docs in doc_id order."""
    from eggopress.pipeline import textstats

    corpus = textstats.tokenize(docs)
    ctx = 128
    packs = textstats.pack_sequences(corpus, ctx=ctx, materialize=True) \
        .orderBy("source", "pack_id").collect()
    ref: dict = {}
    for r in corpus.select("source", "doc_id", "tokens") \
                   .orderBy("source", "doc_id").collect():
        ref.setdefault(r["source"], []).extend(r["tokens"])
    got: dict = {}
    last_pack: dict = {}
    for r in packs:
        assert r["n_tok"] == len(r["tokens"])
        assert 0 < r["n_tok"] <= ctx
        # contiguous pack ids per source
        assert r["pack_id"] == last_pack.get(r["source"], -1) + 1
        last_pack[r["source"]] = r["pack_id"]
        got.setdefault(r["source"], []).append(r)
    for src, rows in got.items():
        for r in rows[:-1]:
            assert r["n_tok"] == ctx, (src, r["pack_id"], r["n_tok"])
        stream = [t for r in rows for t in r["tokens"]]
        assert stream == ref[src], src
    assert set(got) == {s for s, toks in ref.items() if toks}


def test_pack_sequences_no_per_source_window(spark, docs):
    """Scale contract: the prefix sum must never be a window partitioned
    by source alone (one task per source = straggler/OOM on a skewed
    corpus). Every Window in the plan must key on the frozen range
    partition id as well."""
    from eggopress.pipeline import textstats

    corpus = textstats.tokenize(docs)
    df = textstats.pack_sequences(corpus, ctx=256)
    jvm = df.sparkSession._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    win_lines = [l for l in plan.splitlines()
                 if "windowspecdefinition" in l.lower()]
    assert win_lines, "expected a window prefix sum in the plan"
    assert all("_pid" in l for l in win_lines), win_lines


def test_train_ivf_centroids_invariants(spark, embs):
    """The Lloyd's trainer must be (a) deterministic run-to-run, (b)
    monotone in spherical-k-means inertia across iterations, (c) a pure
    quantizer change: probing ALL cells still returns exactly the brute
    top-k."""
    import numpy as np

    from eggopress.pipeline import simsearch

    c1 = simsearch.train_ivf_centroids(embs, iters=2)
    c2 = simsearch.train_ivf_centroids(embs, iters=2)
    assert c1 == c2  # bit-identical

    X = np.array([r["embedding"] for r in
                  embs.select("embedding").collect()], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)

    def inertia(cents):
        C = np.array(cents, dtype=np.float64)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        return float((1.0 - (Xn @ Cn.T).max(axis=1)).sum())

    vals = [inertia(simsearch.train_ivf_centroids(embs, iters=i))
            for i in (1, 2, 3)]
    assert vals[0] >= vals[1] - 1e-9 and vals[1] >= vals[2] - 1e-9, vals

    q = embs.filter(F.col("vec_id") == 0).first()["embedding"]
    brute = [(r["vec_id"], r["cos"]) for r in
             simsearch.brute_topk(embs, q, 10).collect()]
    trained_all = [(r["vec_id"], r["cos"]) for r in simsearch.ivf_topk(
        embs, q, 10, centroids=c1, nprobe=len(c1)).collect()]
    assert trained_all == brute

    with pytest.raises(ValueError, match="iters"):
        simsearch.train_ivf_centroids(embs, iters=0)
    with pytest.raises(ValueError, match="seed"):
        simsearch.train_ivf_centroids(
            embs.filter(F.col("vec_id") >= 10), n_cells=16)


def test_banded_buckets_arrow_matches_sql(spark, embs):
    """The Arrow-vectorized band-key generator must reproduce the SQL
    expression path EXACTLY — same (id, bucket) multiset. Sign decisions
    sit on float comparisons, so this pins the sequential-fold float
    semantics, not just the algorithm."""
    from eggopress.pipeline import simsearch

    exprs = simsearch._neardup_bucket_exprs(64, 16, 4, "spark")
    sql = {(r["vec_id"], r["bucket"]) for r in embs.select(
        "vec_id",
        F.explode(F.array(*[F.expr(e) for e in exprs])).alias("bucket"),
    ).collect()}
    arrow = {(r["vec_id"], r["bucket"]) for r in
             simsearch._banded_buckets_arrow(embs, "vec_id", 64, 16, 4).collect()}
    assert sql == arrow and len(arrow) == embs.count() * 16


def test_token_cardinality_sketch_tracks_exact(spark, docs):
    """Linear counting must (a) bound its shuffle inputs by m, (b) land
    near the exact distinct count at sane loads, (c) saturate gracefully
    rather than divide by zero."""
    from eggopress.pipeline import textstats

    corpus = textstats.tokenize(docs)
    est = {r["source"]: r for r in
           textstats.token_cardinality(corpus, m=256).collect()}
    exact = {r["source"]: r["n"] for r in
             corpus.select("source", F.explode("tokens").alias("t"))
             .groupBy("source").agg(F.countDistinct("t").alias("n")).collect()}
    assert set(est) == set(exact)
    for src, row in est.items():
        assert row["occupied"] <= min(256, exact[src])
        # light load (28-token vocab into 256 buckets): within 20%
        assert abs(row["est_distinct"] - exact[src]) <= max(2, 0.2 * exact[src]), (
            src, row["est_distinct"], exact[src])
    with pytest.raises(ValueError):
        textstats.token_cardinality(corpus, m=0)

    # saturation (occupied == m): linear counting is undefined (ln 0) —
    # est_distinct must be a NULL sentinel, identically on both engines
    # (DuckDB's bare ln(0) would be a hard error, Spark's a silent NULL)
    import duckdb

    sat = textstats.token_cardinality(corpus, m=2).collect()
    assert any(r["occupied"] == 2 for r in sat)
    for r in sat:
        assert (r["est_distinct"] is None) == (r["occupied"] == 2)

    con = duckdb.connect()
    pdf = docs.toPandas()  # noqa: F841 - registered by name below
    con.register("documents", pdf)
    drows = con.execute(textstats.token_cardinality_oracle(m=2)).fetchall()
    assert {(r[0], r[1], r[2]) for r in drows} == \
           {(r["source"], r["occupied"], r["est_distinct"]) for r in sat}


def test_minhash_arrow_matches_sql(spark, docs):
    """Arrow-vectorized MinHash permutations must equal the SQL
    array_min(transform()) path bit-for-bit (exact int64 arithmetic in
    both)."""
    from eggopress.pipeline import dedup

    a = {tuple(r) for r in dedup.minhash_signatures(docs, engine="arrow").collect()}
    s = {tuple(r) for r in dedup.minhash_signatures(docs, engine="sql").collect()}
    assert a == s and len(a) == docs.count()


def test_simhash_arrow_matches_sql(spark, docs):
    """Arrow per-bit majority votes must equal the 64 SQL aggregate()
    folds bit-for-bit, including the min-long bit-63 two's complement
    and zero-word docs (simhash 0)."""
    from eggopress.pipeline import dedup

    a = {(r["doc_id"], r["simhash"]) for r in dedup.simhash(docs, engine="arrow").collect()}
    s = {(r["doc_id"], r["simhash"]) for r in dedup.simhash(docs, engine="sql").collect()}
    assert a == s and len(a) == docs.count()
    # empty-text doc -> fingerprint 0 on both engines
    empty = spark.createDataFrame(
        [(999999, "e", "", 0, "en")],
        "doc_id long, source string, text string, n_chars int, lang string")
    for eng in ("arrow", "sql"):
        assert dedup.simhash(empty, engine=eng).first()["simhash"] == 0


def test_lsh_multiprobe_improves_recall(spark, embs):
    """Multiprobe must return a superset of the single-probe candidate
    pool and never worse recall vs exact brute force; probe_bits=8
    (every bucket) must reproduce brute exactly."""
    from eggopress.pipeline import simsearch

    q = [float((i * 7) % 13 - 6) / 13 for i in range(64)]
    single = simsearch.lsh_topk(embs, q, 10)
    multi = simsearch.lsh_topk(embs, q, 10, probe_bits=1)
    brute = simsearch.brute_topk(embs, q, 10)
    b = [tuple(r) for r in brute.collect()]
    s_hits = len(set(tuple(r) for r in single.collect()) & set(b))
    m_hits = len(set(tuple(r) for r in multi.collect()) & set(b))
    assert m_hits >= s_hits
    full = simsearch.lsh_topk(embs, q, 10, probe_bits=8)
    assert [tuple(r) for r in full.collect()] == b


def test_jaccard_big_path_matches_inverted(spark, docs, monkeypatch):
    """Force the big (scale) path — scratch-materialized prefix rows via
    the broadcast-df Arrow kernel, broadcast candidate join, broadcast
    verify with the pair-stream fan — on the small fixture and pin exact
    parity with the inverted-index cross-check."""
    from eggopress.pipeline import dedup

    monkeypatch.setenv("EGGOPRESS_JACCARD_SMALL_MB", "0")
    a = {tuple(r) for r in dedup.ngram_jaccard_pairs(docs, 0.6, "prefix").collect()}
    b = {tuple(r) for r in dedup.ngram_jaccard_pairs(docs, 0.6, "inverted").collect()}
    assert a == b and len(a) > 0


def test_prefix_rows_broadcast_matches_window(spark, docs):
    """The Arrow prefix kernel must emit exactly the window path's
    (doc_id, n_sh, p, sh) rows — same (df, sh) ranking, same plen cut."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from eggopress.pipeline import dedup

    t_eff = 0.6 - 5e-7
    hs = dedup._materialize_scratch(
        dedup.shingle_frame(docs).select(
            "doc_id",
            F.expr("transform(shingles, s -> xxhash64(s))").alias("hsh"),
            "n_sh"))
    ex = hs.select("doc_id", "n_sh", F.explode("hsh").alias("sh"))
    dfreq = dedup._materialize_scratch(
        ex.groupBy("sh").agg(F.count("*").alias("df")))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    expected = {
        tuple(r) for r in
        ex.join(dfreq, "sh")
        .withColumn("p", F.row_number().over(w) - 1)
        .filter(F.col("p") < (F.floor((1 - t_eff) * F.col("n_sh")) + 1).cast("int"))
        .select("doc_id", "n_sh", "p", "sh").collect()
    }
    got = {tuple(r) for r in
           dedup._prefix_rows_broadcast(hs, dfreq, t_eff).collect()}
    assert got == expected and len(got) > 0
