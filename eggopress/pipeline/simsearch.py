"""Similarity search over embedding columns (array<float>).

  brute_topk     — exact cosine top-k: JVM-side fold (aggregate/zip_with),
                   no Python in the loop; the correctness baseline.
  lsh_topk       — random-hyperplane LSH bucketing: signature = sign bits
                   of projections onto fixed seeded hyperplanes; search
                   only the query's bucket (scale path: the bucket join
                   shuffles a tiny fraction of the table).
  ivf_topk       — IVF-flat: deterministic coarse centroids partition the
                   table into cells; a query probes its nprobe nearest
                   cells (the cell key is the partition key at scale).
  cosine_neardup — embedding near-duplicate pairs above a cosine
                   threshold, inverted on LSH buckets at scale.

Cosine is computed in float64 with a sequential left fold in BOTH Spark
and the DuckDB oracle so results match bit-for-bit (rounded to 6dp for
hash stability).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from eggopress.pipeline.dedup import shed_big_buckets as _shed_big_buckets

N_PLANES = 8
NEARDUP_BANDS = 16
NEARDUP_BITS = 4


def _seq_dot_self(a) -> float:
    """Sequential left-fold self dot product — the exact IEEE op order of
    the SQL aggregate() fold (numpy's pairwise summation would differ in
    the last ulp)."""
    acc = 0.0
    for x in a:
        acc += float(x) * float(x)
    return acc


def _planes_n(n: int, dim: int) -> np.ndarray:
    rng = np.random.default_rng(1234)  # fixed seed: same planes every call
    return rng.integers(-1000, 1001, size=(n, dim)).astype(np.float64) / 1000.0


def _planes(dim: int) -> np.ndarray:
    return _planes_n(N_PLANES, dim)


def _vec_lit_spark(vec) -> str:
    return "array(" + ",".join(f"cast({float(x)!r} as double)" for x in vec) + ")"


def _vec_lit_duck(vec) -> str:
    return "[" + ",".join(repr(float(x)) for x in vec) + "]::DOUBLE[]"


def _dot_spark(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"


def _dot_duck(a: str, b: str) -> str:
    # index fold keeps the same left-to-right summation order as Spark
    return (
        f"list_reduce(list_prepend(cast(0 as double), "
        f"list_transform(generate_series(1, len({a})), i -> ({a})[i] * ({b})[i])), "
        f"(acc, v) -> acc + v)"
    )


def _cos_spark(a: str, b: str) -> str:
    return f"round({_dot_spark(a, b)} / (sqrt({_dot_spark(a, a)}) * sqrt({_dot_spark(b, b)})), 6)"


def _cos_duck(a: str, b: str) -> str:
    return f"round({_dot_duck(a, b)} / (sqrt({_dot_duck(a, a)}) * sqrt({_dot_duck(b, b)})), 6)"


EMB_D_SPARK = "cast(embedding as array<double>)"
EMB_D_DUCK = "embedding::DOUBLE[]"


def brute_topk(df: DataFrame, query_vec, k: int = 10) -> DataFrame:
    """Exact cosine top-k against a literal query vector. Scoring is one
    Arrow pass (sequential-fold float parity with the SQL expression,
    see _lit_cos_raw); the 6dp round stays in Spark, then TakeOrdered."""
    scored = _lit_cos_raw(df, "vec_id", query_vec)
    return (
        scored.select("vec_id", F.round("cos", 6).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def lsh_bucket_expr_spark(dim: int) -> str:
    planes = _planes(dim)
    terms = []
    for j in range(N_PLANES):
        p = _vec_lit_spark(planes[j])
        terms.append(f"(case when {_dot_spark(EMB_D_SPARK, p)} > 0 then {1 << j} else 0 end)")
    return " + ".join(terms)


def lsh_bucket_expr_duck(dim: int) -> str:
    planes = _planes(dim)
    terms = []
    for j in range(N_PLANES):
        p = _vec_lit_duck(planes[j])
        terms.append(f"(CASE WHEN {_dot_duck(EMB_D_DUCK, p)} > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


def lsh_topk(df: DataFrame, query_vec, k: int = 10, dim: int | None = None,
             probe_bits: int = 0) -> DataFrame:
    """ANN: search only vectors in the query's hyperplane-sign bucket.

    probe_bits > 0 is MULTIPROBE: also search every bucket within that
    hamming distance of the query's (the vectors most likely to be near
    misses are the ones whose signature differs on the hyperplanes the
    query sits closest to). probe_bits=b searches sum_{i<=b} C(8,i)
    buckets — recall rises steeply for tiny extra scan cost, the classic
    multiprobe-LSH trade. At scale the bucket column is a partition key:
    the probe touches the probed buckets' partitions, never the table.
    """
    dim = dim or len(query_vec)
    q = _vec_lit_spark(query_vec)
    # evaluate the query's bucket with the SAME fold expression used for
    # the table (identical float op order -> identical sign decisions)
    spark = df.sparkSession
    qbucket = spark.range(1).select(
        F.expr(lsh_bucket_expr_spark(dim).replace(EMB_D_SPARK, q)).alias("b")
    ).first()["b"]
    buckets = [
        qbucket ^ m for m in range(1 << N_PLANES)
        if bin(m).count("1") <= probe_bits
    ]
    return (
        df.withColumn("bucket", F.expr(lsh_bucket_expr_spark(dim)))
        .filter(F.col("bucket").isin(buckets))
        .select("vec_id", F.expr(_cos_spark(EMB_D_SPARK, q)).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


# ------------------------------------------------------------- IVF ANN

IVF_CELLS = 16
IVF_NPROBE = 4


def train_ivf_centroids(df: DataFrame, *, n_cells: int = IVF_CELLS,
                        iters: int = 3,
                        n_partitions: int | None = None) -> list[list[float]]:
    """Distributed Lloyd's (spherical k-means) refinement of the
    deterministic seed quantizer — the REAL IVF training path, not
    MLlib: per iteration ONE narrow mapInArrow pass streams every
    vector once, assigns it to its max-cosine centroid with a single
    X @ C.T matmul per Arrow batch, and emits per-partition partial
    (cell, count, sum-vector) rows. Only O(partitions x n_cells x dim)
    floats ever reach the driver — never the vectors — so the pass
    scales like a map-side-combined aggregation no matter the table
    size. Empty cells keep their previous centroid.

    Deterministic by construction: vectors are range-partitioned by
    vec_id and sorted within partitions ONCE (materialized to scratch,
    reused across iterations), so the numpy accumulation order is fixed
    and two trainings of the same table yield bit-identical centroids.
    Assignment ties break to the smaller cell id (np.argmax first-max),
    the same rule as ivf_topk's SQL path."""
    import numpy as np

    from eggopress.pipeline.dedup import _materialize_scratch

    if iters < 1:
        raise ValueError(f"iters must be >= 1: {iters}")
    spark = df.sparkSession
    n = n_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32"))
    seed_rows = (
        df.filter(F.col("vec_id") < n_cells)
        .select("vec_id", "embedding").collect()
    )
    if len(seed_rows) < n_cells:
        raise ValueError(
            f"train_ivf_centroids: only {len(seed_rows)} of {n_cells} "
            "seed rows exist (vec_ids sparse or offset?)")
    cents = np.array(
        [r["embedding"] for r in sorted(seed_rows, key=lambda r: r["vec_id"])],
        dtype=np.float64)
    dim = cents.shape[1]
    staged = _materialize_scratch(
        df.select("vec_id", "embedding")
        .repartitionByRange(n, "vec_id")
        .sortWithinPartitions("vec_id")
    )
    out_schema = (f"cid int, cnt long, sums array<double>")

    for _ in range(iters):
        c_unit = cents / np.linalg.norm(cents, axis=1, keepdims=True)

        def fn(batches, c_unit=c_unit):
            import pyarrow as pa

            counts = np.zeros(len(c_unit), dtype=np.int64)
            sums = np.zeros_like(c_unit)
            for batch in batches:
                emb = batch.column("embedding")
                flat = emb.flatten().to_numpy(zero_copy_only=False) \
                    .astype(np.float64).reshape(batch.num_rows, -1)
                xn = flat / np.linalg.norm(flat, axis=1, keepdims=True)
                cid = np.argmax(xn @ c_unit.T, axis=1)  # first-max ties
                np.add.at(counts, cid, 1)
                np.add.at(sums, cid, flat)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.arange(len(c_unit), dtype=np.int32)),
                    pa.array(counts),
                    pa.array(list(sums), type=pa.list_(pa.float64())),
                ],
                names=["cid", "cnt", "sums"],
            )

        partials = staged.mapInArrow(fn, out_schema).collect()
        new_counts = np.zeros(len(cents), dtype=np.int64)
        new_sums = np.zeros_like(cents)
        # fixed reduce order: partial rows sorted by content-independent
        # keys so the float sums fold identically run to run
        for r in sorted(partials, key=lambda r: (r["cid"], -r["cnt"],
                                                 tuple(r["sums"]))):
            new_counts[r["cid"]] += r["cnt"]
            new_sums[r["cid"]] += np.array(r["sums"], dtype=np.float64)
        mask = new_counts > 0
        cents[mask] = new_sums[mask] / new_counts[mask, None]
    return [[float(x) for x in c] for c in cents]


def ivf_topk(df: DataFrame, query_vec, k: int = 10, *,
             n_cells: int = IVF_CELLS, nprobe: int = IVF_NPROBE,
             centroids: list | None = None) -> DataFrame:
    """IVF-flat ANN: a coarse quantizer partitions vectors into cells;
    a query searches only its nprobe nearest cells.

    The coarse centroids are the embeddings of the n_cells smallest
    vec_ids — a deterministic sample instead of Lloyd iterations, which
    keeps the whole operator (assignment included) SQL-expressible for the
    DuckDB oracle while exercising the real IVF plan shape: broadcast the
    tiny centroid table, one shuffle to group by cell, probe-time
    partition pruning on the cell key. At 100 TB the cell column is a
    partition/bucket key: a query touches nprobe cells' files, not the
    table; n_cells scales as ~sqrt(n) (classic IVF sizing) and the
    centroid table stays broadcast-size (n_cells * dim floats).

    Assignment ties break on the smaller cell id (array_position finds
    the FIRST max), so results are deterministic in both dialects.

    The quantizer is validated, not trusted: on a table whose vec_ids are
    sparse / offset / non-contiguous the vec_id<n_cells sample can yield
    fewer (even zero) centroids, and a zero-centroid assignment would
    silently return an EMPTY result — so a short centroid set raises.

    Plan shape: the centroids are collected ONCE (n_cells rows —
    driver-literal-sized by construction) and inlined as LITERAL vectors,
    which turns cell assignment into a pure narrow projection — per row,
    an array of n_cells cosines, argmax by array_position. No join, no
    window, NO SHUFFLE anywhere in the assignment (the previous plan
    broadcast-joined the centroid table and ranked with a row_number
    window, which shuffled every (vector, centroid) score pair on
    vec_id). Probe selection is driver-side over the same collected
    centroids; the final top-k is a TakeOrdered. At 100 TB the cell id
    this projection computes is the partition/bucket key — assignment is
    embarrassingly parallel and a query's scan prunes to nprobe cells.

    centroids= supplies a TRAINED quantizer (train_ivf_centroids'
    Lloyd's output, or any list of vectors) in place of the seed
    sample; cell ids are then 0..len-1. The trained quantizer has no
    SQL oracle (k iterations of float k-means aren't SQL), so trained
    calls gate rows-only + pytest invariants."""
    if centroids is not None:
        cents = {i: [float(x) for x in c] for i, c in enumerate(centroids)}
    else:
        cent_rows = (
            df.filter(F.col("vec_id") < n_cells)
            .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb"))
            .collect()
        )
        if len(cent_rows) < n_cells:
            raise ValueError(
                f"ivf_topk: quantizer degraded — only {len(cent_rows)} of "
                f"{n_cells} centroid rows exist (vec_ids sparse or offset?); "
                "pick centroids by rank over the table's actual ids instead"
            )
        cents = {int(r["cid"]): [float(x) for x in r["cemb"]] for r in cent_rows}
    cids = sorted(cents)
    # Cell scoring runs as ONE Arrow-vectorized pass instead of n_cells x 3
    # interpreted aggregate() folds per row (the r06 before-plan's dominant
    # cost: ~3,000 interpreted lambda steps per row). The numpy loop
    # accumulates SEQUENTIALLY over dimensions — the exact IEEE op order of
    # the SQL fold, the same parity trick as _lit_cos_raw/_pair_cos_raw —
    # and the 6dp round stays in the JVM (F.round), so every rounded
    # cosine is bit-identical to the previous plan and the oracle. The
    # query cosine is computed in the SAME pass (the row norm is shared),
    # so the probe filter's survivors need no second scoring pass.
    cmat = np.asarray([cents[cid] for cid in cids], dtype=np.float64)
    qv_np = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    ndim = cmat.shape[1]

    def _score_fn(batches):
        import pyarrow as pa

        # centroid/query self-dots: sequential python floats, the same
        # left-fold order as sqrt(dot(b,b)) in the SQL expression
        cnorm = np.asarray([_seq_dot_self(c) for c in cmat], dtype=np.float64)
        qnorm = _seq_dot_self(qv_np)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            emb = batch.column("embedding")
            flat = emb.flatten().to_numpy(zero_copy_only=False).astype(
                np.float64).reshape(n, -1)
            if flat.shape[1] != ndim:
                raise ValueError(
                    f"ivf: dim mismatch: expected {ndim}, got {flat.shape[1]}")
            dots = np.zeros((n, len(cmat)), dtype=np.float64)
            qdot = np.zeros(n, dtype=np.float64)
            na = np.zeros(n, dtype=np.float64)
            for i in range(ndim):  # sequential over dims == the SQL fold
                dots += flat[:, i, None] * cmat[None, :, i]
                qdot += flat[:, i] * qv_np[i]
                na += flat[:, i] * flat[:, i]
            denom = np.sqrt(na)
            ccos = dots / (denom[:, None] * np.sqrt(cnorm)[None, :])
            qcos = qdot / (denom * np.sqrt(qnorm))
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id"),
                 pa.array(list(ccos), type=pa.list_(pa.float64())),
                 pa.array(qcos)],
                names=["vec_id", "_ccos_raw", "_qcos_raw"],
            )

    scored = df.select("vec_id", "embedding").mapInArrow(
        _score_fn, "vec_id long, _ccos_raw array<double>, _qcos_raw double")
    # stage the ROUNDED cosine array in its own projection (referenced
    # twice: max + position) so CollapseProject cannot duplicate it; the
    # per-element round is n_cells cheap JVM ops per row, not a fold
    assigned = (
        scored.select(
            "vec_id", "_qcos_raw",
            F.expr("transform(_ccos_raw, x -> round(x, 6))").alias("_ccos"))
        .select(
            "vec_id", "_qcos_raw",
            F.expr(
                "element_at(array(" + ",".join(str(c) for c in cids) + "), "
                "cast(array_position(_ccos, array_max(_ccos)) as int))"
            ).alias("cid"),
        )
    )
    import math

    def _seq_cos(a, b):
        # SEQUENTIAL left folds — bit-identical to the SQL
        # aggregate()/list_reduce() evaluation order both engines use
        # (numpy's pairwise summation would differ in the last ulp and
        # could flip a probe ranking the oracle resolves the other way)
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return round(dot / (math.sqrt(na) * math.sqrt(nb)), 6)

    qv = [float(x) for x in query_vec]
    # probe ranking driver-side over the collected centroids, same
    # (cos desc, cid asc) ordering as the oracle's probe CTE
    qcos = {cid: _seq_cos(cents[cid], qv) for cid in cids}
    probe = sorted(cids, key=lambda c: (-qcos[c], c))[:nprobe]
    return (
        assigned.filter(F.col("cid").isin(probe))
        .select("vec_id", F.round("_qcos_raw", 6).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_topk_oracle(query_vec_id: int = 0, k: int = 10, *,
                    n_cells: int = IVF_CELLS, nprobe: int = IVF_NPROBE) -> str:
    """Oracle over the same table, query = embedding of query_vec_id. The
    query vector is cross-joined in as a column (DuckDB lambdas cannot
    contain subqueries) — same float fold order as the Spark side."""
    cos_vc = _cos_duck("e.embedding::DOUBLE[]", "c.cemb::DOUBLE[]")
    qcos = _cos_duck("cemb::DOUBLE[]", "q")
    cos_q = _cos_duck(EMB_D_DUCK, "q")
    return f"""
WITH qv AS (
  SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = {query_vec_id}
), cent AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < {n_cells}
), assigned AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos_vc} DESC, c.cid ASC) AS rn
  FROM embeddings e CROSS JOIN cent c
), probe AS (
  SELECT cid FROM cent CROSS JOIN qv ORDER BY {qcos} DESC, cid ASC LIMIT {nprobe}
)
SELECT vec_id, {cos_q} AS cos
FROM assigned CROSS JOIN qv
WHERE rn = 1 AND cid IN (SELECT cid FROM probe)
ORDER BY cos DESC, vec_id ASC
LIMIT {k}
"""


def _neardup_bucket_exprs(dim: int, n_bands: int, bits: int, dialect: str) -> list[str]:
    """One bucket-key string per band: 'band:signbits'. The band prefix
    keeps buckets disjoint across bands so a single string-key join covers
    the multi-probe union."""
    planes = _planes_n(n_bands * bits, dim)
    out = []
    for j in range(n_bands):
        terms = []
        for r in range(bits):
            if dialect == "spark":
                p = _vec_lit_spark(planes[j * bits + r])
                terms.append(
                    f"(case when {_dot_spark(EMB_D_SPARK, p)} > 0 then {1 << r} else 0 end)"
                )
            else:
                p = _vec_lit_duck(planes[j * bits + r])
                terms.append(
                    f"(CASE WHEN {_dot_duck(EMB_D_DUCK, p)} > 0 THEN {1 << r} ELSE 0 END)"
                )
        key = " + ".join(terms)
        out.append(f"concat('{j}:', cast(({key}) as varchar))" if dialect == "duck"
                   else f"concat('{j}:', cast({key} as string))")
    return out


def _banded_buckets_arrow(df: DataFrame, id_col: str, dim: int,
                          n_bands: int, bits: int) -> DataFrame:
    """(id, bucket) band keys via one Arrow-vectorized pass — numerically
    IDENTICAL to the SQL-expression path (_neardup_bucket_exprs) but
    ~5-10x faster: Spark's higher-order aggregate() lambdas are
    interpreted per element, while here each hyperplane dot product is a
    float64 accumulation SEQUENTIAL over dimensions (the exact IEEE
    op order of the SQL fold — numpy's pairwise matmul summation would
    differ in the last ulp and could flip a sign at a margin) and
    vectorized across rows. Parity with the SQL path is pinned by
    tests/test_pipeline_ops.py::test_banded_buckets_arrow_matches_sql.

    Raises on a dim mismatch (a ragged/wrong-width embedding would
    otherwise collapse band keys, degrading the bucket join)."""
    planes = _planes_n(n_bands * bits, dim)  # (P, dim) float64

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            rows = pdf["embedding"].to_list()
            if any(len(r) != dim for r in rows):
                bad = next(len(r) for r in rows if len(r) != dim)
                raise ValueError(
                    f"banded buckets: dim mismatch: expected {dim}, got {bad}")
            m = np.asarray(np.stack(rows), dtype=np.float64)  # exact f32->f64
            dots = np.zeros((n, planes.shape[0]), dtype=np.float64)
            for i in range(dim):  # sequential over dims == the SQL fold
                dots += m[:, i, None] * planes[None, :, i]
            sign = dots > 0
            weights = (1 << np.arange(bits, dtype=np.int64))
            keys = (
                sign.reshape(n, n_bands, bits).astype(np.int64) * weights
            ).sum(axis=2)
            ids = np.repeat(pdf[id_col].to_numpy(), n_bands)
            bands = np.tile(np.arange(n_bands), n)
            buckets = [f"{b}:{k}" for b, k in zip(bands, keys.reshape(-1))]
            yield pd.DataFrame({id_col: ids, "bucket": buckets})

    return df.select(id_col, "embedding").mapInPandas(
        fn, f"{id_col} long, bucket string")


def _lit_cos_raw(df: DataFrame, id_col: str, query_vec) -> DataFrame:
    """(id, cos) of every row against ONE literal query vector — the
    single-probe sibling of _pair_cos_raw: same sequential-over-dims
    float64 fold (exact SQL-fold op order), raw output, callers round
    in Spark."""
    qv = [float(x) for x in query_vec]

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.asarray(np.stack(pdf["embedding"].to_list()), dtype=np.float64)
            if a.shape[1] != len(qv):
                raise ValueError(
                    f"cosine: dim mismatch: expected {len(qv)}, got {a.shape[1]}")
            dot = np.zeros(len(pdf), dtype=np.float64)
            na = np.zeros(len(pdf), dtype=np.float64)
            nb = 0.0
            for i, q in enumerate(qv):  # sequential over dims == SQL fold
                dot += a[:, i] * q
                na += a[:, i] * a[:, i]
                nb += q * q
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "cos": dot / (np.sqrt(na) * np.sqrt(nb)),
            })

    return df.select(id_col, "embedding").mapInPandas(
        fn, f"{id_col} long, cos double")


def _pair_cos_raw(joined: DataFrame, id_a: str, id_b: str,
                  a_col: str, b_col: str, dim: int) -> DataFrame:
    """(id_a, id_b, cos) with the UNROUNDED cosine, computed in one Arrow
    pass: every dot product is a float64 accumulation sequential over
    dimensions (the SQL fold's exact IEEE op order) and vectorized across
    pairs — the interpreted per-element aggregate() lambdas this replaces
    dominate verification time once candidates number in the millions.
    Callers apply Spark's round(cos, 6) so the decimal rounding is the
    JVM's own (numpy's scaled-rint rounding can differ in the last
    printed digit)."""

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.asarray(np.stack(pdf[a_col].to_list()), dtype=np.float64)
            b = np.asarray(np.stack(pdf[b_col].to_list()), dtype=np.float64)
            if a.shape[1] != dim or b.shape[1] != dim:
                raise ValueError(
                    f"pair cosine: dim mismatch: expected {dim}, got "
                    f"{a.shape[1]}/{b.shape[1]}")
            dot = np.zeros(len(pdf), dtype=np.float64)
            na = np.zeros(len(pdf), dtype=np.float64)
            nb = np.zeros(len(pdf), dtype=np.float64)
            for i in range(dim):  # sequential over dims == the SQL fold
                dot += a[:, i] * b[:, i]
                na += a[:, i] * a[:, i]
                nb += b[:, i] * b[:, i]
            yield pd.DataFrame({
                id_a: pdf[id_a],
                id_b: pdf[id_b],
                "cos": dot / (np.sqrt(na) * np.sqrt(nb)),
            })

    return joined.select(id_a, id_b, a_col, b_col).mapInPandas(
        fn, f"{id_a} long, {id_b} long, cos double")


def auto_bits_per_band(n_rows: int, target_bucket_rows: int = 64) -> int:
    """The documented banding policy made executable: bits_per_band =
    log2(n / target_bucket_rows), clamped to [1, 24]. At n=1e10 docs and
    target buckets of 1k rows this picks 23 bits — per-band buckets stay
    bounded no matter the corpus size."""
    import math

    return max(1, min(24, int(round(math.log2(max(n_rows, 2) / max(target_bucket_rows, 1))))))


def cosine_neardup(df: DataFrame, threshold: float = 0.95, *, dim: int = 64,
                   n_bands: int = NEARDUP_BANDS,
                   bits_per_band: int | str = NEARDUP_BITS,
                   max_bucket_rows: int | None = None,
                   target_bucket_rows: int = 64) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= threshold) via banded
    multi-probe hyperplane LSH: each vector emits one sign-bit key per
    band; pairs sharing ANY band bucket are candidates, verified exactly.

    Scale story (the per-bucket cardinality bound): each band splits n
    rows into 2^bits buckets (expected bucket size n / 2^bits), so the
    candidate join produces ~ n_bands * n^2 / 2^(bits+1) pairs with NO
    dependence on data skew beyond the hyperplane margins. At 100 TB,
    bits_per_band scales as log2(n / target_bucket_rows) — pass
    bits_per_band="auto" to derive it from a count() — and n_bands is
    then chosen for recall: p_band = (1 - theta/pi)^bits, recall =
    1 - (1 - p_band)^n_bands. The bucket string is a natural partition
    key — each band bucket's pairs compute locally after one shuffle.
    max_bucket_rows shears off degenerate mega-buckets (e.g. a zero-vector
    pile-up that defeats the hyperplane split); shed buckets are logged.

    dim must equal size(embedding) for every row: a mismatch would make
    zip_with pad with nulls and collapse every band key to one constant,
    silently degrading the join to a cross product — so it raises instead.
    """
    if bits_per_band == "auto":
        bits_per_band = auto_bits_per_band(df.count(), target_bucket_rows)
    # Arrow-vectorized band keys (bit-identical to the SQL exprs the
    # DuckDB oracle evaluates — parity-pinned; raises on dim mismatch)
    banded = _banded_buckets_arrow(df, "vec_id", dim, n_bands, int(bits_per_band))
    banded = _shed_big_buckets(banded, max_bucket_rows, "cosine_neardup")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    emb = df.select("vec_id", "embedding")
    joined = (
        cand.join(emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a")), "id_a")
        .join(emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b")), "id_b")
    )
    return (
        _pair_cos_raw(joined, "id_a", "id_b", "emb_a", "emb_b", dim)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def cosine_neardup_oracle(dim: int, threshold: float = 0.95,
                          n_bands: int = NEARDUP_BANDS, bits_per_band: int = NEARDUP_BITS) -> str:
    exprs = _neardup_bucket_exprs(dim, n_bands, bits_per_band, "duck")
    bucket_list = ", ".join(exprs)
    cos = _cos_duck("x.embedding::DOUBLE[]", "y.embedding::DOUBLE[]")
    return f"""
WITH bk AS (SELECT vec_id, unnest([{bucket_list}]) AS bucket FROM embeddings),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, {cos} AS cos
FROM cand JOIN embeddings x ON x.vec_id = id_a JOIN embeddings y ON y.vec_id = id_b
WHERE {cos} >= {threshold}
"""


# ------------------------------------------------------------ knn join

def knn_join(df: DataFrame, queries: DataFrame, k: int = 10,
             prefilter: bool = True) -> DataFrame:
    """Exact cosine k-NN JOIN: the top-k corpus vectors for EVERY row of
    `queries` (q_id, embedding) — the batch-of-probes shape a retrieval
    or eval pipeline actually runs, vs the single-literal-vector
    brute_topk. Output (q_id, vec_id, cos, rank), rank 1..k per q_id by
    (cos desc, vec_id asc).

    Scale shape: the query batch broadcasts (no corpus shuffle to score
    — scoring is a narrow pass over the embedding partitions), and with
    prefilter=True a mapInPandas stage keeps only each batch's local
    top-k per query BEFORE the single rank shuffle, so the shuffle
    carries O(batches * Q * k) skinny rows instead of N * Q. The
    prefilter selects by the FINAL (q_id, cos desc, vec_id) ordering on
    the already-computed scores, so it can never drop a true global
    top-k member — the result is bit-identical to the pure-window plan
    (prefilter=False, the oracle-shaped variant kept as a cross-check).
    For huge query batches, bucket both sides with the hyperplane bands
    cosine_neardup uses and knn-join per bucket.
    """
    from pyspark.sql.window import Window

    q = queries.select("q_id", F.col("embedding").alias("q_emb"))
    joined = df.crossJoin(F.broadcast(q))
    qrow = queries.select("embedding").first()
    dim = len(qrow["embedding"]) if qrow is not None else 0
    scored = (
        _pair_cos_raw(joined, "q_id", "vec_id", "q_emb", "embedding", dim)
        .select("q_id", "vec_id", F.round("cos", 6).alias("cos"))
    )
    return _rank_topk(scored, k, prefilter)


def _rank_topk(scored: DataFrame, k: int, prefilter: bool) -> DataFrame:
    """(q_id, vec_id, cos) -> top-k per q_id with rank. prefilter=True
    keeps each Arrow batch's local top-k per query BEFORE the single rank
    shuffle (selects by the final ordering on the final scores, so it can
    never drop a true global top-k member)."""
    from pyspark.sql.window import Window

    if prefilter:
        def _local_topk(batches):
            for pdf in batches:
                yield (
                    pdf.sort_values(["q_id", "cos", "vec_id"],
                                    ascending=[True, False, True])
                    .groupby("q_id", sort=False).head(k)
                )

        scored = scored.mapInPandas(_local_topk, "q_id long, vec_id long, cos double")
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_join_bucketed(df: DataFrame, queries: DataFrame, k: int = 10, *,
                      dim: int = 64, n_bands: int = NEARDUP_BANDS,
                      bits_per_band: int = NEARDUP_BITS) -> DataFrame:
    """Approximate cosine k-NN JOIN for query batches too large to
    broadcast: band-bucket BOTH sides with the same seeded hyperplanes
    cosine_neardup uses, score only (query, corpus) pairs sharing at
    least one band bucket, then rank. Same output shape as knn_join
    (q_id, vec_id, cos, rank); per-query results may hold fewer than k
    rows when the buckets prune harder than k.

    Scale shape: no broadcast anywhere — both sides shuffle once on the
    bucket key (the classic LSH join), candidates dedup, and the scoring
    joins are plain equi-joins on ids, so a 10^8-row query batch costs
    the same plan as a 10^2-row one. Recall is the per-pair band-recall
    1 - (1 - (1 - theta/pi)^bits)^n_bands — tune bands/bits exactly as
    in cosine_neardup; a query vector always collides with itself, so
    self-retrieval is certain. Deterministic given the seeded planes
    (exact SQL oracle in knn_join_bucketed_oracle)."""
    # Arrow-vectorized band keys (bit-identical to the SQL-expression
    # path, parity-pinned; raises on a dim mismatch that would collapse
    # band keys and degrade the bucket join toward a cross product)
    cb = _banded_buckets_arrow(df, "vec_id", dim, n_bands, bits_per_band)
    qb = _banded_buckets_arrow(queries, "q_id", dim, n_bands, bits_per_band)
    cand = qb.join(cb, "bucket").select("q_id", "vec_id").distinct()
    joined = (
        cand.join(df.select("vec_id", "embedding"), "vec_id")
        .join(queries.select("q_id", F.col("embedding").alias("q_emb")), "q_id")
    )
    scored = (
        _pair_cos_raw(joined, "q_id", "vec_id", "q_emb", "embedding", dim)
        .select("q_id", "vec_id", F.round("cos", 6).alias("cos"))
    )
    return _rank_topk(scored, k, prefilter=True)


def knn_join_bucketed_oracle(k: int = 10, max_q_id: int = 5, *,
                             dim: int = 64, n_bands: int = NEARDUP_BANDS,
                             bits_per_band: int = NEARDUP_BITS) -> str:
    exprs = _neardup_bucket_exprs(dim, n_bands, bits_per_band, "duck")
    bucket_list = ", ".join(exprs)
    cos = _cos_duck("e.embedding::DOUBLE[]", "q.q_emb::DOUBLE[]")
    return f"""
WITH cb AS (SELECT vec_id, unnest([{bucket_list}]) AS bucket FROM embeddings),
qb AS (SELECT vec_id AS q_id, unnest([{bucket_list}]) AS bucket
       FROM embeddings WHERE vec_id < {max_q_id}),
cand AS (SELECT DISTINCT qb.q_id, cb.vec_id FROM qb JOIN cb USING (bucket)),
q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {max_q_id}),
scored AS (
  SELECT cand.q_id, cand.vec_id, {cos} AS cos
  FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
            JOIN q ON q.q_id = cand.q_id
)
SELECT q_id, vec_id, cos, rank FROM (
  SELECT *, cast(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) as int) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def knn_join_oracle(k: int = 10, max_q_id: int = 5) -> str:
    cos = _cos_duck("e.embedding::DOUBLE[]", "q.q_emb::DOUBLE[]")
    return f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {max_q_id}),
scored AS (SELECT q.q_id, e.vec_id, {cos} AS cos FROM embeddings e CROSS JOIN q)
SELECT q_id, vec_id, cos, rank FROM (
  SELECT *, cast(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) as int) AS rank
  FROM scored
) WHERE rank <= {k}
"""
