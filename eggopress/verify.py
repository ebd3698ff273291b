"""Round-trip equality + compression-ratio verification.

The oracle is self round-trip (FIXTURES.md §2): decode(encode(corpus)) must
equal corpus per-row on every column (token-array equality is a first-class
Spark comparison), and total encoded size must be <= the same DataFrame
written as default (snappy) Parquet — the stand-in for the reference's
ADAM/Parquet output (datasets/dbsnp/toast.sh:27-42).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from eggopress.tablefmt import Table


def roundtrip_mismatches(original: DataFrame, decoded: DataFrame) -> DataFrame:
    """Rows where decode(encode(x)) != x — must be empty. Full outer join on
    doc_id also surfaces lost/fabricated rows."""
    o = original.select(
        F.col("doc_id"),
        F.col("tokens").alias("o_tokens"),
        F.col("n_tok").alias("o_n_tok"),
        F.col("source").alias("o_source"),
    )
    d = decoded.select(
        F.col("doc_id"),
        F.col("tokens").alias("d_tokens"),
        F.col("n_tok").alias("d_n_tok"),
        F.col("source").alias("d_source"),
    )
    j = o.join(d, "doc_id", "full_outer")
    return j.filter(
        F.col("o_tokens").isNull()
        | F.col("d_tokens").isNull()
        | (F.col("o_tokens") != F.col("d_tokens"))
        | (F.col("o_n_tok") != F.col("d_n_tok"))
        | (F.col("o_source") != F.col("d_source"))
    )


def roundtrip_ok(original: DataFrame, decoded: DataFrame) -> bool:
    """MULTISET equality on every column: symmetric exceptAll is empty.
    Lost rows, fabricated rows, duplicated rows, and any value change all
    surface, in ONE Spark job.

    Each row first reduces to a 128-bit content digest (two xxhash64
    halves over every column, independently seeded by a leading literal,
    plus an explicit tokens-null flag so NULL vs empty array cannot
    alias), and the bidirectional exceptAll compares multisets of 16-byte
    digests. The compare itself is exact over the digests; shuffling
    digests instead of the full token payload moves ~2 orders of
    magnitude fewer bytes through the two aggregates (optimization guide
    §2.3: shuffle keys and metadata instead of payloads — measured 4.8 s
    -> ~2 s on the 35M-token bench corpus). A false pass would need two
    DIFFERENT rows whose both xxhash64 halves collide between the two
    tables (P ~ n^2 / 2^128 — at 10^12 rows still ~3e-15); the exact
    row-by-row path remains available as roundtrip_mismatches.

    The multiset compare is per-digest counts full-outer-joined (count
    mismatch or a one-sided digest = not equal) rather than a symmetric
    exceptAll: exceptAll's two directions duplicate both input subtrees
    in one plan with no exchange reuse (verified in the r06 plan — the
    table DECODE executed twice), while the join form computes each side
    once and co-partitions the join on the aggregate keys."""
    cols = ["doc_id", "tokens", "n_tok", "source"]

    def digest_counts(df: DataFrame) -> DataFrame:
        return df.select(
            F.xxhash64(F.lit(0), F.isnull("tokens"), *cols).alias("h1"),
            F.xxhash64(F.lit(1), F.isnull("tokens"), *cols).alias("h2"),
        ).groupBy("h1", "h2").agg(F.count("*").alias("n"))

    o = digest_counts(original).withColumnRenamed("n", "n_o")
    d = digest_counts(decoded).withColumnRenamed("n", "n_d")
    diff = (
        o.join(d, ["h1", "h2"], "full_outer")
        .filter(F.coalesce("n_o", F.lit(-1)) != F.coalesce("n_d", F.lit(-1)))
    )
    return diff.limit(1).count() == 0


def parquet_reference_bytes(df: DataFrame, scratch_dir: str,
                            compression: str | None = None) -> int:
    """Size of df written as reference Parquet — default snappy (what the
    reference-era STORED AS PARQUET produced); pass compression='zstd'
    for the like-for-like storage-codec arm."""
    path = os.path.join(scratch_dir, f"reference_parquet_{compression or 'snappy'}")
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.parquet(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compression_report(spark: SparkSession, table_path: str,
                       original: DataFrame, scratch_dir: str) -> dict:
    tbl = Table(table_path)
    snap = tbl.snapshot() or {}
    totals = snap.get("totals", {})
    ref_bytes = parquet_reference_bytes(original, scratch_dir)
    data_bytes = tbl.tree_bytes("data")
    return {
        "raw_bytes": totals.get("raw_bytes"),
        "encoded_bytes": totals.get("encoded_bytes"),
        "on_disk_bytes": data_bytes,
        "reference_parquet_bytes": ref_bytes,
        "ratio_vs_raw": (totals.get("raw_bytes") or 0) / max(totals.get("encoded_bytes") or 1, 1),
        "ratio_vs_reference": ref_bytes / max(data_bytes, 1),
        "beats_reference": data_bytes <= ref_bytes,
    }
