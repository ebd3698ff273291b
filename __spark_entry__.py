"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship: tokenize sf0.001 documents into the corpus shape,
               run the full encode -> decode -> verify round trip through
               the eggopress engine, return the per-source summary.
queries()    — one entry per implemented operator (SURVEY.md §2 IDs in the
               key names) + the training-data pipeline ops.
oracle_sql() — DuckDB equivalents (same arithmetic, dialect-adjusted).
               Engine-internal ops whose outputs depend on xxhash64
               partitioning / codec internals are rows-only by design.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_scratch")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _committed(path: str) -> bool:
    """Does path hold a committed table (a cache hit)?"""
    from eggopress.tablefmt import Table

    return (Table(path).snapshot() or {}).get("stage") == "encoded"


def _roundtrip_table(spark: SparkSession, sf_dir: str) -> str:
    """Encode the tokenized documents corpus once per sf_dir; cached on disk."""
    from eggopress import encode
    from eggopress.pipeline import textstats

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(SCRATCH, f"rt3_{key}")  # rt3: delta codec joined the candidate set
    if not _committed(path):
        corpus = textstats.tokenize(_t(spark, sf_dir, "documents"))
        encode.encode_table(spark, corpus, path, n_partitions=8)
    return path


# --------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full engine round trip."""
    sf_dir = "/root/testdata/sf0.001"
    from eggopress import decode
    from eggopress.pipeline import textstats

    path = _roundtrip_table(spark, sf_dir)
    corpus = textstats.tokenize(_t(spark, sf_dir, "documents"))
    decoded = decode.decode_table(spark, path)
    j = corpus.alias("o").join(decoded.alias("d"), "doc_id", "full_outer")
    return (
        j.groupBy(F.coalesce(F.col("o.source"), F.col("d.source")).alias("source"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(
                    F.col("o.tokens").isNull()
                    | F.col("d.tokens").isNull()
                    | (F.col("o.tokens") != F.col("d.tokens")),
                    1,
                ).otherwise(0)
            ).alias("n_mismatch"),
            F.sum(F.col("o.n_tok").cast("long")).alias("total_tokens"),
        )
        .orderBy("source")
    )


# ------------------------------------------------------------- queries

def _q_roundtrip_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress import decode
    from eggopress.pipeline import textstats

    path = _roundtrip_table(spark, sf_dir)
    corpus = textstats.tokenize(_t(spark, sf_dir, "documents"))
    decoded = decode.decode_table(spark, path)
    j = corpus.alias("o").join(decoded.alias("d"), "doc_id", "full_outer")
    return j.groupBy(F.coalesce(F.col("o.source"), F.col("d.source")).alias("source")).agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(
                F.col("o.tokens").isNull()
                | F.col("d.tokens").isNull()
                | (F.col("o.tokens") != F.col("d.tokens"))
                | (F.col("o.n_tok") != F.col("d.n_tok")),
                1,
            ).otherwise(0)
        ).alias("n_mismatch"),
    )


def _q_roundtrip_token_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level gate: per-source token sums computed from DECODED data
    must equal the oracle's sums computed from the raw text."""
    from eggopress import decode

    path = _roundtrip_table(spark, sf_dir)
    decoded = decode.decode_table(spark, path)
    return decoded.groupBy("source").agg(
        F.sum(F.expr("aggregate(tokens, 0L, (acc, x) -> acc + x)")).alias("token_sum"),
        F.sum(F.col("n_tok").cast("long")).alias("n_tok_sum"),
        F.count("*").alias("n_docs"),
    )


def _generic_lineitem_table(spark: SparkSession, sf_dir: str) -> str:
    """Encode lineitem through the GENERIC-schema codec path once per
    sf_dir; cached on disk (same discipline as _roundtrip_table)."""
    from eggopress import generic

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(SCRATCH, f"gli4_{key}")  # gli4: generic tables commit snapshots
    if not _committed(path):
        li = _t(spark, sf_dir, "lineitem")
        generic.encode_generic(
            spark, li, path, cluster_by=("l_shipdate", "l_orderkey"),
            n_partitions=8)
    return path


def _q_lineitem_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 on an ARBITRARY schema: lineitem (ints, doubles, strings,
    timestamps) encoded through the generic codec path, decoded, and
    rolled up — sums of exact integer domains, min/max of doubles (order
    independent), formatted timestamp bounds. Equality with the oracle
    computed over the RAW parquet proves the decode is bit-identical in
    every aggregated domain."""
    from eggopress import generic

    path = _generic_lineitem_table(spark, sf_dir)
    dec = generic.decode_generic(spark, path)
    return dec.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum("l_orderkey").alias("sum_okey"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_discount").alias("min_disc"),
        F.max("l_tax").alias("max_tax"),
        F.expr("cast(date_format(min(l_shipdate), 'yyyy-MM-dd-HH') as string)")
        .alias("min_ship"),
        F.expr("cast(date_format(max(l_shipdate), 'yyyy-MM-dd-HH') as string)")
        .alias("max_ship"),
    )


def _q_lineitem_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 on the generic path: chunk-level min/max skipping + exact row
    filter on an integer column, with blob-level projection."""
    from eggopress import generic

    path = _generic_lineitem_table(spark, sf_dir)
    dec = generic.decode_generic(
        spark, path, columns=["l_orderkey", "l_linenumber", "l_quantity"],
        where={"l_orderkey": (1000, 5000)})
    return dec.groupBy("l_linenumber").agg(
        F.count("*").alias("n"),
        F.sum("l_orderkey").alias("sum_okey"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


def _q_events_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 on a second arbitrary schema (events: ids, timestamp, free-text
    props, continuous doubles) through the generic codec path — clustered
    by (event_type, ts), the natural layout for an event log."""
    from eggopress import generic

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(SCRATCH, f"gev4_{key}")
    if not _committed(path):
        generic.encode_generic(
            spark, _t(spark, sf_dir, "events"), path,
            cluster_by=("event_type", "ts"), n_partitions=4)
    dec = generic.decode_generic(spark, path)
    return dec.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("user_id").alias("sum_user"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum(F.length("props")).alias("props_chars"),
        F.expr("cast(date_format(min(ts), 'yyyy-MM-dd-HH:mm:ss') as string)")
        .alias("min_ts"),
        F.expr("cast(date_format(max(ts), 'yyyy-MM-dd-HH:mm:ss') as string)")
        .alias("max_ts"),
    )


def _q_embeddings_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 on a float-array schema: the embeddings table (vec_id,
    embedding:array<float>, label) through the generic codec path —
    float payloads travel as IEEE bit patterns, so the decode is exact
    and min/max/count aggregates (no float accumulation) prove it."""
    from eggopress import generic

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(SCRATCH, f"gemb4_{key}")
    if not _committed(path):
        generic.encode_generic(
            spark, _t(spark, sf_dir, "embeddings"), path,
            cluster_by=("label", "vec_id"), n_partitions=4)
    dec = generic.decode_generic(spark, path)
    return dec.groupBy((F.col("vec_id") % 16).alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum("vec_id").alias("sum_vid"),
        F.sum(F.size("embedding")).alias("dims"),
        F.min(F.array_min("embedding")).alias("emb_min"),
        F.max(F.array_max("embedding")).alias("emb_max"),
        F.sum("label").alias("sum_label"),
    )


def _q_lineitem_stats_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT/SUM/MIN/MAX over the generic lineitem table:
    answered from chunk stats columns alone, no blob decoded (the
    generic analog of agg_stats_pushdown)."""
    from eggopress import generic

    path = _generic_lineitem_table(spark, sf_dir)
    return generic.stats_rollup_generic(
        spark, path, ["l_orderkey", "l_linenumber"])


def _q_doc_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random access by doc_id through the docmap index: ids resolve to
    chunk ids via the hash-partition-pruned skinny index, then only
    those chunks decode — request-proportional work, the
    serve-training-docs-by-id path."""
    import json

    from eggopress import decode
    from eggopress.tablefmt import Table

    path = _roundtrip_table(spark, sf_dir)
    meta = os.path.join(path, "index", "docmap", "_meta.json")
    stale = True
    if os.path.exists(meta):
        with open(meta) as fh:
            stale = (json.load(fh)["built_at_version"]
                     != Table(path).current_version())
    if stale:
        decode.build_doc_index(spark, path)
    docs = _t(spark, sf_dir, "documents")
    ids = [r["doc_id"] for r in docs.filter("doc_id % 97 = 3").selectExpr(
        "concat(source, '-', lpad(cast(doc_id as string), 10, '0')) as doc_id"
    ).collect()]
    return decode.lookup_docs(spark, path, ids).select(
        "doc_id", "n_tok", "source")


def _q_codec_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.tablefmt import Table

    path = _roundtrip_table(spark, sf_dir)
    man = spark.read.parquet(Table(path).manifest_dir)
    return man.groupBy("column", "codec").agg(
        F.count("*").alias("chunks"),
        F.sum("encoded_bytes").alias("encoded_bytes"),
    )


def _q_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress import lineage
    from eggopress.tablefmt import Table

    path = _roundtrip_table(spark, sf_dir)
    return (
        lineage.read(spark, Table(path))
        .filter(F.col("status") == "done")
        .select("partition_id", "stage", "status", "attempt", "row_count", "output_bytes")
    )


def _q_predicate_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 row-subset filter with chunk-level min/max skipping at the scan."""
    from eggopress import decode

    path = _roundtrip_table(spark, sf_dir)
    return decode.decode_table(spark, path, n_tok_range=(30, 60)).select(
        "doc_id", "n_tok", "source"
    )


def _q_projected_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 on the data path: decode only doc_id/n_tok/source — the token
    blobs (the bulk of the table) are never read or decoded."""
    from eggopress import decode

    path = _roundtrip_table(spark, sf_dir)
    return decode.decode_table(spark, path, columns=["doc_id", "n_tok", "source"])


def _q_token_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-VALUE predicate (the "which docs mention token X" scan):
    chunks whose [tok_min, tok_max] stats window misses the range are
    skipped at the parquet scan; surviving rows get an exact exists()
    filter. Projection keeps only metadata columns in the result while
    the filter column is added and dropped internally."""
    from eggopress import decode

    path = _roundtrip_table(spark, sf_dir)
    return decode.decode_table(spark, path, token_range=(13090, 13103),
                               columns=["doc_id", "n_tok", "source"])


def _q_stats_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only per-source totals from chunk stats (no blob decode)."""
    from eggopress import decode

    path = _roundtrip_table(spark, sf_dir)
    return decode.stats_rollup(spark, path)


def _q_edition_flat_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat edition (token-level rows, the nested->flat duality) rollup."""
    from eggopress import editions

    path = _roundtrip_table(spark, sf_dir)
    return (
        editions.edition_df(spark, path, "flat")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_pos"),
            F.sum(F.col("token").cast("long")).alias("token_sum"),
        )
    )


def _q_edition_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned edition read: the locuspart edition is
    hive-partitioned by source, so a two-source filter touches two
    directories of the edition, not the table (pruning plan-asserted in
    tests/test_plans.py::test_edition_locuspart_scan_prunes_partitions)."""
    from eggopress import editions

    path = _roundtrip_table(spark, sf_dir)
    out = editions.list_editions(path).get("locuspart")
    if out is None or not os.path.isdir(out):
        out = editions.materialize(spark, path, "locuspart")
    return (
        spark.read.parquet(out)
        .filter(F.col("source").isin(["src1", "src2"]))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_tok").cast("long")).alias("n_tok_sum"),
        )
    )


def _manifest_ingest_table(spark: SparkSession, sf_dir: str) -> str:
    """Fixture for S2 manifest ingest: split the documents table into two
    resources by doc_id parity — 'evens' as gzip'd jsonl, 'odds' as plain
    jsonl — write a datapackage manifest, ingest once; cached on disk."""
    import gzip
    import json

    import pyarrow.parquet as pq

    from eggopress import ingest
    from eggopress.tablefmt import Table

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = os.path.join(SCRATCH, f"ing_{key}")
    table = os.path.join(root, "tbl")
    if (Table(table).snapshot() or {}).get("stage") != "encoded":
        os.makedirs(root, exist_ok=True)
        t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                          columns=["doc_id", "text"])
        ids, texts = t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        with gzip.open(os.path.join(root, "evens.jsonl.gz"), "wt") as f:
            f.write("\n".join(json.dumps({"text": x})
                              for i, x in zip(ids, texts) if i % 2 == 0))
        with open(os.path.join(root, "odds.jsonl"), "w") as f:
            f.write("\n".join(json.dumps({"text": x})
                              for i, x in zip(ids, texts) if i % 2 == 1))
        with open(os.path.join(root, "datapackage.json"), "w") as f:
            json.dump({"name": "gate", "resources": [
                {"name": "evens", "path": "evens.jsonl.gz", "format": "jsonl",
                 "compression": "gzip"},
                {"name": "odds", "path": "odds.jsonl", "format": "jsonl"},
            ]}, f)
        docs = ingest.load_manifest_documents(
            spark, os.path.join(root, "datapackage.json"))
        ingest.ingest_table(spark, docs, table, n_partitions=4)
    return table


def _q_manifest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2: datapackage-manifest multi-resource ingest (gzip + plain)
    -> encode -> decode rollup. Content-addressed ids collapse exact dups
    per resource, so the oracle aggregates DISTINCT (resource, text)."""
    from eggopress import decode

    table = _manifest_ingest_table(spark, sf_dir)
    return decode.decode_table(spark, table).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("n_tok_sum"),
    )


def _q_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest gate: the same parity-split resources as the
    manifest fixture arrive as TWO micro-batches through a Structured
    Streaming file source (maxFilesPerTrigger=1) into an append table;
    the decoded rollup must match the batch-path oracle exactly."""
    import json

    import pyarrow.parquet as pq

    from eggopress import decode, streaming
    from eggopress.tablefmt import Table

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = os.path.join(SCRATCH, f"str_{key}")
    table = os.path.join(root, "tbl")
    if (Table(table).snapshot() or {}).get("stage") != "encoded":
        landing = os.path.join(root, "landing")
        os.makedirs(landing, exist_ok=True)
        t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                          columns=["doc_id", "text"])
        ids, texts = t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        for label, parity in (("evens", 0), ("odds", 1)):
            with open(os.path.join(landing, f"{label}.jsonl"), "w") as f:
                f.write("\n".join(
                    json.dumps({"doc_id": None, "text": x, "source": label,
                                "ts": "2026-01-01T00:00:00"})
                    for i, x in zip(ids, texts) if i % 2 == parity
                ))
        q = streaming.stream_ingest(
            spark, landing, table,
            checkpoint=os.path.join(root, "ckpt"),
            max_files_per_trigger=1,
            # exercises the cross-batch anti-join in the gate; the parity
            # fixture has no cross-batch copies, so the rollup is
            # unchanged — dedup here must be a no-op, which is itself
            # part of what the oracle checks
            dedup_across_batches=True,
        )
        q.awaitTermination()
    return decode.decode_table(spark, table).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("n_tok_sum"),
    )


def _q_skew_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )


def _q_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    total = docs.count()
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n"))
        .select(
            "source",
            "n",
            F.expr(f"greatest(1, cast(floor(16 * n / {total} + 0.5) as int))").alias("n_salts"),
        )
    )


def _q_derived_partition_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .withColumn("bucket", F.expr("pmod(doc_id, 8)"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import dedup

    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def _q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import dedup

    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), 0.6)


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import dedup

    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import dedup

    return dedup.simhash(_t(spark, sf_dir, "documents"))


def _q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import dedup

    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"), 3)


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over simhash near-dup pairs: transitive
    chains collapse into one cluster (min reachable doc_id)."""
    from eggopress.pipeline import dedup

    return dedup.resolve_clusters(dedup.simhash_pairs(_t(spark, sf_dir, "documents"), 3))


def _q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split rollup: same doc -> same split, always."""
    from eggopress.pipeline import textstats

    corpus = textstats.tokenize(_t(spark, sf_dir, "documents"))
    return textstats.train_split(corpus).groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("n_tok_sum"),
    )


SAMPLE_FRACTIONS = {"src1": 0.5, "src2": 0.25, "src3": 0.0}


def _q_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source downsampling (domain mixing) rollup:
    content-stable hash-threshold keep/drop, no sample()."""
    from eggopress.pipeline import textstats

    corpus = textstats.tokenize(_t(spark, sf_dir, "documents"))
    return textstats.sample_corpus(corpus, SAMPLE_FRACTIONS, default=1.0).groupBy(
        "source"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("n_tok_sum"),
    )


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing (concat+chunk into ctx-token training
    sequences): per-(source, pack) rollup of the window prefix-sum
    assignment."""
    from eggopress.pipeline import textstats

    corpus = textstats.tokenize(_t(spark, sf_dir, "documents"))
    return textstats.pack_sequences(corpus, ctx=256).groupBy(
        "source", "pack_id"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("n_tok_sum"),
    )


def _q_pack_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized sequence packing: the actual fixed-ctx token arrays a
    training job consumes, proven by an order-sensitive per-pack
    checksum (sum of token * (position+1)) — reassembly order, not just
    membership."""
    from eggopress.pipeline import textstats

    corpus = textstats.tokenize(_t(spark, sf_dir, "documents"))
    packs = textstats.pack_sequences(corpus, ctx=256, materialize=True)
    return packs.select(
        "source", "pack_id", "n_tok",
        F.expr(
            "aggregate(zip_with(tokens, sequence(1, size(tokens)),"
            " (t, i) -> cast(t as bigint) * i), 0L, (a, x) -> a + x)"
        ).alias("checksum"),
    )


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    n-gram with the (tiny, broadcast) benchmark set — the
    eval-overlap audit every shipping pipeline runs."""
    from eggopress.pipeline import textstats

    docs = _t(spark, sf_dir, "documents").selectExpr(
        "concat(source, '-', lpad(cast(doc_id as string), 10, '0')) as doc_id",
        "text")
    bench = _t(spark, sf_dir, "documents").filter("doc_id % 151 = 0") \
        .select("text")
    return textstats.decontaminate(docs, bench, n=5)


def _q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary histogram via per-partition bincount partial aggregation."""
    from eggopress.pipeline import textstats

    return textstats.token_histogram(textstats.tokenize(_t(spark, sf_dir, "documents")))


def _q_token_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting distinct-token sketch: bounded-shuffle cardinality
    estimation with a deterministic (md5-bucket) hash, so the estimate
    itself is oracle-checkable — unlike engine-internal HLL."""
    from eggopress.pipeline import textstats

    return textstats.token_cardinality(
        textstats.tokenize(_t(spark, sf_dir, "documents")), m=64)


def _q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import simsearch

    # 0.45 (not 0.95): the synthetic embeddings are near-orthogonal random
    # vectors, so a 0.95 gate returns zero rows on both sides and proves
    # nothing; at 0.45 the gate compares real non-empty pair sets.
    return simsearch.cosine_neardup(_t(spark, sf_dir, "embeddings"), 0.45, dim=64)


def _query_vec(spark: SparkSession, sf_dir: str):
    row = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).first()
    return list(row["embedding"])


def _q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import simsearch

    return simsearch.brute_topk(_t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), 10)


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import simsearch

    return simsearch.lsh_topk(_t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), 10)


def _q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH: also search buckets within hamming distance 1 of
    the query's signature — recall rises for sum C(8,<=1) = 9 buckets
    scanned instead of 1."""
    from eggopress.pipeline import simsearch

    return simsearch.lsh_topk(
        _t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), 10,
        probe_bits=1)


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import simsearch

    return simsearch.ivf_topk(_t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), 10)


def _q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a Lloyd's-TRAINED quantizer (distributed spherical
    k-means: one narrow partial-sums pass per iteration, O(partitions x
    cells x dim) to the driver). Rows-only by design — k float k-means
    iterations have no SQL oracle; determinism + inertia descent +
    probe-all==brute are pytest-pinned instead."""
    from eggopress.pipeline import simsearch

    emb = _t(spark, sf_dir, "embeddings")
    cents = simsearch.train_ivf_centroids(emb, iters=2)
    return simsearch.ivf_topk(emb, _query_vec(spark, sf_dir), 10,
                              centroids=cents)


def _q_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine k-NN join for a 5-query probe batch (two-phase
    local-top-k prefilter; bit-identical to the pure-window plan)."""
    from eggopress.pipeline import simsearch

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return simsearch.knn_join(emb, queries, 10)


def _q_ann_knn_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed k-NN join (the no-broadcast variant for huge query
    batches): both sides band-bucket on the seeded hyperplanes, only
    bucket-sharing pairs are scored. Deterministic, so fully
    oracle-checked."""
    from eggopress.pipeline import simsearch

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return simsearch.knn_join_bucketed(emb, queries, 10)


def _q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import textstats

    return textstats.token_counts(_t(spark, sf_dir, "documents"))


def _q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import textstats

    return textstats.lang_id(_t(spark, sf_dir, "documents"))


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import textstats

    return textstats.quality_scores(_t(spark, sf_dir, "documents"))


def _q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import textstats

    return textstats.fingerprints(_t(spark, sf_dir, "documents"))


def _q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import multimodal

    assets = multimodal.attach_binary(_t(spark, sf_dir, "documents"))
    return multimodal.extract_features(assets)


def _q_multimodal_rle_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pixel decode of a COMPRESSED raster format (BMP BI_RLE8,
    bytes-only decompression — encoded runs + absolute mode + EOL/EOB):
    the order-sensitive checksum over every decoded pixel has a
    closed-form oracle from the fixture's pixel function."""
    from eggopress.pipeline import multimodal

    assets = multimodal.attach_rle_bmp(_t(spark, sf_dir, "documents"))
    return multimodal.decode_rle_frames(assets)


def _q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real nearest-neighbor resize over synthetic rasters; the checksum
    of every resized pixel has a closed-form SQL oracle."""
    from eggopress.pipeline import multimodal

    assets = multimodal.attach_raster(_t(spark, sf_dir, "documents"))
    return multimodal.resize_frames(assets, 8, 6).select(
        "doc_id", "width", "height", "n_frames", "pixel_sum"
    )


def _q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eggopress.pipeline import multimodal

    assets = multimodal.attach_raster(_t(spark, sf_dir, "documents"))
    return multimodal.sample_frames(assets, 2).select(
        "doc_id", "frame_idx", "pixel_sum"
    )


def _q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        # exact decimal sum, then one cast to double: identical value and
        # rendering in Spark and the DuckDB oracle (HUGEINT/DECIMAL sums
        # otherwise hash differently at the driver gate)
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
    )


def _q_join_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


def _q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join (customer BROADCAST into orders,
    orders shuffle-joined with lineitem on the order key), revenue
    rollup, top-10 by revenue. Exercises the multi-join + sort/limit
    surface (SURVEY.md §2.6); the small dim broadcasts, the fact-fact
    join shuffles on its key — the plan that survives 100x."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def _q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
    )


def _q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.expr("cast(date_format(ts, 'yyyy-MM-dd-HH') as string)").alias("hour_key"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # generic relational coverage (aggregate / broadcast join / window)
        # — listed FIRST: the round-5 driver correctness file truncated at
        # 50 of 55 rows and dropped exactly these (the least externally
        # proven rows); front-loading them means any future truncation
        # sheds the longest-proven rows at the tail instead. Pure dict
        # ordering — names, callables, and oracle SQL are unchanged.
        "agg_pricing_summary": _q_agg_pricing,
        "join_segment_rollup": _q_join_segment_rollup,
        "join_shipping_priority": _q_shipping_priority,
        "window_top_orders": _q_window_top_orders,
        "events_rollup": _q_events_rollup,
        # engine core (SURVEY.md §2.4 C1-C7, §2.3 D1-D4, §2.1 S5/S6, §2.7 V1-V2)
        "c7_roundtrip_equality": _q_roundtrip_equality,
        "c7_roundtrip_token_sum": _q_roundtrip_token_sum,
        "c7_lineitem_roundtrip": _q_lineitem_roundtrip,
        "p2_lineitem_predicate": _q_lineitem_predicate,
        "p2_doc_lookup": _q_doc_lookup,
        "agg_lineitem_stats_pushdown": _q_lineitem_stats_pushdown,
        "c7_events_roundtrip": _q_events_roundtrip,
        "c7_embeddings_roundtrip": _q_embeddings_roundtrip,
        "c6_codec_selection": _q_codec_selection,
        "v1_lineage": _q_lineage,
        "p2_predicate_decode": _q_predicate_decode,
        "p2_token_predicate": _q_token_predicate,
        "p4_projected_decode": _q_projected_decode,
        "agg_stats_pushdown": _q_stats_pushdown,
        "edition_flat_rollup": _q_edition_flat_rollup,
        "edition_scan_pruned": _q_edition_scan_pruned,
        "s2_manifest_ingest": _q_manifest_ingest,
        "stream_ingest_rollup": _q_stream_ingest,
        "d1_skew_source_counts": _q_skew_source_counts,
        "d3_salt_plan": _q_salt_plan,
        "p3_derived_partition_key": _q_derived_partition_key,
        # training-data pipeline
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_ngram,
        "dedup_minhash_lsh": _q_dedup_minhash,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_simhash_pairs": _q_dedup_simhash_pairs,
        "dedup_cluster_resolve": _q_dedup_clusters,
        "dedup_embedding_cosine": _q_dedup_embedding,
        "ann_brute_topk": _q_ann_brute,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_lsh_multiprobe": _q_ann_lsh_multiprobe,
        "ann_ivf_topk": _q_ann_ivf,
        "ann_ivf_trained": _q_ann_ivf_trained,
        "ann_knn_join": _q_ann_knn_join,
        "ann_knn_join_bucketed": _q_ann_knn_join_bucketed,
        "text_token_counts": _q_text_token_counts,
        "text_lang_id": _q_text_lang_id,
        "text_quality": _q_text_quality,
        "text_fingerprint": _q_text_fingerprint,
        "text_token_histogram": _q_token_histogram,
        "text_train_split": _q_train_split,
        "text_source_sample": _q_source_sample,
        "text_pack_sequences": _q_pack_sequences,
        "text_pack_materialized": _q_pack_materialized,
        "text_decontaminate": _q_decontaminate,
        "text_token_cardinality": _q_token_cardinality,
        "multimodal_features": _q_multimodal,
        "multimodal_resize": _q_multimodal_resize,
        "multimodal_rle_decode": _q_multimodal_rle_decode,
        "multimodal_frame_sample": _q_multimodal_frames,
    }


def oracle_sql() -> dict[str, str]:
    from eggopress.pipeline import dedup, multimodal, simsearch, textstats

    # manifest ingest and streaming ingest consume the SAME parity-split
    # resources (content-addressed ids dedup exact copies per resource),
    # so one DISTINCT rollup oracle covers both paths
    parity_rollup = f"""
        SELECT source, count(*) AS n_docs, cast(sum(n_tok) as bigint) AS n_tok_sum
        FROM (SELECT DISTINCT
                CASE WHEN doc_id % 2 = 0 THEN 'evens' ELSE 'odds' END AS source,
                text, len({textstats.WORDS_DUCK}) AS n_tok
              FROM documents)
        GROUP BY source
    """

    cos = simsearch._cos_duck("embedding::DOUBLE[]", "q")
    bucket_expr = simsearch.lsh_bucket_expr_duck(64)
    qbucket_expr = bucket_expr.replace(simsearch.EMB_D_DUCK, "q")
    return {
        "c7_roundtrip_equality": (
            "SELECT source, count(*) AS n_docs, cast(0 as bigint) AS n_mismatch "
            "FROM documents GROUP BY source"
        ),
        "c7_roundtrip_token_sum": f"""
            SELECT source,
                   cast(sum(coalesce(list_sum({textstats.TOKENS_DUCK}), 0)) as bigint) AS token_sum,
                   cast(sum(len({textstats.WORDS_DUCK})) as bigint) AS n_tok_sum,
                   count(*) AS n_docs
            FROM documents GROUP BY source
        """,
        "c7_lineitem_roundtrip": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   cast(sum(l_orderkey) as bigint) AS sum_okey,
                   cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty,
                   min(l_extendedprice) AS min_price,
                   max(l_extendedprice) AS max_price,
                   min(l_discount) AS min_disc,
                   max(l_tax) AS max_tax,
                   strftime(min(l_shipdate), '%Y-%m-%d-%H') AS min_ship,
                   strftime(max(l_shipdate), '%Y-%m-%d-%H') AS max_ship
            FROM lineitem GROUP BY 1, 2
        """,
        "c7_events_roundtrip": """
            SELECT event_type, count(*) AS n,
                   cast(sum(user_id) as bigint) AS sum_user,
                   min(value) AS min_value,
                   max(value) AS max_value,
                   cast(sum(len(props)) as bigint) AS props_chars,
                   strftime(min(ts), '%Y-%m-%d-%H:%M:%S') AS min_ts,
                   strftime(max(ts), '%Y-%m-%d-%H:%M:%S') AS max_ts
            FROM events GROUP BY 1
        """,
        "c7_embeddings_roundtrip": """
            SELECT vec_id % 16 AS bucket, count(*) AS n,
                   cast(sum(vec_id) as bigint) AS sum_vid,
                   cast(sum(len(embedding)) as bigint) AS dims,
                   min(list_min(embedding)) AS emb_min,
                   max(list_max(embedding)) AS emb_max,
                   cast(sum(label) as bigint) AS sum_label
            FROM embeddings GROUP BY 1
        """,
        "agg_lineitem_stats_pushdown": """
            SELECT count(*) AS n_rows,
                   cast(sum(l_orderkey) as bigint) AS l_orderkey_sum,
                   min(l_orderkey) AS l_orderkey_min,
                   max(l_orderkey) AS l_orderkey_max,
                   cast(sum(l_linenumber) as bigint) AS l_linenumber_sum,
                   cast(min(l_linenumber) as bigint) AS l_linenumber_min,
                   cast(max(l_linenumber) as bigint) AS l_linenumber_max
            FROM lineitem
        """,
        "p2_lineitem_predicate": """
            SELECT l_linenumber, count(*) AS n,
                   cast(sum(l_orderkey) as bigint) AS sum_okey,
                   cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty
            FROM lineitem
            WHERE l_orderkey BETWEEN 1000 AND 5000
            GROUP BY 1
        """,
        "p2_doc_lookup": f"""
            SELECT concat(source, '-', lpad(cast(doc_id as varchar), 10, '0')) AS doc_id,
                   cast(len({textstats.WORDS_DUCK}) as int) AS n_tok,
                   source
            FROM documents
            WHERE doc_id % 97 = 3
        """,
        "p2_predicate_decode": f"""
            SELECT concat(source, '-', lpad(cast(doc_id as varchar), 10, '0')) AS doc_id,
                   cast(len({textstats.WORDS_DUCK}) as int) AS n_tok,
                   source
            FROM documents
            WHERE len({textstats.WORDS_DUCK}) BETWEEN 30 AND 60
        """,
        "p2_token_predicate": f"""
            SELECT concat(source, '-', lpad(cast(doc_id as varchar), 10, '0')) AS doc_id,
                   cast(len({textstats.WORDS_DUCK}) as int) AS n_tok,
                   source
            FROM documents
            WHERE len(list_filter({textstats.TOKENS_DUCK},
                                  t -> t >= 13090 AND t <= 13103)) > 0
        """,
        "p4_projected_decode": f"""
            SELECT concat(source, '-', lpad(cast(doc_id as varchar), 10, '0')) AS doc_id,
                   cast(len({textstats.WORDS_DUCK}) as int) AS n_tok,
                   source
            FROM documents
        """,
        "agg_stats_pushdown": f"""
            SELECT source, count(*) AS n_docs,
                   cast(sum(len({textstats.WORDS_DUCK})) as bigint) AS n_tok_sum
            FROM documents GROUP BY source
        """,
        "edition_flat_rollup": f"""
            SELECT source,
                   cast(sum(len({textstats.WORDS_DUCK})) as bigint) AS n_pos,
                   cast(sum(coalesce(list_sum({textstats.TOKENS_DUCK}), 0)) as bigint) AS token_sum
            FROM documents GROUP BY source
        """,
        "edition_scan_pruned": f"""
            SELECT source, count(*) AS n_docs,
                   cast(sum(len({textstats.WORDS_DUCK})) as bigint) AS n_tok_sum
            FROM documents
            WHERE source IN ('src1', 'src2')
            GROUP BY source
        """,
        "s2_manifest_ingest": parity_rollup,
        "stream_ingest_rollup": parity_rollup,
        "d1_skew_source_counts": "SELECT source, count(*) AS n FROM documents GROUP BY source",
        "d3_salt_plan": """
            SELECT source, count(*) AS n,
                   greatest(1, cast(floor(16 * count(*) / (SELECT count(*) FROM documents) + 0.5) as int)) AS n_salts
            FROM documents GROUP BY source
        """,
        "p3_derived_partition_key": (
            "SELECT doc_id % 8 AS bucket, count(*) AS n, cast(sum(n_chars) as bigint) AS chars "
            "FROM documents GROUP BY 1"
        ),
        "dedup_exact": dedup.EXACT_DEDUP_ORACLE,
        "dedup_ngram_jaccard": dedup.ngram_jaccard_oracle(0.6),
        "dedup_minhash_lsh": dedup.minhash_lsh_oracle(),
        "dedup_simhash": dedup.SIMHASH_ORACLE,
        "dedup_simhash_pairs": dedup.simhash_pairs_oracle(3),
        "dedup_cluster_resolve": dedup.resolve_clusters_oracle(
            dedup.simhash_pairs_oracle(3)
        ),
        "dedup_embedding_cosine": simsearch.cosine_neardup_oracle(64, 0.45),
        "ann_brute_topk": f"""
            SELECT vec_id, {cos} AS cos
            FROM embeddings, (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0)
            ORDER BY cos DESC, vec_id ASC LIMIT 10
        """,
        "ann_lsh_topk": f"""
            WITH qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, {cos} AS cos
            FROM (SELECT vec_id, embedding, {bucket_expr} AS bucket FROM embeddings), qv
            WHERE bucket = ({qbucket_expr})
            ORDER BY cos DESC, vec_id ASC LIMIT 10
        """,
        "ann_lsh_multiprobe": f"""
            WITH qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, {cos} AS cos
            FROM (SELECT vec_id, embedding, {bucket_expr} AS bucket FROM embeddings), qv
            WHERE bit_count(xor(bucket, ({qbucket_expr}))) <= 1
            ORDER BY cos DESC, vec_id ASC LIMIT 10
        """,
        "ann_ivf_topk": simsearch.ivf_topk_oracle(0, 10),
        "ann_knn_join": simsearch.knn_join_oracle(10, 5),
        "ann_knn_join_bucketed": simsearch.knn_join_bucketed_oracle(10, 5),
        "text_token_counts": textstats.TOKEN_COUNTS_ORACLE,
        "text_lang_id": textstats.LANG_ID_ORACLE,
        "text_quality": textstats.QUALITY_ORACLE,
        "text_fingerprint": textstats.FINGERPRINT_ORACLE,
        "text_token_histogram": textstats.TOKEN_HISTOGRAM_ORACLE,
        "text_train_split": f"""
            SELECT {textstats.train_split_case_duck()} AS split,
                   count(*) AS n_docs,
                   cast(sum(len({textstats.WORDS_DUCK})) as bigint) AS n_tok_sum
            FROM (SELECT concat(source, '-', lpad(cast(doc_id as varchar), 10, '0')) AS doc_id,
                         text
                  FROM documents)
            GROUP BY 1
        """,
        "text_source_sample": f"""
            SELECT source, count(*) AS n_docs,
                   cast(sum(len({textstats.WORDS_DUCK})) as bigint) AS n_tok_sum
            FROM (SELECT source, text,
                         concat(source, '-', lpad(cast(doc_id as varchar), 10, '0')) AS doc_id
                  FROM documents)
            WHERE {textstats.sample_corpus_where_duck(SAMPLE_FRACTIONS, 1.0)}
            GROUP BY source
        """,
        "text_pack_sequences": textstats.pack_rollup_oracle(256),
        "text_pack_materialized": textstats.pack_checksum_oracle(256),
        "text_decontaminate": textstats.decontaminate_oracle(5),
        "text_token_cardinality": textstats.token_cardinality_oracle(64),
        "multimodal_features": multimodal.FEATURES_ORACLE,
        "multimodal_resize": multimodal.resize_oracle(8, 6),
        "multimodal_rle_decode": multimodal.rle_decode_oracle(),
        "multimodal_frame_sample": multimodal.sample_frames_oracle(2),
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
                   cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_price
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "join_segment_rollup": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "window_top_orders": """
            SELECT o_custkey, o_orderkey, rn FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders
            ) WHERE rn <= 2
        """,
        "join_shipping_priority": """
            SELECT o_orderkey, o_orderpriority,
                   cast(sum(cast(l_extendedprice * (1 - l_discount)
                        as decimal(18,4))) as double) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY 1, 2
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "events_rollup": """
            SELECT event_type, strftime(ts, '%Y-%m-%d-%H') AS hour_key,
                   count(*) AS n, cast(sum(cast(value as decimal(18,2))) as double) AS value_sum
            FROM events GROUP BY 1, 2
        """,
    }
