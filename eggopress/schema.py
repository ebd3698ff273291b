"""Pinned schemas (BASELINE.json input_hint; FIXTURES.md §1/§3).

The reference pins schemas via Avro-in-Parquet-footer metadata
(eggo/operations.py:88-96); here they are explicit StructTypes, stored in
the table-format snapshot (tablefmt.py).
"""

from __future__ import annotations

from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# On-disk format tags, recorded in every snapshot of a corpus table and of
# a generic table (generic.py).
CORPUS_FORMAT = "corpus_v1"
GENERIC_FORMAT = "generic_v1"

# The authoritative input shape: pre-tokenized training sequences.
CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)
CORPUS_ARROW_SCHEMA = to_arrow_schema(CORPUS_SCHEMA)

# Encoded chunk rows: one row per (partition, chunk); one blob per logical
# column. Self-describing blobs (codec + params in the blob header); codec
# names duplicated as columns for manifest/metrics queries.
CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("partition_id", T.StringType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("n_rows", T.IntegerType(), False),
        T.StructField("n_values", T.LongType(), False),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("encoded_bytes", T.LongType(), False),
        # chunk-skipping stats (SURVEY.md §4 "partition pruning" row):
        # min/max per chunk let a predicate decode skip whole chunks
        T.StructField("n_tok_min", T.IntegerType(), False),
        T.StructField("n_tok_max", T.IntegerType(), False),
        T.StructField("tok_min", T.IntegerType(), False),
        T.StructField("tok_max", T.IntegerType(), False),
        T.StructField("doc_id_blob", T.BinaryType(), False),
        T.StructField("source_blob", T.BinaryType(), False),
        T.StructField("n_tok_blob", T.BinaryType(), False),
        T.StructField("tokens_blob", T.BinaryType(), False),
        T.StructField("doc_id_bytes", T.LongType(), False),
        T.StructField("source_bytes", T.LongType(), False),
        T.StructField("n_tok_bytes", T.LongType(), False),
        T.StructField("tokens_bytes", T.LongType(), False),
        T.StructField("doc_id_codec", T.StringType(), False),
        T.StructField("source_codec", T.StringType(), False),
        T.StructField("n_tok_codec", T.StringType(), False),
        T.StructField("tokens_codec", T.StringType(), False),
    ]
)
CHUNK_ARROW_SCHEMA = to_arrow_schema(CHUNK_SCHEMA)

# Manifest: per column-chunk stats (FIXTURES.md §3).
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.StringType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("column", T.StringType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("n_rows", T.IntegerType(), False),
        T.StructField("n_values", T.LongType(), False),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("encoded_bytes", T.LongType(), False),
        T.StructField("n_tok_min", T.IntegerType(), True),
        T.StructField("n_tok_max", T.IntegerType(), True),
        T.StructField("tok_min", T.IntegerType(), True),
        T.StructField("tok_max", T.IntegerType(), True),
    ]
)

# Lineage: resumable per-partition checkpoint rows (FIXTURES.md §3; the
# engine analog of eggo's DAG/provenance registry, SURVEY.md §2.7).
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("codec_summary", T.StringType(), True),
        T.StructField("input_bytes", T.LongType(), True),
        T.StructField("output_bytes", T.LongType(), True),
        T.StructField("row_count", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)
