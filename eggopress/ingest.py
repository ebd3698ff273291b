"""Raw-corpus ingest: single-path readers and datapackage-manifest-driven
multi-resource ingest (reference S1+S2 composition: a datapackage.json
lists N resources with {format, compression, url} — datasets/dbsnp/
datapackage.json:1-7 — and eggo fans one download/ingest task per
resource, eggo/operations.py:39-85, with gzip handled in the mapper,
eggo/resources/download_mapper.py:56,63-64).

Spark-first translation: every resource becomes one branch of a UNION ALL
read (jsonl/text/parquet; .gz transparently decompressed by the source),
so the whole multi-resource ingest is ONE distributed job — no per-file
driver loop, and Catalyst prunes/pushes into each branch independently.
Per-resource lineage rows (stage='ingest') record provenance.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

FORMATS = ("jsonl", "text", "parquet")
COMPRESSIONS = ("none", "gzip")


def load_documents(spark: SparkSession, path: str, fmt: str,
                   source: str | None) -> DataFrame:
    """One raw resource -> (doc_id, text, source) documents.

    Missing doc_ids become deterministic content-addressed md5 ids (the
    eggo staging-name trick, eggo/util.py:81-90) and exact-duplicate rows
    collapse at ingest. Gzip inputs need no special casing: Spark's
    text/json/parquet sources decompress *.gz splits by extension.
    """
    if fmt == "jsonl":
        df = spark.read.json(path)
    elif fmt == "text":
        df = spark.read.text(path).withColumnRenamed("value", "text")
    elif fmt == "parquet":
        df = spark.read.parquet(path)
    else:
        raise ValueError(f"unknown ingest format: {fmt}")
    if "text" not in df.columns:
        raise ValueError(f"ingest input has no 'text' column: {df.columns}")
    if "source" not in df.columns or source:
        df = df.withColumn(
            "source", F.lit(source or os.path.basename(path).split(".")[0])
        )
    if "doc_id" not in df.columns:
        df = df.withColumn("doc_id", F.md5(F.concat_ws("\x1f", "source", "text"))) \
               .dropDuplicates(["doc_id"])
    return df.select("doc_id", "text", "source")


def read_manifest(manifest_path: str) -> list[dict]:
    """Parse + validate a datapackage-style resource list. Relative
    resource paths resolve against the manifest's directory.

    Accepts both reference manifest shapes: datapackage.json's
    "resources" with string compression (datasets/dbsnp/
    datapackage.json:1-7) and meta.json's "sources" with boolean
    compression (datasets/1kg-genotypes/meta.json — true means gzip).
    Unnamed resources get name "<manifest name>-<i>" (the reference keys
    them positionally too)."""
    with open(manifest_path) as f:
        pkg = json.load(f)
    resources = pkg.get("resources") or pkg.get("sources")
    if not isinstance(resources, list) or not resources:
        raise ValueError(f"manifest has no resources list: {manifest_path}")
    base = os.path.dirname(os.path.abspath(manifest_path))
    pkg_name = pkg.get("name") or os.path.basename(base) or "pkg"
    out = []
    for i, r in enumerate(resources):
        name = r.get("name") or f"{pkg_name}-{i}"
        path = r.get("path") or r.get("url")
        fmt = r.get("format", "jsonl")
        comp = r.get("compression", "none")
        if comp is True:
            comp = "gzip"
        if comp is False or comp is None:
            comp = "none"
        if not path:
            raise ValueError(f"resource {i} needs a path: {r}")
        if fmt not in FORMATS:
            raise ValueError(f"resource {name!r}: unknown format {fmt!r}")
        if comp not in COMPRESSIONS:
            raise ValueError(f"resource {name!r}: unknown compression {comp!r}")
        if not os.path.isabs(path):
            path = os.path.join(base, path)
        out.append({"name": name, "path": path, "format": fmt, "compression": comp})
    return out


def load_manifest_documents(spark: SparkSession, manifest_path: str) -> DataFrame:
    """All manifest resources as one documents DataFrame (source = resource
    name) — a single UNION ALL plan, one distributed job."""
    resources = read_manifest(manifest_path)
    dfs = [load_documents(spark, r["path"], r["format"], r["name"]) for r in resources]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionAll(d)
    return out


def ingest_table(spark: SparkSession, docs: DataFrame, table_path: str, *,
                 n_partitions: int | None = None,
                 resume: bool = False) -> dict:
    """documents -> tokenize -> encoded table, with per-source 'ingest'
    lineage rows (row counts per resource/source label).

    The counts are encode_table's plan (summary["sources"], read back
    from the planned snapshot on resume), so the provenance rows cost no
    job of their own.
    """
    from eggopress import encode, lineage
    from eggopress.pipeline import textstats
    from eggopress.tablefmt import Table

    corpus = textstats.tokenize(docs, make_ids=False)
    summary = encode.encode_table(spark, corpus, table_path,
                                  n_partitions=n_partitions, resume=resume)
    lineage.append(spark, Table(table_path), [
        (summary["run_id"], f"resource:{src}", "ingest", "done", 1,
         None, None, None, int(n), 0)
        for src, n in sorted((summary["sources"] or {}).items())
    ])
    return summary
