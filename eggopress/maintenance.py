"""Table maintenance: small-file compaction.

Streaming appends (streaming.py) land one chunk-file set per micro-batch,
so a long-lived table's scan cost grows with FILE count even when data
volume doesn't — the classic small-files problem every Iceberg/Hive
deployment compacts away (Iceberg's rewrite_data_files; the reference has
no analog because eggo writes each dataset exactly once).

Chunk rows are immutable and self-describing (codec + params ride in the
blob header), so compaction never touches a codec: it is a pure
file-level rewrite — read the fat partitions' chunk rows, one shuffle on
the partition key so each source=/salt= dir is written by one task as one
file by the encoder's task-side chunk writer, then the atomic promote.
Decoded bytes are identical before and after (tested with exceptAll both ways).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import SparkSession, functions as F

from eggopress import lineage as lineagelib
from eggopress.encode import (_FILE_SCHEMA, _PART_COLS, _STAGED_SCHEMA, _table_state,
                              _write_chunks)
from eggopress.tablefmt import Table


def partition_file_counts(tbl: Table) -> dict[str, int]:
    """partition_id -> number of chunk parquet files on disk."""
    return {pid: len(fs) for pid, fs in tbl.partition_file_listing().items()}


def table_report(spark: SparkSession, table_path: str) -> dict:
    """Table health/summary: snapshot facts, on-disk layout, codec mix,
    and INTEGRITY checks a 100 TB operator actually runs before trusting
    a table — manifest chunk set == data chunk set (a crashed write or a
    hand-deleted file shows up here), snapshot totals == data totals.
    """
    tbl = Table(table_path)
    snap = tbl.snapshot()
    if snap is None:
        raise ValueError(f"no snapshot at {table_path}")

    files = partition_file_counts(tbl)
    chunks = spark.read.parquet(tbl.data_dir)
    data_stats = chunks.agg(
        F.count("*").alias("chunks"), F.sum("n_rows").alias("rows"),
        F.sum("n_values").alias("values"),
        F.sum("encoded_bytes").alias("enc"), F.sum("raw_bytes").alias("raw"),
    ).first()
    codec_mix = {
        f"{r['column']}/{r['codec']}": r["n"]
        for r in spark.read.parquet(tbl.manifest_dir)
        .groupBy("column", "codec").agg(F.count("*").alias("n")).collect()
    }
    man_keys = spark.read.parquet(tbl.manifest_dir).select(
        "partition_id", "chunk_id").distinct()
    data_keys = chunks.select("partition_id", "chunk_id").distinct()
    man_only = man_keys.exceptAll(data_keys).count()
    data_only = data_keys.exceptAll(man_keys).count()

    totals = snap.get("totals") or {}
    checks = {
        "manifest_chunks_without_data": int(man_only),
        "data_chunks_without_manifest": int(data_only),
        "snapshot_rows_match_data": int(totals.get("rows", -1)) == int(data_stats["rows"]),
        "stage_encoded": snap.get("stage") == "encoded",
    }
    return {
        "path": tbl.path,
        "snapshot_version": snap.get("version"),
        "stage": snap.get("stage"),
        "mode": snap.get("mode", "batch"),
        "partitions": len(files),
        "data_files": sum(files.values()),
        "chunks": int(data_stats["chunks"]),
        "rows": int(data_stats["rows"]),
        "values": int(data_stats["values"]),
        "encoded_bytes": int(data_stats["enc"]),
        "raw_bytes": int(data_stats["raw"]),
        "compression_x": round(data_stats["raw"] / max(data_stats["enc"], 1), 3),
        "on_disk_bytes": tbl.tree_bytes("data"),
        "codec_mix": codec_mix,
        "editions": sorted((snap.get("editions") or {}).keys())
        if isinstance(snap.get("editions"), dict) else snap.get("editions", []),
        "checks": checks,
        # explicit per-kind predicate: `False == 0` is True in Python, so a
        # naive all(v is True or v == 0) would call a failed boolean healthy
        "healthy": (
            man_only == 0 and data_only == 0
            and checks["snapshot_rows_match_data"] is True
            and checks["stage_encoded"] is True
        ),
    }


def snapshot_history(table_path: str) -> list[dict]:
    """Snapshot log, oldest first: (version, stage, mode, run_id, rows,
    committed_at_ms) per metadata file — the Iceberg `history` analog."""
    import json

    tbl = Table(table_path)
    out = []
    if not os.path.isdir(tbl.meta_dir):
        return out
    for f in sorted(os.listdir(tbl.meta_dir)):
        if not f.endswith(".metadata.json"):
            continue
        with open(os.path.join(tbl.meta_dir, f)) as fh:
            snap = json.load(fh)
        out.append({
            "version": snap.get("version"),
            "stage": snap.get("stage"),
            "mode": snap.get("mode", "batch"),
            "run_id": snap.get("run_id"),
            "rows": (snap.get("totals") or {}).get("rows"),
            "committed_at_ms": snap.get("committed_at_ms"),
            "rolled_back_from": snap.get("rolled_back_from"),
            "last_compaction": snap.get("last_compaction"),
        })
    return sorted(out, key=lambda s: s["version"] or 0)


def vacuum_table(table_path: str, *, keep_snapshots: int = 10) -> dict:
    """Reclaim space: delete ALL _retired_* dirs (rollback/fresh-encode
    leftovers — after vacuum those rollback points are gone for good) and
    expire snapshot metadata older than the newest keep_snapshots
    versions. Time travel to an expired version stops working; the
    current version is always kept. Driver-side only, no Spark job."""
    import shutil

    tbl = Table(table_path)
    removed_dirs = 0
    freed = 0
    if os.path.isdir(tbl.path):
        for ent in list(os.listdir(tbl.path)):
            # _index_staging_*: crash leftovers of a sidecar-index merge
            # (success renames them away atomically)
            if ent.startswith("_retired_") or ent.startswith("_index_staging_"):
                p = os.path.join(tbl.path, ent)
                freed += sum(
                    os.path.getsize(os.path.join(r, f))
                    for r, _, fs in os.walk(p) for f in fs
                )
                shutil.rmtree(p, ignore_errors=True)
                removed_dirs += 1
    expired = []
    cur = tbl.current_version()
    cutoff = cur - max(keep_snapshots, 1) + 1
    if os.path.isdir(tbl.meta_dir):
        for f in sorted(os.listdir(tbl.meta_dir)):
            if f.startswith("v") and f.endswith(".metadata.json"):
                v = int(f[1:].split(".")[0])
                if v < cutoff:
                    os.remove(os.path.join(tbl.meta_dir, f))
                    expired.append(v)
    return {"retired_dirs_removed": removed_dirs, "bytes_freed": freed,
            "snapshots_expired": expired, "current_version": cur}


def rollback_table(spark: SparkSession, table_path: str, version: int, *,
                   run_id: str | None = None) -> dict:
    """Roll an APPEND table back to snapshot <version>: batches committed
    after it are physically RETIRED (moved aside, not deleted — same
    non-destructive posture as fresh encode), their per-run manifest
    files retired with them, and a new snapshot is committed as a copy of
    the target. Default reads, describe, and integrity checks then see
    exactly the rolled-back state; the retired files remain on disk for
    manual recovery until the next encode purges retired dirs.

    Only append-mode history is rollback-able: a batch re-encode replaces
    files wholesale, so there is nothing on disk to roll back to (raises).
    The target must still have every data file it lists and must record
    its manifest listing; a target that fails either check is refused
    before any file moves.
    """
    import json
    import uuid as _uuid

    tbl = Table(table_path)
    cur = tbl.current_version()
    if version >= cur:
        raise ValueError(f"rollback target v{version} is not before current v{cur}")
    with open(os.path.join(tbl.meta_dir, f"v{version}.metadata.json")) as f:
        target = json.load(f)
    if target.get("stage") != "encoded" or target.get("mode") != "append":
        raise ValueError(
            f"v{version} is not an encoded append snapshot (stage="
            f"{target.get('stage')!r}, mode={target.get('mode')!r})"
        )
    # validate the target fully before anything moves: a refused
    # rollback must leave the table exactly as it was
    visible = set(tbl.files_at_version(version))  # validates existence
    # manifest retirement is decided from the TARGET snapshot's recorded
    # manifest state, never inferred from data-file name prefixes: after a
    # compaction the data files carry the compaction run's names while
    # their chunk rows still belong to the original append manifests
    target_manifests = target.get("manifest_files")
    if target_manifests is None:
        raise ValueError(f"v{version} records no manifest listing")
    run_id = run_id or f"rollback-{_uuid.uuid4().hex[:8]}"
    retired_dir = os.path.join(tbl.path, f"_retired_{run_id}")
    retired_files = 0
    for pid in tbl.partition_dirs():
        d = os.path.join(tbl.data_dir, pid)
        for fname in list(os.listdir(d)):
            p = os.path.join(d, fname)
            if fname.endswith(".parquet") and p not in visible:
                dst = os.path.join(retired_dir, "data", pid)
                os.makedirs(dst, exist_ok=True)
                os.replace(p, os.path.join(dst, fname))
                retired_files += 1
        if not os.listdir(d):
            os.rmdir(d)
            src_dir = os.path.dirname(d)
            if not os.listdir(src_dir):
                os.rmdir(src_dir)
    keep = set(target_manifests)
    for fname in tbl.manifest_file_listing():
        if fname not in keep:
            dst = os.path.join(retired_dir, "manifest")
            os.makedirs(dst, exist_ok=True)
            os.replace(os.path.join(tbl.manifest_dir, fname),
                       os.path.join(dst, fname))
    # doc_id sidecars of rolled-back runs go aside too — the streaming
    # dedup seen-set must not treat rolled-back docs as already ingested
    for runs_key, merged_key, idx_dir, idx_name in (
        ("runs", "docid_merged", tbl.docid_index_dir, "docids"),
        ("sig_runs", "sig_merged", tbl.sig_index_dir, "sigs"),
    ):
        t_runs = target.get(runs_key)
        if t_runs is None or not os.path.isdir(idx_dir):
            continue
        keep_dirs = {f"append-{r}" for r in t_runs}
        # a merged sidecar the TARGET snapshot references is exactly as
        # old as the target and covers only target runs — keep it; any
        # newer merged dir folds rolled-back runs in and must go aside
        tmerged = target.get(merged_key) or {}
        if tmerged.get("dir"):
            keep_dirs.add(tmerged["dir"])
        for ent in list(os.listdir(idx_dir)):
            if ent not in keep_dirs:
                dst = os.path.join(retired_dir, "index", idx_name)
                os.makedirs(dst, exist_ok=True)
                os.replace(os.path.join(idx_dir, ent),
                           os.path.join(dst, ent))

    from eggopress import lineage as lineagelib

    lineagelib.append(spark, tbl, [
        (run_id, f"v{cur}->v{version}", "rollback", "done", 1,
         f"retired_files:{retired_files}", None, None, None, 0)
    ])
    snap = {k: v for k, v in target.items()
            if k not in ("version", "committed_at_ms")}
    snap["rolled_back_from"] = cur
    snap["run_id"] = run_id
    new_version = tbl.commit_snapshot(snap)
    return {"run_id": run_id, "restored_version": version,
            "new_version": new_version, "retired_files": retired_files}


def _merge_sidecar_index(spark: SparkSession, tbl: Table, run_id: str,
                         index_dir: str, sidecar_dir, runs: list[str],
                         prev: dict):
    """Fold per-run sidecars of ONE index (docids or sigs) into a merged
    dir. The seen-set read otherwise lists one directory per append run
    forever — O(runs) driver listings per micro-batch over a long-lived
    stream. After the merge, snapshot key <index>_merged = {dir, runs}
    records which runs the merged dir covers; readers take the merged
    dir plus only the per-run dirs of runs appended SINCE. Merged
    per-run dirs are removed (their content lives on in the merged dir);
    an older merged dir is superseded and removed too. Returns the new
    merged value, or None when there is nothing worth merging."""
    import shutil

    prev = prev or {}
    prev_dir = os.path.join(index_dir, prev["dir"]) if prev.get("dir") else None
    covered = set(prev.get("runs") or []) if (prev_dir and os.path.isdir(prev_dir)) else set()
    fresh = [r for r in runs if r not in covered
             and os.path.isdir(sidecar_dir(r))]
    # every run must be accounted for, or the merged dir would under-cover
    # and the readers' coverage checks could no longer trust it
    if set(runs) - covered - set(fresh):
        return None
    if len(fresh) + (1 if covered else 0) < 2:
        return None  # zero or one source dir: nothing to fold
    src_dirs = ([prev_dir] if covered else []) + [sidecar_dir(r) for r in fresh]
    merged_name = f"merged-{run_id}"
    staging = os.path.join(tbl.path, f"_index_staging_{run_id}_{os.path.basename(index_dir)}")
    spark.read.parquet(*src_dirs).write.mode("overwrite").parquet(staging)
    final = os.path.join(index_dir, merged_name)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(staging, final)
    for d in src_dirs:
        shutil.rmtree(d, ignore_errors=True)
    return {"dir": merged_name, "runs": sorted(covered | set(fresh))}


def compact_table(spark: SparkSession, table_path: str, *,
                  min_files: int = 2, run_id: str | None = None) -> dict:
    """Rewrite every partition holding >= min_files chunk files into one
    file each. Untouched partitions keep their files byte-for-byte. Each
    rewritten partition gets a lineage row (stage='compact'); the snapshot
    is re-committed with the new file listing (compaction moves no rows)."""
    tbl = Table(table_path)
    snap = tbl.snapshot()
    if snap is None or snap.get("stage") != "encoded":
        raise ValueError(f"no encoded table at {table_path}")
    run_id = run_id or f"compact-{uuid.uuid4().hex[:8]}"
    t0 = time.time()

    fat = {p: n for p, n in partition_file_counts(tbl).items() if n >= min_files}
    if not fat:
        return {"run_id": run_id, "compacted_partitions": 0, "files_before": 0,
                "files_after": 0, "wall_s": 0.0}

    paths = [os.path.join(tbl.data_dir, p) for p in sorted(fat)]
    # basePath keeps the source=/salt= columns when reading partition
    # subdirs directly (only the fat partitions are rewritten or even read)
    chunks = spark.read.option("basePath", tbl.data_dir).parquet(*paths)
    staging = tbl.staging_dir(run_id)
    staged = chunks.repartition("source", "salt").mapInArrow(
        lambda batches: _write_chunks(staging, batches, _FILE_SCHEMA, _PART_COLS),
        _STAGED_SCHEMA).collect()
    promoted = tbl.promote_partitions(  # replace semantics
        run_id, [r["file"] for r in staged])
    after = partition_file_counts(tbl)
    now_ms = int((time.time() - t0) * 1000)
    lineagelib.append(spark, tbl, [
        (run_id, pid, "compact", "done", 1,
         f"files:{fat[pid]}->{after.get(pid, 0)}", None, None, None, now_ms)
        for pid in sorted(fat)
    ])
    snap = dict(tbl.snapshot() or {})
    for runs_key, merged_key, index_dir, sidecar_dir in (
        ("runs", "docid_merged", tbl.docid_index_dir, tbl.docid_sidecar_dir),
        ("sig_runs", "sig_merged", tbl.sig_index_dir, tbl.sig_sidecar_dir),
    ):
        merged = _merge_sidecar_index(
            spark, tbl, run_id, index_dir, sidecar_dir,
            list(snap.get(runs_key) or []), snap.get(merged_key) or {})
        if merged is not None:
            snap[merged_key] = merged
    tbl.commit_snapshot({**snap, **_table_state(tbl), "stage": "encoded",
                         "last_compaction": run_id})
    return {
        "run_id": run_id,
        "compacted_partitions": len(promoted),
        "files_before": sum(fat.values()),
        "files_after": sum(after.get(p, 0) for p in fat),
        "wall_s": round(time.time() - t0, 3),
    }
