"""Iceberg-style table metadata layer: snapshots + atomic commit.

No Iceberg runtime jar exists in this sandbox, so this is a thin
metadata-swap layer with Iceberg's semantics (snapshot JSON files + an
atomically-replaced version pointer), designed so a real Iceberg catalog
can be swapped in on a cluster via spark.sql.catalog.* without touching
the engine (SURVEY.md §7 design stance). The commit discipline mirrors
eggo's staging-then-rename lifecycle (eggo/util.py:93-112,
eggo/operations.py:79-85).

Layout of a corpus table (CORPUS_FORMAT):
    <table>/metadata/v<N>.metadata.json   snapshot: schema, plan, partitions
    <table>/metadata/version-hint.txt     current version (atomic os.replace)
    <table>/data/source=<s>/salt=<k>/     encoded chunk parquet files
    <table>/_staging_<run_id>/source=<s>/salt=<k>/   task-written chunk
        files, part-<task>-s<stage>-a<attempt>; only listed ones promote
    <table>/manifest/                     per-column-chunk stats parquet
    <table>/lineage/                      checkpoint rows parquet
A generic table (GENERIC_FORMAT) keeps only metadata/ and data/*.parquet.
"""

from __future__ import annotations

import json
import os
import shutil
import time


class CommitConflict(RuntimeError):
    """Another writer committed the same next version first (optimistic
    concurrency loss). Re-read the snapshot and retry the commit."""


class Table:
    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        self.meta_dir = os.path.join(self.path, "metadata")
        self.data_dir = os.path.join(self.path, "data")
        self.manifest_dir = os.path.join(self.path, "manifest")
        self.lineage_dir = os.path.join(self.path, "lineage")
        # per-append-run doc_id sidecars (index/docids/append-<run_id>/):
        # the streaming cross-batch dedup seen-set reads these skinny
        # parquet files instead of blob-decoding the whole table per batch
        self.docid_index_dir = os.path.join(self.path, "index", "docids")
        # per-append-run SimHash signature sidecars (index/sigs/
        # append-<run_id>/): the incremental near-dup filter band-joins
        # new batches against these instead of recomputing fingerprints
        # over the whole corpus per micro-batch
        self.sig_index_dir = os.path.join(self.path, "index", "sigs")

    # ---------------------------------------------------------- snapshots

    def current_version(self) -> int:
        """Max of the hint and the metadata files actually present: the
        metadata FILE is the commit (Iceberg semantics) — a writer that
        crashed between linking v<N+1> and swapping the hint has still
        committed, and treating the hint alone as truth would wedge every
        later commit on a permanent version collision."""
        hint_path = os.path.join(self.meta_dir, "version-hint.txt")
        hint = 0
        if os.path.exists(hint_path):
            with open(hint_path) as f:
                hint = int(f.read().strip())
        latest = hint
        if os.path.isdir(self.meta_dir):
            for f in os.listdir(self.meta_dir):
                if f.startswith("v") and f.endswith(".metadata.json"):
                    try:
                        latest = max(latest, int(f[1:].split(".")[0]))
                    except ValueError:
                        continue
        return latest

    def snapshot(self) -> dict | None:
        v = self.current_version()
        if v == 0:
            return None
        with open(os.path.join(self.meta_dir, f"v{v}.metadata.json")) as f:
            return json.load(f)

    def commit_snapshot(self, snapshot: dict) -> int:
        """Write v<N+1> metadata then atomically swap the version pointer.

        Optimistic concurrency (the Iceberg commit discipline): the new
        metadata file is LINKED into place, which fails if v<N+1> already
        exists — so of two writers that both read version N, exactly one
        commits and the other gets CommitConflict instead of silently
        clobbering the winner's snapshot (whose data files the loser's
        metadata would misdescribe). Retry = re-read the snapshot, re-derive,
        re-commit — the same loop every Iceberg writer runs."""
        os.makedirs(self.meta_dir, exist_ok=True)
        v = self.current_version() + 1
        snapshot = dict(snapshot)
        snapshot["version"] = v
        snapshot["committed_at_ms"] = int(time.time() * 1000)
        meta_path = os.path.join(self.meta_dir, f"v{v}.metadata.json")
        tmp = meta_path + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(snapshot, f, indent=1)
        try:
            os.link(tmp, meta_path)  # atomic fail-if-exists
        except FileExistsError:
            raise CommitConflict(
                f"concurrent commit: {meta_path} already exists (another "
                f"writer committed v{v} first); re-read the snapshot and retry"
            ) from None
        finally:
            os.unlink(tmp)
        hint_tmp = os.path.join(self.meta_dir, f"version-hint.txt.tmp.{os.getpid()}")
        with open(hint_tmp, "w") as f:
            f.write(str(v))
        os.replace(hint_tmp, os.path.join(self.meta_dir, "version-hint.txt"))
        return v

    def retire_state(self, run_id: str, fmt: str) -> str | None:
        """Non-destructive fresh-encode prep: demote the snapshot FIRST
        (readers gating on stage='encoded' must never see a valid snapshot
        over dirs in flux), then move data/manifest/lineage ASIDE into a
        _retired_<run_id> dir instead of deleting them. If the new encode
        fails or is interrupted, the previous table contents are still on
        disk; purge_retired() deletes them only after the new 'encoded'
        snapshot commits. Other runs' stale _staging_ dirs are dropped (never
        promoted, so nothing of value lives there). fmt is the table's
        format tag. Returns the retired dir, or None if nothing was retired."""
        if self.snapshot() is not None:
            self.commit_snapshot({"stage": "retiring", "run_id": run_id,
                                  "schema": fmt})
        retired = os.path.join(self.path, f"_retired_{run_id}")
        moved = False
        for d in (self.data_dir, self.manifest_dir, self.lineage_dir,
                  os.path.join(self.path, "index")):
            if os.path.isdir(d):
                os.makedirs(retired, exist_ok=True)
                os.replace(d, os.path.join(retired, os.path.basename(d)))
                moved = True
        if os.path.isdir(self.path):
            for ent in os.listdir(self.path):
                if ent.startswith("_staging_") and ent != f"_staging_{run_id}":
                    shutil.rmtree(os.path.join(self.path, ent), ignore_errors=True)
        return retired if moved else None

    def purge_retired(self) -> None:
        """Delete all _retired_* dirs — called only after the replacing
        encode's final 'encoded' snapshot has committed."""
        if not os.path.isdir(self.path):
            return
        for ent in os.listdir(self.path):
            if ent.startswith("_retired_"):
                shutil.rmtree(os.path.join(self.path, ent), ignore_errors=True)

    # ------------------------------------------------- partition commits

    def staging_dir(self, run_id: str) -> str:
        return os.path.join(self.path, f"_staging_{run_id}")

    def promote_partitions(self, run_id: str, files: list[str],
                           merge: bool = False) -> list[str]:
        """Move the listed staged chunk files ([<partition dir>/]<name>,
        relative to the staging dir) into data/; anything else in staging
        (files of failed or speculative task attempts) is deleted.

        merge=False (batch encode): overwrite-partition semantics — an
        existing destination dir is replaced wholesale.
        merge=True (streaming append): staged chunk FILES move into the
        destination dir alongside previous batches' files, renamed to the
        DETERMINISTIC pattern <run_id>-<i>.parquet (i = staged sort
        order). Determinism is what makes an at-least-once retry safe: if
        a previous attempt crashed mid-promote, the re-encoded batch
        (identical content — codec choice and chunking are pure functions
        of the data) overwrites the same file names instead of merging a
        second copy of the rows.

        Returns the promoted partition_ids ("source=<s>/salt=<k>").
        """
        staged = self.staging_dir(run_id)
        listed: dict[str, list[str]] = {}
        for f in sorted(set(files)):
            part, name = os.path.split(f)
            listed.setdefault(part, []).append(name)
        for part, names in sorted(listed.items()):
            dst = os.path.join(self.data_dir, part)
            if not merge and os.path.exists(dst):
                shutil.rmtree(dst)  # overwrite-partition semantics
            os.makedirs(dst, exist_ok=True)
            for i, f in enumerate(names):
                os.replace(os.path.join(staged, part, f), os.path.join(
                    dst, f"{run_id}-{i:04d}.parquet" if merge else f))
        shutil.rmtree(staged, ignore_errors=True)
        return sorted(listed)

    def partition_file_listing(self) -> dict[str, list[str]]:
        """partition_id -> sorted chunk parquet file names, as currently on
        disk. Recorded into each snapshot so a versioned read (time travel)
        can reconstruct exactly the files that existed at commit time —
        meaningful for append-mode tables, whose earlier batches' files
        stay in place (a fresh batch encode replaces files, so its history
        is readable only until the rewrite)."""
        out: dict[str, list[str]] = {}
        for pid in self.partition_dirs():
            d = os.path.join(self.data_dir, pid)
            out[pid] = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        return out

    def manifest_file_listing(self) -> list[str]:
        """Sorted manifest parquet file names currently on disk. Recorded
        into each snapshot so rollback can decide manifest retirement from
        the TARGET snapshot's manifest state instead of inferring it from
        data-file name prefixes (which breaks across a compaction: the
        compacted data files carry the compaction run's name while their
        chunk rows still belong to the original append manifests)."""
        if not os.path.isdir(self.manifest_dir):
            return []
        return sorted(f for f in os.listdir(self.manifest_dir)
                      if f.endswith(".parquet"))

    def docid_sidecar_dir(self, run_id: str) -> str:
        return os.path.join(self.docid_index_dir, f"append-{run_id}")

    def sig_sidecar_dir(self, run_id: str) -> str:
        return os.path.join(self.sig_index_dir, f"append-{run_id}")

    def listing_at_version(self, version: int) -> list[str]:
        """Absolute chunk-file paths recorded in snapshot <version>, as
        recorded — existence NOT checked (diff computations only need the
        names; see files_at_version for validated reads)."""
        with open(os.path.join(self.meta_dir, f"v{version}.metadata.json")) as f:
            snap = json.load(f)
        listing = snap.get("files")
        if listing is None:
            raise ValueError(
                f"snapshot v{version} of {self.path} records no file listing "
                "(pre-time-travel snapshot)"
            )
        return [
            os.path.join(self.data_dir, pid, fname)
            for pid, files in sorted(listing.items())
            for fname in files
        ]

    def files_at_version(self, version: int) -> list[str]:
        """listing_at_version, validated: every recorded file must still
        exist (reads fail loudly instead of silently returning a subset)."""
        paths = self.listing_at_version(version)
        for p in paths:
            if not os.path.exists(p):
                raise FileNotFoundError(
                    f"time travel to v{version}: {p} no longer exists "
                    "(overwritten by a later batch encode or compaction)"
                )
        return paths

    def partition_dirs(self) -> list[str]:
        out = []
        if not os.path.isdir(self.data_dir):
            return out
        for src_ent in sorted(os.listdir(self.data_dir)):
            p = os.path.join(self.data_dir, src_ent)
            if os.path.isdir(p) and src_ent.startswith("source="):
                for salt_ent in sorted(os.listdir(p)):
                    if salt_ent.startswith("salt="):
                        out.append(f"{src_ent}/{salt_ent}")
        return out

    def tree_bytes(self, sub: str = "data") -> int:
        total = 0
        for root, _, files in os.walk(os.path.join(self.path, sub)):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total
