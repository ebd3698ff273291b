"""Per-layer metrics and the layered report of a traced run."""

from __future__ import annotations

import time

import harness
import replay
import spans
from harness import Client, median

CHUNK_ROWS = 8192
LINEITEM_REPLAY_ROWS = 1 << 14
PHASES = ("plan", "encode_write", "stats_manifest", "promote_lineage",
          "commit")
# which end-to-end metric (on which workload) a change in each layer's
# metrics should move; written into every layered report
SHOULD_MOVE = {
    "codecs": "encode_mb_per_s, decode_mb_per_s, ratio_vs_parquet_zstd on "
              "corpus_bulk and generic_lineitem",
    "chunk": "encode_mb_per_s, decode_mb_per_s, ratio_vs_parquet_zstd on "
             "corpus_bulk; nothing on generic_lineitem (no chunk.py)",
    "encode": "encode_mb_per_s on corpus_bulk",
    "decode": "decode_mb_per_s, scan_p50_s on corpus_bulk and "
              "generic_lineitem",
    "tablefmt": "encode_mb_per_s on corpus_bulk (milliseconds per encode); "
                "nothing on generic_lineitem",
    "lineage": "encode_mb_per_s on corpus_bulk (milliseconds per encode); "
               "nothing on generic_lineitem",
    "maintenance": "no end-to-end metric of a listed workload; priced by "
                   "the traced corpus_bulk append and compaction probe",
    "generic": "encode_mb_per_s, decode_mb_per_s, ratio_vs_parquet_zstd on "
               "generic_lineitem",
    "table": "ratio_vs_parquet_zstd on the workload that wrote the table",
    "trace": "none: these describe the traced run itself",
}
# the operation kind that writes the table, per workload
WRITE_KIND = {"corpus_bulk": "encode", "corpus_append_scan": "append",
              "generic_lineitem": "encode"}


def scaling_leg(wl, base_enc_mb_s: float, cores: int,
                client: Client) -> dict:
    """The same encode_table on the same input at local[1], once, after
    the local[cores] phases warmed the JVM: efficiency = throughput at
    local[cores] / (cores x throughput at local[1])."""
    from eggopress import encode

    spark = harness.start_session(1)
    try:
        wl.begin_phase(spark)
        c = Client(spark)
        s, w = c.op("encode", lambda: encode.encode_table(
            spark, wl.corpus, wl.table))
        c.check("local[1] encode row total", s["rows"] == wl.N_DOCS)
        one = s["raw_bytes"] / 1e6 / w
    finally:
        spark.stop()
    client.absorb(c)
    return {"local1_encode_mb_per_s": one,
            f"local{cores}_encode_mb_per_s": base_enc_mb_s,
            "efficiency": base_enc_mb_s / (cores * one)}


def _ops(tracer, jobs, sql, kind: str) -> list[dict]:
    return [spans.attribute(tracer.spans, jobs, sql, i)
            for i in spans.root_indices(tracer.spans, kind)
            if i >= tracer.measure_from]


def _summary(ops: list[dict], cores: int) -> dict:
    if not ops:
        return {}
    layer_names = sorted({k for o in ops for k in o["layers_s"]})
    return {
        "n": len(ops),
        "wall_s_median": median([o["wall_s"] for o in ops]),
        "layers_self_s_mean": {
            k: sum(o["layers_s"].get(k, 0.0) for o in ops) / len(ops)
            for k in layer_names},
        "attributed_frac_median": median([o["attributed_frac"] for o in ops]),
        "jobs_median": median([len(o["jobs"]) for o in ops]),
        "core_s_mean": {
            k: sum(o[k] for o in ops) / len(ops)
            for k in ("task_s", "task_cpu_s", "gc_s", "shuffle_write_s")},
        "core_util_median": median(
            [o["task_s"] / (o["wall_s"] * cores) for o in ops]),
        "shuffle_write_bytes_median": median(
            [o["shuffle_write_bytes"] for o in ops]),
        "write_stage_skew_median": median(
            [spans.write_stage_skew(o["jobs"]) for o in ops]),
    }


def _codec_split(task_s: float, gc_s: float, shuffle_s: float, values: int,
                 chunk: dict, decode: bool) -> dict:
    """Core-seconds of an op's Spark tasks, split with the replayed
    per-value prices of the chunk and codec layers."""
    per_val = (chunk["decode_ms"] if decode else chunk["encode_batch_ms"]) \
        / 1000.0 / chunk["values"]
    chunk_s = per_val * values
    out = {"task_s": task_s, "jvm_gc_s": gc_s, "shuffle_write_s": shuffle_s,
           "chunk_layer_s_replayed": chunk_s}
    if not decode:
        codec_s = chunk["codec_ms"] / 1000.0 / chunk["values"] * values
        out["codecs_layer_s_replayed"] = codec_s
        out["chunk_self_s_replayed"] = chunk_s - codec_s
    out["spark_arrow_other_s"] = task_s - gc_s - shuffle_s - chunk_s
    return out


def build(wl, tracer, eventlog: str, client: Client, base_walls: dict,
          counts: dict, scan_meta: list, phases: list[dict],
          scaling: dict | None, cores: int) -> tuple[dict, dict]:
    import lineitem

    jobs, sql = spans.read_eventlog(eventlog)
    kinds = sorted(client.walls)
    ops = {k: _ops(tracer, jobs, sql, k) for k in kinds}
    summ = {k: _summary(v, cores) for k, v in ops.items()}
    traced_walls = {k: median(v) for k, v in client.walls.items()}
    common = [k for k in traced_walls if base_walls.get(k)]
    overhead = (sum(traced_walls[k] for k in common)
                / sum(base_walls[k] for k in common) - 1.0) if common else 0.0

    t = time.time()
    shapes = replay.price_shapes(
        wl.seed, lineitem.lineitem(LINEITEM_REPLAY_ROWS, wl.seed))
    chunk = replay.price_chunk(wl.seed, CHUNK_ROWS)
    replay_s = time.time() - t

    m: dict[str, float] = dict(counts)
    for shape, p in shapes.items():
        for key in ("enc_mvals_per_s", "dec_mvals_per_s", "bits_per_value",
                    "bits_per_value_zstd"):
            m[f"codecs.{key}.{shape}"] = p[key]
    m["chunk.encode_batch_ms"] = chunk["encode_batch_ms"]
    m["chunk.decode_ms"] = chunk["decode_ms"]
    m["chunk.codec_share"] = chunk["codec_share"]

    write = summ.get(WRITE_KIND[wl.name], {})
    prefix = "generic" if wl.name == "generic_lineitem" else "encode"
    if write:
        m[f"{prefix}.task_s"] = median(
            [o["task_s"] for o in ops[WRITE_KIND[wl.name]]])
    if write and prefix == "encode":
        m["encode.core_util"] = write["core_util_median"]
        m["encode.task_skew"] = write["write_stage_skew_median"]
        m["encode.shuffle_write_bytes"] = write["shuffle_write_bytes_median"]
        m["encode.jobs"] = write["jobs_median"]
    for ph in PHASES:
        vals = [p[ph] for p in phases if ph in p]
        m[f"encode.phase.{ph}_s"] = median(vals)
    if scaling:
        m["encode.scaling_eff_1toN"] = scaling["efficiency"]
    if ops.get("decode"):
        m["decode.task_s"] = median([o["task_s"] for o in ops["decode"]])
    m["decode.chunks_scanned_frac"] = median([s[0] for s in scan_meta])
    m["decode.rows_useful_frac"] = median([s[1] for s in scan_meta])
    m["tablefmt.commit_snapshot_ms"] = 1000 * median(
        tracer.durations("tablefmt.commit_snapshot"))
    m["tablefmt.promote_partitions_ms"] = 1000 * median(
        tracer.durations("tablefmt.promote_partitions"))
    m["lineage.append_ms"] = 1000 * median(tracer.durations("lineage.append"))
    m["maintenance.compact_s"] = median(client.walls.get("compact", []))
    m["trace.overhead_frac"] = overhead
    if write:
        m["trace.encode_attributed_frac"] = write["attributed_frac_median"]
    if summ.get("decode"):
        m["trace.decode_attributed_frac"] = \
            summ["decode"]["attributed_frac_median"]

    report = {
        "ops": {k: {**summ[k], "traced_wall_s_median": traced_walls[k],
                    "untraced_wall_s_median": base_walls.get(k)}
                for k in kinds},
        "trace_overhead_frac": overhead,
        "codecs": shapes,
        "chunk": chunk,
        "replay_s": replay_s,
        "scaling": scaling,
        "per_layer": m,
        "should_move": SHOULD_MOVE,
        "gate_failures": client.gate_failures,
    }
    if wl.name == "corpus_bulk":
        values = wl.n_tok_sum
        for kind, decode in (("encode", False), ("decode", True)):
            if summ.get(kind):
                c = summ[kind]["core_s_mean"]
                report["ops"][kind]["core_s_split"] = _codec_split(
                    c["task_s"], c["gc_s"], c["shuffle_write_s"], values,
                    chunk, decode)
    return m, report
