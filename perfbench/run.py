"""eggopress benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload corpus_bulk --seed 1 --seconds 16 --trace 0

Runs from any working directory against the eggopress sources in the
checkout that holds this file, on local[<half the cpus available to the
process>] (see harness.cores), as one closed-loop client. Scratch data
lives under .perfbench/scratch in the checkout and is removed at exit.

Workloads: corpus_bulk and generic_lineitem (listed in BENCHMARK.json),
and corpus_append_scan (runs by name; not listed because a third workload
does not fit the benchmark's total run-time budget).

--trace 0 prints the end-to-end metrics of BENCHMARK.json. --trace 1 runs
the workload traced (Spark event log, a job description per operation,
spans around the engine's public calls; corpus_bulk then probes the
append and compaction path), then untraced for the tracing overhead, then
(corpus_bulk) encodes once more at local[1] for scaling efficiency; it
replays seeded inputs through the codec and chunk layers in-process and
prints the per-layer metrics. The layered breakdown (code revision,
cpus, cores, seed, per-operation layer self-times, core-seconds split,
which end-to-end metric each layer should move) is written to
.perfbench/out/trace-<workload>-seed<seed>.json.

The last line of stdout is {"correct", "attempted", "failed", "metrics"}.
The exit code is 1 if any correctness check failed, 2 if the engine
sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time

import harness
from harness import Client, log, median

MIN_ITERATIONS = 2
# unrecorded iterations before measuring: the first pays first-use costs
# (codegen, worker imports, the JIT's first tiers). The next one or two
# still run up to ~30% slow while the JIT finishes; the median over the
# run absorbs them, and a second warm-up iteration would cost measured
# time the run-time budget does not have
WARMUP_ITERATIONS = 1
DEADLINE_S = 170  # a run that is still going after this is killed


def measure(wl, client: Client, seconds: float) -> int:
    """Closed loop: iterations back to back for `seconds`. The next
    iteration starts only if at least half of it fits before the
    deadline, so a run overshoots by at most half an iteration."""
    deadline = time.time() + seconds
    n, last = 0, 0.0
    while n < MIN_ITERATIONS or time.time() + last / 2 < deadline:
        t = time.time()
        wl.iteration(client)
        last = time.time() - t
        n += 1
    return n


def run_phase(wl, cores: int, seconds: float, *, prepare: bool,
              tracer=None, eventlog: str | None = None, gates: bool = True,
              warmup: int = WARMUP_ITERATIONS):
    """Start a session, (prepare inputs,) warm up with unrecorded
    iterations, measure, run the final gates. Returns (spark, client,
    timings)."""
    t0 = time.time()
    spark = harness.start_session(cores, eventlog)
    timings = {"session_s": time.time() - t0}
    log(f"{wl.name}: session local[{cores}] in {timings['session_s']:.1f}s")
    if prepare:
        t = time.time()
        wl.prepare(spark)
        timings["prepare_s"] = time.time() - t
    wl.begin_phase(spark)
    if tracer is not None:
        tracer.install()
    client = Client(spark, tracer)
    t = time.time()
    for _ in range(warmup):
        wl.iteration(client)
    timings["warmup_s"] = time.time() - t
    client.walls.clear()
    wl.reset_samples()
    if tracer is not None:
        tracer.measure_from = len(tracer.spans)
    t = time.time()
    timings["iterations"] = measure(wl, client, seconds)
    timings["measured_s"] = time.time() - t
    log(f"{wl.name}: prepare {timings.get('prepare_s', 0):.1f}s, warm-up "
        f"{timings['warmup_s']:.1f}s, {timings['iterations']} iterations in "
        f"{timings['measured_s']:.1f}s; op walls " + json.dumps(
            {k: [round(w, 3) for w in v] for k, v in client.walls.items()}))
    if gates:
        t = time.time()
        wl.final_gates(client)
        log(f"{wl.name}: final gates {time.time() - t:.1f}s")
    return spark, client, timings


def untraced(wl, cores: int, seconds: float, rss) -> tuple[Client, dict]:
    spark, client, tm = run_phase(wl, cores, seconds, prepare=True)
    metrics = {
        "setup_s": tm["session_s"] + tm["prepare_s"] + tm["warmup_s"],
        **wl.e2e(client),
        "peak_rss_mb": rss.peak_mb(),
    }
    spark.stop()
    return client, metrics


def traced(wl, cores: int, seconds: float, rss) -> tuple[Client, dict]:
    import layers
    from spans import Tracer

    # traced phase: event log, job descriptions, spans
    tracer = Tracer()
    eventlog = harness.scratch("eventlog")
    spark, client, _ = run_phase(wl, cores, seconds, prepare=True,
                                 tracer=tracer, eventlog=eventlog)
    counts = wl.counts()
    scan_meta = list(wl.scan_meta)
    phases = list(getattr(wl, "phase_samples", []))
    if hasattr(wl, "probe_append"):
        counts.update(wl.probe_append(client))
    spark.stop()
    tracer.uninstall()

    # untraced reference phase (one warm-up iteration: the JVM is warm by
    # now). It runs second, so JVM warmth biases the overhead estimate
    # upward; run-to-run noise is of the same order, so read the estimate
    # as a bound of roughly +-10 percent, not a measurement
    spark, ref, _ = run_phase(wl, cores, 0, prepare=False, gates=False,
                              warmup=1)
    spark.stop()
    ref_walls = {k: median(v) for k, v in ref.walls.items()}
    client.absorb(ref)

    scaling = None
    if wl.name == "corpus_bulk" and cores > 1:
        scaling = layers.scaling_leg(wl, median(wl.enc_rates), cores, client)
    per_layer, report = layers.build(wl, tracer, eventlog, client, ref_walls,
                                     counts, scan_meta, phases, scaling, cores)
    report.update({"revision": harness.code_revision(),
                   "cpus": harness.cpus(), "cores": cores,
                   "seed": wl.seed, "workload": wl.name,
                   "seconds": seconds, "peak_rss_mb": rss.peak_mb()})
    out = os.path.join(harness.OUT, f"trace-{wl.name}-seed{wl.seed}.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    log(f"layered trace written to {out}")
    return client, per_layer


def declared_metrics(section: str) -> dict[str, str]:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not harness.program_present():
        log(f"no eggopress package under {harness.ROOT}; nothing to measure")
        return 2
    lock = harness.lock_checkout()  # held until the process exits
    if lock is None:
        log("another benchmark run holds this checkout; run one at a time")
        return 2
    cores = harness.cores()
    harness.prepare(cores)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    wl = workloads.WORKLOADS[args.workload](args.seed)
    # SIGTERM unwinds through the finally below, which stops the JVM; a
    # run that hangs (e.g. a JVM that never opens its gateway) is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    watchdog = threading.Timer(DEADLINE_S, harness.kill_tree_and_exit)
    watchdog.daemon = True
    watchdog.start()
    try:
        with harness.RssSampler() as rss:
            run = traced if args.trace else untraced
            client, metrics = run(wl, cores, args.seconds, rss)
    except harness.OpFailed as exc:
        log(f"operation failed: {exc}")
        return 1
    finally:
        harness.shutdown_jvm()
        harness.cleanup()
        watchdog.cancel()
    log("peak rss by process: " + json.dumps(
        {k: round(v / 1024) for k, v in rss.peak_parts.items()}))
    correct = not client.gate_failures
    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    unknown = sorted(set(metrics) - set(declared))
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    if not args.trace and set(metrics) != set(declared):
        raise RuntimeError(f"end-to-end metrics not measured: "
                           f"{sorted(set(declared) - set(metrics))}")
    print(json.dumps({
        "correct": correct,
        "attempted": client.attempted,
        "failed": client.failed,
        # a layer the workload does not exercise reads 0
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in declared.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
