"""Tracing for the per-layer run: spans recorded by the benchmark around
calls into the engine's public functions, and Spark job/stage/task facts
read back from the event log the traced session writes.

Spans come from wrappers this file installs over public functions of the
driver-side modules (encode, decode, generic, tablefmt, lineage,
maintenance); the engine itself is not modified. A layer's self time is
its span's duration minus the time covered by its child spans and by the
Spark jobs and SQL executions it started."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

# (module, owner attribute or None, public functions) wrapped per layer
_TARGETS = {
    "encode": ("eggopress.encode", None, ("encode_table", "encode_append")),
    "decode": ("eggopress.decode", None,
               ("decode_table", "read_encoded", "stats_rollup")),
    "generic": ("eggopress.generic", None,
                ("encode_generic", "decode_generic", "read_meta")),
    "tablefmt": ("eggopress.tablefmt", "Table",
                 ("snapshot", "commit_snapshot", "retire_state",
                  "purge_retired", "promote_partitions",
                  "partition_file_listing", "manifest_file_listing")),
    "lineage": ("eggopress.lineage", None,
                ("append", "read", "done_partitions", "attempt_counts")),
    "maintenance": ("eggopress.maintenance", None,
                    ("compact_table", "partition_file_counts")),
}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.measure_from = 0  # spans before this index belong to warm-up

    @contextlib.contextmanager
    def span(self, name: str, layer: str, tag: str | None = None):
        rec = {"name": name, "layer": layer, "tag": tag,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def root(self, kind: str, tag: str):
        return self.span(kind, "op", tag)

    def install(self) -> None:
        import importlib

        for layer, (mod_name, owner_attr, funcs) in _TARGETS.items():
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_attr) if owner_attr else mod
            for fn_name in funcs:
                fn = getattr(owner, fn_name)
                setattr(owner, fn_name, self._wrap(fn, f"{layer}.{fn_name}",
                                                   layer))
                self._patched.append((owner, fn_name, fn))

    def uninstall(self) -> None:
        for owner, fn_name, fn in reversed(self._patched):
            setattr(owner, fn_name, fn)
        self._patched.clear()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def read_eventlog(log_dir: str) -> tuple[list[dict], list[tuple]]:
    """Jobs of the (single) application logged in log_dir, each with its
    description, wall interval and per-stage task metrics; and the wall
    intervals of its SQL executions (which hold the jobs plus the
    driver-side execution work between them, e.g. adaptive re-planning)."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    stage_names: dict[int, str] = {}
    sql_start: dict[int, float] = {}
    sql: list[tuple[float, float]] = []
    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"id": jid,
                             "desc": props.get("spark.job.description"),
                             "start": ev["Submission Time"] / 1000.0,
                             "end": None, "stages": {}}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_names[info["Stage ID"]] = info.get("Stage Name", "")
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                om = m.get("Output Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_write_s": sw.get("Shuffle Write Time", 0) / 1e9,
                    "output_bytes": om.get("Bytes Written", 0),
                })
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql_start[ev["executionId"]] = ev["time"] / 1000.0
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                t0 = sql_start.pop(ev["executionId"], None)
                if t0 is not None:
                    sql.append((t0, ev["time"] / 1000.0))
    for sid, ts in tasks.items():
        jid = stage_job.get(sid)
        if jid is not None:
            jobs[jid]["stages"][sid] = {"name": stage_names.get(sid, ""),
                                        "tasks": ts}
    done = [j for j in sorted(jobs.values(), key=lambda j: j["start"])
            if j["end"] is not None]
    return done, sorted(sql)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def job_tasks(job: dict) -> list[dict]:
    return [t for st in job["stages"].values() for t in st["tasks"]]


def attribute(spans: list[dict], jobs: list[dict], sql: list[tuple],
              root_idx: int) -> dict:
    """Self-time breakdown of one operation (root span). Spark work is
    read from the event log: its jobs (tagged with the operation's job
    description) and the SQL executions that ran inside the operation.
    Each such interval goes to the innermost span open when it began;
    a span's self time is its duration minus its child spans and the
    union of its Spark intervals. The root's own self time is driver work
    outside every engine call and every Spark execution (query analysis
    and planning before execution starts, Python and py4j overhead)."""
    root = spans[root_idx]
    members = [root_idx]
    for i in range(root_idx + 1, len(spans)):
        if spans[i]["parent"] in members:
            members.append(i)
        elif spans[i]["start"] > root["end"]:
            break
    my_jobs = [j for j in jobs if j["desc"] == root["tag"]]
    job_iv = [(j["start"], j["end"]) for j in my_jobs]
    sql_iv = [(a, b) for a, b in sql
              if a >= root["start"] and b <= root["end"]]

    def owner(t: float) -> int:
        best = root_idx
        for i in members:
            if spans[i]["start"] <= t <= spans[i]["end"]:
                best = i
        return best

    spark_by_span: dict[int, list] = {i: [] for i in members}
    for iv in job_iv + sql_iv:
        spark_by_span[owner(iv[0])].append(iv)
    layers: dict[str, float] = {}
    for i in members:
        s = spans[i]
        children = sum(c["end"] - c["start"] for c in
                       (spans[k] for k in members if spans[k]["parent"] == i))
        self_s = (s["end"] - s["start"]) - children - _union(spark_by_span[i])
        name = "unattributed" if i == root_idx else s["layer"]
        layers[name] = layers.get(name, 0.0) + self_s
    spark_all = _union(job_iv + sql_iv)
    layers["spark_jobs"] = _union(job_iv)
    layers["spark_sql_driver"] = spark_all - layers["spark_jobs"]
    wall = root["end"] - root["start"]
    ts = [t for j in my_jobs for t in job_tasks(j)]
    return {
        "wall_s": wall,
        "layers_s": layers,
        "attributed_frac": (wall - layers["unattributed"]) / wall
        if wall > 0 else 0.0,
        "jobs": my_jobs,
        "task_s": sum(t["run_s"] for t in ts),
        "task_cpu_s": sum(t["cpu_s"] for t in ts),
        "gc_s": sum(t["gc_s"] for t in ts),
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in ts),
        "shuffle_write_s": sum(t["shuffle_write_s"] for t in ts),
    }


def write_stage_skew(jobs: list[dict]) -> float:
    """max / median task run time in the stage that wrote the most output
    bytes (the encode's codec-and-write stage)."""
    best, best_bytes = None, -1
    for j in jobs:
        for st in j["stages"].values():
            b = sum(t["output_bytes"] for t in st["tasks"])
            if b > best_bytes:
                best, best_bytes = st, b
    if not best or not best["tasks"]:
        return 0.0
    runs = [t["run_s"] for t in best["tasks"]]
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 0.0


def root_indices(spans: list[dict], kind: str) -> list[int]:
    return [i for i, s in enumerate(spans)
            if s["layer"] == "op" and s["name"] == kind]
