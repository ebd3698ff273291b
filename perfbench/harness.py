"""Shared benchmark machinery: the private scratch root, the Spark session,
the closed-loop client that times and checks each operation, peak-RSS
sampling across the whole process tree, and the content digest that the
correctness gates compare.

Nothing here starts a process or touches a file at import time."""

from __future__ import annotations

import hashlib
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
SCRATCH = os.path.join(STATE, "scratch")
OUT = os.path.join(STATE, "out")

# engine knobs read from the environment; the benchmark runs the engine's
# defaults whatever the caller's shell exports
_ENGINE_KNOBS = (
    "EGGOPRESS_CHUNK_ROWS", "EGGOPRESS_VALUES_PER_PART",
    "EGGOPRESS_DATA_CODEC", "EGGOPRESS_SHUFFLE_CODEC", "EGGOPRESS_PREWARM",
    "EGGOPRESS_JACCARD_SMALL_MB", "EGGOPRESS_BROADCAST_CAP_MB",
    # the default 8g heap: under a 1g cap G1 ran a concurrent cycle about
    # once a second (humongous Arrow buffers), and op times wandered
    "EGGOPRESS_DRIVER_MEM",
)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def cores() -> int:
    """Spark task slots: half the CPUs. A running task keeps a JVM thread
    and a Python worker busy, so local[cpus] can put twice as many
    runnable threads as CPUs on the host, and the run then times the
    scheduler. On a 4-CPU host, corpus_bulk encoded as fast at local[2]
    as at local[4] (2.3 s against 2.5 s a table)."""
    return max(1, cpus() // 2)


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "eggopress", "__init__.py"))


def code_revision() -> str:
    """Content hash of the engine sources (the checkout is not a git
    repository, so the revision is derived from the files themselves)."""
    h = hashlib.sha256()
    paths = sorted(os.path.join(d, f)
                   for d, _, files in os.walk(os.path.join(ROOT, "eggopress"))
                   for f in files if f.endswith(".py"))
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def prepare(n_cores: int) -> None:
    """Empty the scratch root and point every temp/scratch location the
    engine, Spark and the Python workers use inside it; put the checkout
    on the workers' import path."""
    shutil.rmtree(SCRATCH, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "engine"):
        os.makedirs(os.path.join(SCRATCH, sub))
    os.makedirs(OUT, exist_ok=True)
    for k in _ENGINE_KNOBS:
        os.environ.pop(k, None)
    pp = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(SCRATCH, "tmp"),
        "EGGOPRESS_LOCAL_DIR": os.path.join(SCRATCH, "local"),
        "EGGOPRESS_SCRATCH_DIR": os.path.join(SCRATCH, "engine"),
        "SPARK_GRAFT_CPUS": str(n_cores),
        # every JVM Spark starts (launcher and driver): no hsperfdata
        # files, which HotSpot would otherwise write under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def lock_checkout():
    """Hold an exclusive lock on the checkout's state directory for the
    life of the process: two runs in one checkout would share (and wipe)
    one scratch root. Returns the open lock file, or None if another run
    holds it."""
    import fcntl

    os.makedirs(STATE, exist_ok=True)
    fh = open(os.path.join(STATE, "lock"), "w")
    try:
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        fh.close()
        return None
    return fh


def cleanup() -> None:
    shutil.rmtree(SCRATCH, ignore_errors=True)


def scratch(*parts: str) -> str:
    return os.path.join(SCRATCH, *parts)


def start_session(cores: int, eventlog_dir: str | None = None):
    """local[cores] session through the engine's own builder (which runs
    the conf prewarm inside getOrCreate)."""
    from eggopress.conf import session_builder

    b = (
        session_builder("perfbench", cores=cores)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", scratch("warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={scratch('tmp')}")
    )
    # set explicitly either way: builder options outlive a stopped session
    b = b.config("spark.eventLog.enabled", str(bool(eventlog_dir)).lower())
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        b = (b.config("spark.eventLog.dir", "file://" + eventlog_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM (and with it Spark's Python daemon) and
    wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; still reap it below
        traceback.print_exc()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def kill_tree_and_exit() -> None:
    """Last resort for a hung run: SIGKILL every descendant, then exit
    without printing a result."""
    log("run still going after its deadline; killing it")
    for pid in RssSampler.tree():
        if pid != os.getpid():
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os._exit(3)


class RssSampler:
    """Peak resident memory of the run: the largest sum, over this process
    and every descendant alive at that moment (the Spark JVM, its Python
    daemon and workers), of their resident set sizes, polled every
    100 ms."""

    def __init__(self):
        self._peak_kb = 0
        self.peak_parts: dict[str, int] = {}  # process name -> kB at peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def tree() -> list[int]:
        children: dict[int, list[int]] = {}
        for ent in os.listdir("/proc"):
            if not ent.isdigit():
                continue
            try:
                with open(f"/proc/{ent}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(ent))
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def sample(self) -> None:
        parts: dict[str, int] = {}
        exe: dict[int, str] = {}
        for pid in self.tree():
            try:
                exe[pid] = os.readlink(f"/proc/{pid}/exe")
                with open(f"/proc/{pid}/status") as f:
                    status = dict(line.split(":", 1) for line in f
                                  if ":" in line)
            except OSError:
                continue
            # a JVM child that has not exec'd yet (Spark forking a helper)
            # still maps the whole JVM: it would count the JVM twice
            if (os.path.basename(exe[pid]) == "java"
                    and exe[pid] == exe.get(int(status["PPid"]))):
                continue
            name = status["Name"].strip()
            parts[name] = parts.get(name, 0) + int(
                status.get("VmRSS", "0 kB").split()[0])
        total = sum(parts.values())
        if total > self._peak_kb:
            self._peak_kb, self.peak_parts = total, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(0.1)

    def peak_mb(self) -> float:
        self.sample()
        return self._peak_kb / 1024.0


class OpFailed(RuntimeError):
    pass


class Client:
    """One closed-loop client: it issues the next operation only after the
    previous one returned. Every operation is timed (the callable must
    consume its result inside the timed region), tagged with a Spark job
    description, and counted; a check on its output runs afterwards,
    outside the timed region."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.gate_failures: list[str] = []
        self.walls: dict[str, list[float]] = {}
        self._op_failed = False

    def op(self, kind: str, fn):
        """Run one timed operation -> (result, wall seconds)."""
        self.attempted += 1
        self._op_failed = False
        tag = f"perfbench:{kind}#{self.attempted}"
        self.spark.sparkContext.setJobDescription(tag)
        t0 = time.time()
        try:
            if self.tracer is not None:
                with self.tracer.root(kind, tag):
                    out = fn()
            else:
                out = fn()
        except Exception as exc:
            self.failed += 1
            self.gate_failures.append(f"{kind}: raised {exc!r}")
            traceback.print_exc()
            raise OpFailed(kind) from exc
        finally:
            self.spark.sparkContext.setJobDescription(None)
        wall = time.time() - t0
        self.walls.setdefault(kind, []).append(wall)
        return out, wall

    def check(self, what: str, ok: bool) -> None:
        """Correctness check of the operation just run."""
        if not ok:
            self.gate_failures.append(what)
            log(f"CHECK FAILED: {what}")
            if not self._op_failed:
                self.failed += 1
                self._op_failed = True

    def absorb(self, other: "Client") -> None:
        """Count another session's operations and failures in this run."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.gate_failures += other.gate_failures

    def gate(self, what: str, fn) -> None:
        """A stand-alone correctness gate, counted as one operation."""
        self.attempted += 1
        self._op_failed = False
        self.spark.sparkContext.setJobDescription(f"perfbench:gate#{what}")
        try:
            ok = bool(fn())
        except Exception:
            traceback.print_exc()
            ok = False
        finally:
            self.spark.sparkContext.setJobDescription(None)
        self.check(f"gate {what}", ok)


def digest_aggs(cols, name: str = "d") -> list:
    """Aggregate expressions of an order-independent content digest over
    cols that reads every value: rows, and the sums of the low and of the
    high 32 bits of each row's xxhash64 (sums of 32-bit halves cannot
    overflow a long below 2**31 rows)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*cols)
    return [F.count(F.lit(1)).alias(f"{name}_n"),
            F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias(f"{name}_lo"),
            F.sum(F.shiftrightunsigned(h, 32)).alias(f"{name}_hi")]


def digest_of(row, name: str = "d") -> tuple[int, int, int]:
    return (int(row[f"{name}_n"]), int(row[f"{name}_lo"] or 0),
            int(row[f"{name}_hi"] or 0))


def digest_cols(df, cols) -> tuple[int, int, int]:
    return digest_of(df.agg(*digest_aggs(cols)).first())


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _parquet_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, files in os.walk(path)
            for f in files if f.endswith(".parquet")]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in _parquet_files(path))


def file_count(path: str) -> int:
    return len(_parquet_files(path))
