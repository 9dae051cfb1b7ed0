"""Process-level plumbing for the benchmark: the Spark session and its
teardown, the closed-loop client that times requests, the in-memory
tracer, the process-tree RSS sampler and the host context."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import statistics
import subprocess
import threading
import time

import numpy as np


# ------------------------------------------------------------------ host
def memcpy_gbps(n_bytes: int = 1 << 27) -> float:
    """Single-thread copy bandwidth right now (best of 3), GB/s."""
    src = np.ones(n_bytes, dtype=np.uint8)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return n_bytes / best / 1e9


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                mnt, fstype = parts[1], parts[2]
                if path.startswith(mnt) and len(mnt) > len(best):
                    best, kind = mnt, fstype
    except OSError:
        pass
    return kind


def source_version(root: str) -> str:
    """The git sha when ``root`` is a git checkout, else a sha256 over
    the engine's source files (the benchmark also runs from exported
    trees that carry no git metadata)."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        lines = out.stdout.split()
        if out.returncode == 0 and os.path.realpath(lines[0]) == os.path.realpath(root):
            return "git:" + lines[1]
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(root, "tokcodec")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return "tree-sha256:" + h.hexdigest()[:16]


def host_context(root: str, work: str, master: str, seed: int) -> dict:
    return {
        "nproc": os.cpu_count(),
        "spark_master": master,
        "source": source_version(root),
        "seed": seed,
        "work_dir_fs": _fs_type(work),
        "flush_policy": "no fsync; tables in the checkout's work dir",
    }


# --------------------------------------------------------- process tree
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may contain spaces; the ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory of this process and all its
    descendants (the JVM and the Python workers it forks) every
    ``interval`` seconds on a background thread; ``peak_mb`` is the
    largest sum seen."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ----------------------------------------------------------------- spark
def start_spark(root: str, work: str, cpus: int, driver_memory: str):
    """A local[cpus] session with the engine's recommended settings
    (those of ``tokcodec.session.get_spark``), except that every
    scratch directory lives under ``work``: the benchmark reads and
    writes only inside its checkout."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # Python workers import tokcodec (and this package's consumer)
    # only when the checkout root is on their PYTHONPATH
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession

    # -XX:-UsePerfData: no hsperfdata file outside the work dir
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("tokcodec-perfbench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 32)))
        .config("spark.driver.memory", driver_memory)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.files.openCostInBytes", str(128 << 10))
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "2048")
        .config("spark.sql.timeType.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM and wait until the JVM and every
    process it started (the Python worker daemon and its workers) have
    exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    alive = procs
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        with contextlib.suppress(OSError):
            os.kill(p, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


# ---------------------------------------------------------------- tracing
class Tracer:
    """In-memory spans: (request id, span id, parent id, name, start,
    end). A span opened inside another is its child; spans opened with
    no span open are top-level. Nothing is written until ``dump``."""

    def __init__(self):
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self.request_id = 0

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(None)
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[sid] = (self.request_id, sid, parent, name, t0, t1)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for _, _, parent, _, t0, t1 in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = {}
        for (_, sid, _, name, t0, t1) in self.spans:
            out[name] = out.get(name, 0.0) + (t1 - t0) - child[sid]
        return out

    def top_level_seconds(self, since: float) -> float:
        return sum(t1 - t0 for _, _, parent, _, t0, t1 in self.spans
                   if parent < 0 and t0 >= since)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"fields": ["request", "span", "parent", "name", "start", "end"],
                       "spans": self.spans}, fh)


class NullTracer:
    """Tracing off: a span is a shared no-op context."""

    request_id = 0
    _null = contextlib.nullcontext()

    def span(self, name: str):
        return self._null


# ----------------------------------------------------------------- client
class Client:
    """The benchmark's single closed-loop client: it sends one request,
    waits for its reply, checks it and only then sends the next.

    ``request`` times ``call`` (the request proper) and then runs
    ``check`` on its result outside the timing; an exception from
    either, or a False check, counts the request as failed. Each
    request runs in its own Spark job group, so its jobs and tasks can
    be counted through the public status tracker."""

    def __init__(self, spark, tracer, count_jobs: bool = False):
        self.spark = spark
        self.tracer = tracer
        self.count_jobs = count_jobs
        self.latency: dict[str, list[float]] = {}
        self.tokens: dict[str, int] = {}
        self.jobs: dict[str, list[int]] = {}
        self.tasks: dict[str, list[int]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._seq = 0

    def request(self, kind: str, call, check=None, tokens: int = 0,
                timed: bool = True):
        sc = self.spark.sparkContext
        self._seq += 1
        # unique across clients, so a group's status-tracker jobs are
        # this request's alone
        group = f"perfbench-{id(self):x}-{kind}-{self._seq}"
        sc.setJobGroup(group, kind)
        self.tracer.request_id = self._seq
        ok = False
        result = None
        try:
            with self.tracer.span(f"request.{kind}"):
                t0 = time.perf_counter()
                result = call()
                dt = time.perf_counter() - t0
            with self.tracer.span("verify"):
                ok = True if check is None else bool(check(result))
            if not ok:
                self.errors.append(f"{kind}: wrong result {str(result)[:300]}")
        except Exception as e:  # a failed request is counted, not fatal
            self.errors.append(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
        if not timed:
            if not ok:
                raise RuntimeError("untimed request failed: " + self.errors[-1])
            return result
        self.attempted += 1
        if not ok:
            self.failed += 1
            return result
        self.latency.setdefault(kind, []).append(dt)
        self.tokens[kind] = self.tokens.get(kind, 0) + tokens
        if self.count_jobs:
            tr = sc.statusTracker()
            ids = tr.getJobIdsForGroup(group)
            n_tasks = 0
            for j in ids:
                info = tr.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    st = tr.getStageInfo(s)
                    n_tasks += st.numTasks if st else 0
            self.jobs.setdefault(kind, []).append(len(ids))
            self.tasks.setdefault(kind, []).append(n_tasks)
        return result

    def all_latencies(self) -> list[float]:
        return [x for v in self.latency.values() for x in v]


def median(xs) -> float:
    return float(statistics.median(xs))
