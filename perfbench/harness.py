"""Shared machinery of the retrieval benchmark.

Environment pinning, the Spark session, spans with Spark job accounting,
event-log parsing, memory sampling, /dev/shm bookkeeping and the output
checks.  The benchmark drives the engine only through its public
functions; nothing here imports ``bench.py``, ``tools/`` or ``scripts/``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time
from contextlib import contextmanager

import numpy as np

# where the engine publishes node-local index replicas (functions/kernels.py,
# operators/graph_ann.py); the benchmark only measures and cleans it
SHM_ROOT = "/dev/shm/vr_spark_shm"
DRIVER_MEMORY = "2g"
MIB = float(1 << 20)


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_environment(root: str, run_dir: str) -> dict[str, str]:
    """Pin what the engine reads from the environment, before the JVM
    starts, and keep every file Spark writes inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # python workers import the engine from the checkout
        "PYTHONPATH": root,
    }
    os.environ.update(pinned)
    return pinned


def start_session(run_dir: str, app: str, trace: bool):
    from vectordb_retrieval_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(run_dir, "tmp"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    spark = get_spark(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ------------------------------------------------------------------ spans
class Tracer:
    """In-memory spans: name, start, end, parent, op id.

    Disabled, ``span`` costs one generator frame and records nothing.
    Enabled, every span runs its Spark actions under its own job group
    ``<workload>:<name>:<seq>`` so jobs, stages, tasks and task seconds
    can be attributed to it after the run."""

    def __init__(self, workload: str, enabled: bool, sc=None):
        self.workload = workload
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        self._seq += 1
        group = f"{self.workload}:{name}:{self._seq}"
        rec = {"name": name, "op": op, "parent": parent, "group": group,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                up = self.spans[self._stack[-1]]
                self.sc.setJobGroup(up["group"], up["name"])
            else:
                self.sc.setJobGroup(f"{self.workload}:idle", "idle")

    def begin(self, name: str, op: str | None = None) -> dict | None:
        """Open a span that a later ``end`` closes (for phases whose
        boundaries are two different calls)."""
        if not self.enabled:
            return None
        cm = self.span(name, op)
        rec = cm.__enter__()
        rec["_cm"] = cm
        return rec

    def end(self, rec: dict | None) -> None:
        if rec is not None and rec["end"] is None:
            rec.pop("_cm").__exit__(None, None, None)

    def close_open(self) -> None:
        while self._stack:
            self.end(self.spans[self._stack[-1]])

    # --------------------------------------------------------- accounting
    def count_jobs(self) -> None:
        """Jobs, stages that ran and tasks per span, from the status
        tracker (call while the context is alive)."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = list(st.getJobIdsForGroup(rec["group"]))
            stages = tasks = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def attach_task_metrics(self, log_dir: str) -> None:
        """Task run seconds, JVM CPU seconds and shuffle bytes per span,
        parsed from Spark's uncompressed event log."""
        per_group = parse_event_log(log_dir)
        for rec in self.spans:
            g = per_group.get(rec["group"], {})
            rec["task_run_s"] = g.get("run_ms", 0) / 1e3
            rec["task_cpu_s"] = g.get("cpu_ns", 0) / 1e9
            rec["shuffle_mb"] = g.get("shuffle_write", 0) / MIB

    def self_times(self) -> None:
        """Self time = span duration minus the time its children cover."""
        child_time = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_time[rec["parent"]] += rec["end"] - rec["start"]
        for rec, c in zip(self.spans, child_time):
            rec["self_s"] = rec["end"] - rec["start"] - c

    def dump(self, path: str, t0: float) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = []
        for rec in self.spans:
            r = {k: v for k, v in rec.items() if not k.startswith("_")}
            r["start"] -= t0
            r["end"] -= t0
            out.append(r)
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "spans": out}, fh, indent=1)


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """job group → summed task metrics, from every event file under
    ``log_dir`` (Spark 4 writes ``eventlog_v2_*/events_*``)."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in files:
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics") or {}
                    if group is None or not tm:
                        continue
                    acc = out.setdefault(group, {})
                    acc["run_ms"] = acc.get("run_ms", 0) + tm.get("Executor Run Time", 0)
                    acc["cpu_ns"] = acc.get("cpu_ns", 0) + tm.get("Executor CPU Time", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write"] = acc.get("shuffle_write", 0) + sw.get(
                        "Shuffle Bytes Written", 0
                    )
    return out


# ----------------------------------------------------------------- memory
def _tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and its descendants, from one pass over /proc."""
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(kids.get(pid, ()))
    return pids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(dirpath, n)).st_size
            except OSError:
                continue
    return total


def shm_entries() -> set[str]:
    try:
        return set(os.listdir(SHM_ROOT))
    except OSError:
        return set()


def shm_used_bytes() -> int:
    """Bytes in use on the /dev/shm tmpfs (one statvfs call)."""
    try:
        return shutil.disk_usage(os.path.dirname(SHM_ROOT)).used
    except OSError:
        return 0


class MemorySampler:
    """One thread sampling the summed RSS of this process tree (driver
    Python, JVM, Python workers) plus the bytes the run added to the
    /dev/shm tmpfs that holds SHM_ROOT.  A sample costs a few ms, so the
    thread takes well under 1 % of the driver's interpreter lock."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.shm_base = shm_used_bytes()
        self.peak_total = 0
        self.peak_driver = 0
        self.peak_shm = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        pid = os.getpid()
        tree = sum(_rss_bytes(p) for p in _tree_pids(pid))
        shm = max(0, shm_used_bytes() - self.shm_base)
        self.peak_total = max(self.peak_total, tree + shm)
        self.peak_driver = max(self.peak_driver, _rss_bytes(pid))
        self.peak_shm = max(self.peak_shm, shm)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def spark_cache_bytes(spark) -> int:
    """Bytes the block manager holds for cached RDDs/DataFrames."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def clean_shm(before: set[str]) -> int:
    """Remove the SHM_ROOT entries this run created; return their bytes."""
    leftover = 0
    for name in shm_entries() - before:
        path = os.path.join(SHM_ROOT, name)
        leftover += dir_bytes(path)
        shutil.rmtree(path, ignore_errors=True)
    return leftover


# ------------------------------------------------------------------ checks
class Checks:
    """Output checks.  Every failure is kept and counts as one failed
    operation."""

    def __init__(self):
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.fail(what)

    def topk(self, what: str, qid, ids, dist, rank, expected_qids, k: int,
             n_base: int, forbidden=None) -> bool:
        """The result contract: min(k, n) rows per query, ranks 1..k,
        unique ids per query, finite dist non-decreasing in rank, and no
        id from ``forbidden``."""
        qid = np.asarray(qid, dtype=np.int64)
        ids = np.asarray(ids, dtype=np.int64)
        dist = np.asarray(dist, dtype=np.float64)
        rank = np.asarray(rank, dtype=np.int64)
        want = min(k, n_base)
        errors = []
        if set(np.unique(qid).tolist()) != set(np.asarray(expected_qids).tolist()):
            errors.append("query set differs from the batch")
        order = np.lexsort((rank, qid))
        qid, ids, dist, rank = qid[order], ids[order], dist[order], rank[order]
        _, starts, counts = np.unique(qid, return_index=True, return_counts=True)
        if np.any(counts != want):
            errors.append(f"rows per query {sorted(set(counts.tolist()))} != {want}")
        pos = np.arange(len(qid)) - np.repeat(starts, counts)  # 0-based rank slot
        same_q = qid[1:] == qid[:-1]
        if not np.array_equal(rank, pos + 1):
            errors.append("ranks are not 1..rows")
        if not np.all(np.isfinite(dist)) or np.any((np.diff(dist) < 0) & same_q):
            errors.append("dist not finite and non-decreasing in rank")
        by_id = np.lexsort((ids, qid))
        q_sorted, i_sorted = qid[by_id], ids[by_id]
        if np.any((i_sorted[1:] == i_sorted[:-1]) & (q_sorted[1:] == q_sorted[:-1])):
            errors.append("duplicate ids within a query")
        if forbidden is not None and len(forbidden) and np.isin(ids, forbidden).any():
            errors.append("a deleted id was returned")
        for e in errors:
            self.fail(f"{what}: {e}")
        return not errors


def rows_to_arrays(rows) -> tuple[np.ndarray, ...]:
    """Collected (qid, id, dist, rank) rows → four arrays."""
    if not rows:
        return tuple(np.empty(0) for _ in range(4))
    qid, ids, dist, rank = zip(*((r["qid"], r["id"], r["dist"], r["rank"]) for r in rows))
    return np.array(qid), np.array(ids), np.array(dist), np.array(rank)


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))
