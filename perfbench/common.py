"""Shared machinery of the benchmark: launcher environment, Spark session,
timing statistics, span tracing, per-op deadlines, memory and event-log
readers.

Nothing here imports ``diive_spark`` at module load; :func:`start_session`
does, after :func:`prepare_env` has put the checkout on every path workers
use.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


def prepare_env(root: Path, work: Path) -> None:
    """Make the checkout importable by this process and by every Python
    worker Spark starts, whatever the working directory, and keep all
    temporary files of Spark, Java and Python inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the JVM that assembles the spark-submit command would otherwise leave
    # a perf-data file in the system temp directory while it runs
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # tempfile caches its directory on first use; reset so TMPDIR applies
    import tempfile

    tempfile.tempdir = None


def start_session(work: Path, event_log: bool):
    """Start the benchmark's SparkSession through the engine's own factory
    on ``local[nproc]``.  Returns ``(spark, seconds)``."""
    from diive_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "2g",
        # the registry's DuckDB twins are written for non-ANSI semantics,
        # as the test suite runs them
        "spark.sql.ansi.enabled": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if event_log:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": str(work / "eventlog"),
        })
    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="perfbench",
        shuffle_partitions=2 * cpus,
        extra_conf=conf,
    )
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM, and with it every Python worker
    the JVM started, has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def tree_size(path: Path) -> tuple[int, int]:
    """``(data files, bytes)`` under ``path``, ignoring hidden and
    underscore-prefixed bookkeeping files (Spark ``_SUCCESS``, ``.crc``)."""
    files = total = 0
    for p in path.rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            files += 1
            total += p.stat().st_size
    return files, total


def noop(df) -> None:
    """Materialize every row and column of ``df`` without storing it."""
    df.write.format("noop").mode("overwrite").save()


# -- statistics ---------------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile, samples)``.  With ten or fewer samples no such
    percentile exists and the maximum is reported as p100."""
    s = sorted(xs)
    n = len(s)
    if n > 10:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return (s[-1] if s else 0.0), 100.0, n


# -- tracing ------------------------------------------------------------------


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A span holds name, start, end (wall-clock seconds, comparable with the
    Spark event log), its parent span and the op it belongs to.  Disabled,
    :meth:`span` costs one branch.  Enabled, ``overhead_s`` sums the time
    spent in the tracer's own bookkeeping (span enter and exit, counters),
    which is what tracing adds to a traced run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append({"id": sid, "name": name, "op": op, "parent": parent,
                               "start": time.time(), "end": None})
            self._stack.append(sid)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            with self._lock:
                self.spans[sid]["end"] = time.time()
                self._stack.remove(sid)
            self.overhead_s += time.perf_counter() - t1

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to the named layer counter (traced runs only)."""
        if self.enabled:
            t0 = time.perf_counter()
            self.counts[name] = self.counts.get(name, 0) + value
            self.overhead_s += time.perf_counter() - t0

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name and s["end"]]

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


# -- per-op deadline ----------------------------------------------------------


class OpDeadline:
    """Run the Spark jobs of one op under its own job group and cancel the
    group when the op outlives ``seconds``.  ``expired`` tells the caller
    the op missed its deadline, whether or not a job was still running.
    Driver-side work between jobs cannot be interrupted; the op then ends
    late and still counts as expired."""

    def __init__(self, spark, group: str, seconds: float):
        self.sc = spark.sparkContext
        self.group = group
        self.seconds = seconds
        self.expired = False
        self._done = threading.Event()
        self._watcher = threading.Thread(target=self._watch, daemon=True)

    def _watch(self) -> None:
        if self._done.wait(self.seconds):
            return
        self.expired = True
        # cancelJobGroup reaches only jobs already submitted: keep cancelling
        # until the op returns, so a job it submits later is cancelled too
        while not self._done.is_set():
            self.sc.cancelJobGroup(self.group)
            self._done.wait(0.5)

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group, interruptOnCancel=True)
        self._t0 = time.perf_counter()
        self._watcher.start()
        return self

    def __exit__(self, *exc):
        self._done.set()
        self._watcher.join()
        if time.perf_counter() - self._t0 > self.seconds:
            self.expired = True
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.sc.setLocalProperty("spark.job.interruptOnCancel", None)
        return False


# -- memory -------------------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(field + ":"):
                return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM plus its live Python workers, in MiB."""
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return sum(_status_kb(p, "VmHWM") for p in _descendants(jvm)) / 1024.0


# -- event log ----------------------------------------------------------------


def read_event_log(log_dir: Path) -> list[dict]:
    """Jobs of the (stopped) application's uncompressed, rolling (v2)
    event log:
    ``{"submitted": epoch seconds, "tasks": [task metrics...]}``."""
    files = sorted(log_dir.rglob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {"submitted": ev["Submission Time"] / 1000.0, "tasks": []}
            for sid in ev["Stage IDs"]:
                stage_job[sid] = jid
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is not None:
                jobs[jid]["tasks"].append(_task_record(ev))
    return list(jobs.values())


def _lines(files):
    for path in files:
        with path.open() as fh:
            yield from fh


def _task_record(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    om = m.get("Output Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in (ev.get("Task Info") or {}).get("Accumulables", [])}

    def num(name):
        v = acc.get(name)
        try:
            return float(v)
        except (TypeError, ValueError):
            return 0.0

    return {
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "bytes_written": om.get("Bytes Written", 0),
        # start and initialize overlap the run time; run alone is the task's
        # time inside Python
        "python_s": num("time to run Python workers") / 1e3,
        "arrow_out": num("data sent to Python workers"),
        "arrow_in": num("data returned from Python workers"),
    }


def jobs_within(jobs: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Jobs submitted inside any of the wall-clock ``windows``."""
    return [j for j in jobs if any(a <= j["submitted"] <= b for a, b in windows)]


def task_sums(jobs: list[dict]) -> dict[str, float]:
    keys = ("cpu_s", "gc_s", "spill", "shuffle_write", "shuffle_read", "bytes_written",
            "python_s", "arrow_out", "arrow_in")
    out = dict.fromkeys(keys, 0.0)
    out["tasks"] = 0
    for j in jobs:
        for t in j["tasks"]:
            out["tasks"] += 1
            for k in keys:
                out[k] += t[k]
    return out
