"""Shared machinery of the benchmark: the Spark session, timing statistics,
spans, the /proc memory sampler and the Spark status-store reader.

Nothing here starts a thread, a JVM or a socket at import time.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

# Conf keys the benchmark sets that Spark fixes at context start.  Every
# other key it sets must satisfy ``spark.conf.isModifiable`` — which is
# False for a misspelt key, so a no-op key cannot slip in unnoticed.
STATIC_KEYS = {
    "spark.app.name",
    "spark.master",
    "spark.driver.memory",
    "spark.driver.extraJavaOptions",
    "spark.local.dir",
    "spark.ui.enabled",
    "spark.ui.showConsoleProgress",
    "spark.sql.warehouse.dir",
    "spark.rdd.compress",
}

DRIVER_MEMORY = "2g"


def cores() -> int:
    """CPUs this process may run on (the affinity mask, which is what
    ``nproc`` reports when OMP_NUM_THREADS is unset)."""
    return len(os.sched_getaffinity(0))


def session_conf(work_dir: str, ui: bool) -> dict[str, str]:
    """The benchmark's own session: at most ``nproc`` cores, the
    library's tuned partition and Arrow batch sizes (sketchlib.spark.session),
    and every scratch directory inside ``work_dir``."""
    n = cores()
    return {
        "spark.master": f"local[{n}]",
        "spark.app.name": "sketchlib-perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp; a heap
        # fixed at its maximum, so peak RSS does not depend on when it grows
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work_dir}/tmp -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
        "spark.local.dir": f"{work_dir}/spark-local",
        "spark.sql.warehouse.dir": f"{work_dir}/warehouse",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.rdd.compress": "true",
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
        "spark.sql.execution.arrow.maxRecordsPerBatch": "200000",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # generate_pages writes UTC wall times; hour() must read them as UTC
        "spark.sql.session.timeZone": "UTC",
    }


def build_session(work_dir: str, ui: bool):
    """Start the session and check every conf key it set."""
    from pyspark.sql import SparkSession

    os.makedirs(f"{work_dir}/tmp", exist_ok=True)
    conf = session_conf(work_dir, ui)
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    check_conf(spark, conf)
    return spark


def check_conf(spark, conf: dict[str, str]) -> None:
    """Raise if a key the benchmark set is neither runtime-modifiable nor a
    known static key, or if a static key did not take effect."""
    sc_conf = spark.sparkContext.getConf()
    bad = []
    for k, v in conf.items():
        if k in STATIC_KEYS:
            # Spark appends its own JVM options to extraJavaOptions
            if v not in (sc_conf.get(k) or ""):
                bad.append(f"{k}: static key reads {sc_conf.get(k)!r}, set {v!r}")
        elif not spark.conf.isModifiable(k):
            bad.append(f"{k}: not a modifiable conf key")
    if bad:
        raise RuntimeError("session conf check failed: " + "; ".join(bad))


# -- statistics -----------------------------------------------------------------

def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; (None, None) when there are ten samples or fewer."""
    n = len(samples)
    if n <= 10:
        return None, None
    rank = n - 10  # 1-based rank of the value with exactly ten above it
    return 100.0 * rank / n, sorted(samples)[rank - 1]


# -- spans ------------------------------------------------------------------------

class Tracer:
    """Spans recorded around calls into the library's public functions:
    (id, parent, name, layer, start, end, run id).  Kept in memory and
    written once at exit.  A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "layer": layer, "run": self.run_id,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of it
        its child spans cover (children never overlap — one thread)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- memory -------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_and_comm(pid: int) -> tuple[int, str]:
    try:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:
        return 0, ""
    return rss, comm


class RssSampler:
    """Samples, every ``interval`` seconds, the resident memory of this
    process's descendants: the JVM (``java``) and the Python workers (every
    other descendant).  Peaks are taken over samples; the total is the peak
    of their sum at one instant."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.jvm_peak = 0
        self.workers_peak = 0
        self.total_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        kids = _children()
        todo = list(kids.get(os.getpid(), []))
        jvm = workers = 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            rss, comm = _rss_and_comm(pid)
            if comm == "java":
                jvm += rss
            else:
                workers += rss
        self.jvm_peak = max(self.jvm_peak, jvm)
        self.workers_peak = max(self.workers_peak, workers)
        self.total_peak = max(self.total_peak, jvm + workers)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# -- Spark status store -------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")


def _spark_time(s: str) -> float:
    return (datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")
            .replace(tzinfo=timezone.utc).timestamp())


class StatusStore:
    """Reads jobs, stages and SQL metrics of this application from the
    Spark UI's REST API on the loopback interface."""

    def __init__(self, sc) -> None:
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is off; the traced run needs it")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self, prefixes: tuple[str, ...], settle_s: float = 10.0) -> list[dict]:
        """Jobs whose group starts with one of ``prefixes``, once the
        listener has recorded every one of them as finished."""
        deadline = time.time() + settle_s
        while True:
            jobs = [j for j in self._get("/jobs")
                    if (j.get("jobGroup") or "").startswith(prefixes)]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.2)

    def totals(self, *prefixes: str) -> dict:
        """Summed work of every job in the groups: jobs, tasks, executor run
        and CPU time, shuffle bytes written, Python bytes sent and returned,
        and the union of the jobs' wall intervals."""
        jobs = self.jobs(prefixes)
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids
                  and s["status"] == "COMPLETE"]
        py_sent = py_ret = 0.0
        for ex in self._get("/sql?details=true&planDescription=false"):
            ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ids or not ids <= job_ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        py_sent += _first_size(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        py_ret += _first_size(m["value"])
        intervals = sorted((_spark_time(j["submissionTime"]),
                            _spark_time(j["completionTime"]))
                           for j in jobs if j.get("completionTime"))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return {
            "jobs": len(jobs),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "python_bytes_sent": py_sent,
            "python_bytes_returned": py_ret,
            "job_wall_s": covered,
        }


def shutdown(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # already shut down
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _first_size(value: str) -> float:
    """The total of a size-valued SQL metric ("total (...)\\n1.6 KiB (...)")."""
    m = _SIZE_RE.search(value.split("\n", 1)[-1])
    return float(m.group(1)) * _SIZE[m.group(2)] if m else 0.0
