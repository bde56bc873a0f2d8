"""Process environment, Spark session lifecycle, the status-store reader,
the process-tree RSS sampler and the host-noise canaries."""

from __future__ import annotations

import json
import os
import re
import signal
import subprocess
import threading
import time
import urllib.request


def prepare_env(root: str, work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    package importable in the Python workers. Call before importing
    pyspark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a small fixed heap: the JVM's resident size then follows the
    # configured ceiling instead of when the collector happens to run
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    os.environ.pop("SPARK_GRAFT_MAX_PARTITION_BYTES", None)


def session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def jvm_pid() -> int:
    """Process id of the session's JVM (the parent of its Python
    workers)."""
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop the session and its JVM and wait for both, so the next
    ``build_session`` starts from a fresh JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    family = tree_pids(proc.pid)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the JVM exits when its stdin closes; its Python workers follow
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in family if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


# ---------------------------------------------------------------- RSS

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_bytes(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


class PeakRss:
    """Peak resident memory of a process tree: the sum, over the process
    and every descendant seen while active, of each one's own peak RSS
    (``VmHWM`` in ``/proc``), polled every 0.25 s; ``peak`` in bytes. A
    per-process peak does not depend on when the poll lands. Processes
    seen by only one poll are left out: the JVM starts helpers through
    ``posix_spawn``, whose children report the JVM's own memory until
    they exec."""

    def __init__(self, pid: int):
        self.pid = pid
        self._hwm: dict[int, int] = {}
        self._polls: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak(self) -> int:
        return sum(h for p, h in self._hwm.items() if self._polls[p] > 1)

    def _poll(self) -> None:
        for p in tree_pids(self.pid):
            hwm = _hwm_bytes(p)
            if hwm is not None:
                self._hwm[p] = max(self._hwm.get(p, 0), hwm)
                self._polls[p] = self._polls.get(p, 0) + 1

    def _run(self) -> None:
        while not self._stop.wait(0.25):
            self._poll()

    def __enter__(self):
        self._poll()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._poll()


# ------------------------------------------------------- status store

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRICS = {"time to run Python workers": "python_total_s",
               "data sent to Python workers": "python_data_sent_bytes",
               "data returned from Python workers":
                   "python_data_received_bytes"}


def parse_metric(value: str) -> float:
    """A status-store SQL metric string (``"16.9 MiB"``, or the
    ``"total (min, med, max ...)\\n14.5 s (...)"`` form) as a number in
    bytes or seconds; the store rounds to the printed digits."""
    line = value.split("\n", 1)[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class StatusStore:
    """Reads the local Spark status store (the UI's REST API)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._base = (f"{sc.uiWebUrl}/api/v1/applications/"
                      f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        # events reach the store through the listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> dict:
        """Highest job, stage and SQL execution ids seen so far."""
        self._drain()
        jobs = self._get("/jobs")
        stages = self._get("/stages")
        sql = self._get("/sql?details=false")
        return {"job": max((j["jobId"] for j in jobs), default=-1),
                "stage": max((s["stageId"] for s in stages), default=-1),
                "sql": max((e["id"] for e in sql), default=-1)}

    def since(self, mark: dict) -> dict:
        """Counters of the jobs, stages and SQL executions after
        ``mark``."""
        self._drain()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > mark["job"]]
        stages = [s for s in self._get("/stages")
                  if s["stageId"] > mark["stage"]
                  and s["status"] == "COMPLETE"]
        out = {
            "jobs": len(jobs),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"]
                                       for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"]
                               + s["diskBytesSpilled"] for s in stages),
            "shuffle_time_s": sum(s["shuffleWriteTime"] * 1e-9
                                  + s["shuffleFetchWaitTime"] * 1e-3
                                  for s in stages),
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages)
                * 1e-9,
            "executor_run_s": sum(s["executorRunTime"] for s in stages)
                * 1e-3,
        }
        out.update({v: 0.0 for v in _PY_METRICS.values()})
        execs = [e for e in self._get("/sql?details=true"
                                      "&planDescription=false")
                 if e["id"] > mark["sql"]]
        for e in execs:
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    key = _PY_METRICS.get(m["name"])
                    if key:
                        out[key] += parse_metric(m["value"])
        out["python_eval_nodes"] = sum(
            1 for e in execs for n in e.get("nodes", [])
            if "Python" in n["nodeName"] or "Pandas" in n["nodeName"])
        return out


# ----------------------------------------------------------- canaries

def canaries(spark, cpus: int) -> tuple[float, float]:
    """bench.py's fixed host-noise kernels (JVM codegen, Arrow UDF):
    one timed run each, in seconds. Copied, not imported: they are
    local to bench.py's ``main``."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    t0 = time.perf_counter()
    force(spark.range(0, 20_000_000, 1, cpus).selectExpr(
        "sum(pmod(xxhash64(id, id + 1), 1000000)) as h"))
    jvm = time.perf_counter() - t0

    @pandas_udf("double")
    def canary_udf(v):
        import numpy as np
        a = v.to_numpy()
        return type(v)(np.sqrt(a * 1.0001 + 3.0) * np.log1p(a % 97 + 1.0))

    t0 = time.perf_counter()
    force(spark.range(0, 2_000_000, 1, cpus * 2)
          .select(canary_udf(F.col("id").cast("double")).alias("x"))
          .selectExpr("sum(x) as s"))
    return jvm, time.perf_counter() - t0
