"""Host, memory and tracing instruments for the benchmark.

- ``HostBlock``: nproc, loadavg and CPU steal over a run (/proc).
- ``substrate_probe_s``: how fast Spark + Arrow + Python run on the
  host right now, without the program.
- ``MemorySampler``: peak summed PSS of this process and all of its
  descendants (the Spark JVM and its Python workers), from /proc.
- ``Tracer``: spans recorded in the benchmark's own code around calls
  into the program; each span tags its Spark jobs with a job group so
  the Spark UI REST API's SQL and stage metrics can be attributed to
  it afterwards (``rest_executions``, ``rest_jobs``,
  ``rest_stages``).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager

import pandas as pd


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostBlock:
    """Host conditions over a run: call ``close()`` at its end."""

    def __init__(self):
        self.nproc = len(os.sched_getaffinity(0))
        self.load_start = _loadavg()
        self._cpu = _cpu_jiffies()

    def close(self) -> dict:
        d = [e - s for e, s in zip(_cpu_jiffies(), self._cpu)]
        tot = sum(d) or 1
        return {"nproc": self.nproc, "loadavg_start": self.load_start,
                "loadavg_end": _loadavg(),
                "user_pct": round(100.0 * (d[0] + d[1]) / tot, 2),
                "sys_pct": round(100.0 * d[2] / tot, 2),
                "steal_pct": round(100.0 * d[7] / tot, 2)}


PROBE_ROWS = 300_000


def substrate_probe_s(spark) -> float:
    """Wall seconds of an identity Arrow ``pandas_udf`` over PROBE_ROWS
    doubles into a noop sink: Spark, Arrow and the Python workers with
    none of the program's code, so no change to the program moves it.

    On a shared 4-core host the program's passes slowed by up to 50%
    from one minute to the next while nothing else ran in the VM, and
    CPU time rose with wall time.  Tried as probes over the same runs,
    a one-thread Python loop, four such loops in parallel and a
    JVM-only ``range``/``hash`` job followed the passes less closely
    than this one."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def identity(v: pd.Series) -> pd.Series:
        return v

    n = 2 * spark.sparkContext.defaultParallelism
    df = spark.range(0, PROBE_ROWS, numPartitions=n).select(
        identity(F.col("id").cast("double")).alias("v"))
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident memory, with each page
    shared by n processes (the forked Python workers) counted 1/n."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_pss(root: int) -> int:
    """Summed PSS of ``root`` and every process below it."""
    total = 0
    for pid in _tree(root):
        try:
            total += _pss(pid)
        except OSError:
            pass
    return total


class MemorySampler:
    """Background sampler of the process tree's summed PSS.  ``peak_mb``
    is the highest sample since the last ``reset()``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, _tree_pss(pid))

    def reset(self):
        self.peak = _tree_pss(os.getpid())

    @property
    def peak_mb(self) -> float:
        return self.peak / 2 ** 20


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.

    When ``on``, each span also sets a Spark job group named after the
    span id, so REST executions and jobs map back to it."""

    def __init__(self, sc, run_id: str, on: bool):
        self.sc = sc
        self.run_id = run_id
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._tag(self.spans[self._stack[-1]])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _tag(self, rec: dict):
        gid = f"{self.run_id}:{rec['id']}"
        self.sc.setJobGroup(gid, f"{gid} {rec['name']}")

    def descendants(self, sid: int) -> set[int]:
        out = {sid}
        for s in self.spans:          # spans are appended parent-first
            if s["parent"] in out:
                out.add(s["id"])
        return out


def _rest(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def rest_executions(sc) -> list[dict]:
    return _rest(sc, "sql?details=true&planDescription=true"
                     "&offset=0&length=100000")


def rest_jobs(sc) -> list[dict]:
    return _rest(sc, "jobs")


def rest_stages(sc) -> list[dict]:
    return _rest(sc, "stages")


def rest_stage_skew(sc, stage_id: int, attempt: int) -> float:
    """max / median task run time of one stage."""
    q = _rest(sc, f"stages/{stage_id}/{attempt}/taskSummary"
                  "?quantiles=0.5,1.0")
    med, top = q["executorRunTime"]
    return top / med if med > 0 else 1.0


_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A Spark SQL metric string -> number in bytes, seconds or count:
    '2,000,000', '50.3 MiB', '872 ms', or 'total (min, ...)\\n1.2 s (...)'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def node_metric(node: dict, name: str) -> float:
    for m in node.get("metrics", ()):
        if m["name"] == name:
            return metric_value(m["value"])
    return 0.0
