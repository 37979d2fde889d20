"""What the benchmark reads about a run without instrumenting the package.

- Spark's own SQL metrics per plan node and stage metrics, from the status
  stores the session keeps even with the UI disabled.
- Host figures from ``/proc``: resident memory of the Spark JVM and the
  Python workers it forks, hypervisor steal, load average.
"""

from __future__ import annotations

import os
import re
import statistics
import threading

_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
}
_VALUE_RE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)$")
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def parse_metric(text: str) -> float | None:
    """Total of a formatted SQL metric: ``'5,000'``, ``'28 ms'`` or the
    two-line ``'total (min, med, max ...)\\n4.5 MiB (...)'``. Times come back
    in ms and sizes in bytes."""
    head = text.strip().splitlines()[-1].split(" (")[0].strip()
    m = _VALUE_RE.match(head)
    if not m:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def sql_nodes(spark, description_prefix: str) -> list[dict]:
    """Plan nodes of every SQL execution whose description starts with
    ``description_prefix``: ``{execution, description, node, desc,
    metrics: {name: value}}``."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _seq(store.executionsList()):
        desc = e.description() or ""
        if not desc.startswith(description_prefix):
            continue
        eid = e.executionId()
        values = store.executionMetrics(eid)
        for n in _seq(store.planGraph(eid).allNodes()):
            metrics = {}
            for pm in _seq(n.metrics()):
                v = values.get(pm.accumulatorId())
                if v.isDefined() and pm.metricType() != "average":
                    parsed = parse_metric(v.get())
                    if parsed is not None:
                        metrics[pm.name()] = parsed
            out.append({"execution": eid, "description": desc,
                        "node": n.name().strip(), "desc": n.desc(),
                        "metrics": metrics})
    return out


def node_sum(nodes: list[dict], name_prefix: str, metric: str,
             desc_contains: str | None = None) -> float:
    """Sum of one metric over the nodes named ``name_prefix...``."""
    return sum(
        n["metrics"].get(metric, 0.0)
        for n in nodes
        if n["node"].startswith(name_prefix)
        and (desc_contains is None or desc_contains in n["desc"])
    )


def job_stats(spark, group: str) -> dict:
    """Jobs, completed stages, tasks, JVM GC time and per-stage task
    durations of every job in job group ``group``."""
    app = spark.sparkContext._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    jobs = 0
    for j in _seq(app.jobsList(None)):
        g = j.jobGroup()
        if g.isDefined() and g.get() == group:
            jobs += 1
            stage_ids.update(_seq(j.stageIds()))
    stages, tasks, gc_ms = 0, 0, 0
    durations: dict[int, list[int]] = {}
    for sid in sorted(stage_ids):
        s = app.lastStageAttempt(sid)
        if s.status().toString() != "COMPLETE":
            continue
        stages += 1
        tasks += s.numCompleteTasks()
        gc_ms += s.jvmGcTime()
        durations[sid] = [
            t.duration().get()
            for t in _seq(app.taskList(sid, s.attemptId(), 100000))
            if t.duration().isDefined()
        ]
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "gc_ms": gc_ms,
            "task_ms": durations}


def write_stages(spark, description_prefix: str, path_marker: str) -> set[int]:
    """The last stage of every execution that writes to a path holding
    ``path_marker``: the stage whose tasks write the files."""
    store = spark._jsparkSession.sharedState().statusStore()
    out: set[int] = set()
    for e in _seq(store.executionsList()):
        if not (e.description() or "").startswith(description_prefix):
            continue
        nodes = _seq(store.planGraph(e.executionId()).allNodes())
        stages = _seq(e.stages().toSeq())
        if stages and any(
            n.name().startswith(WRITE_NODE) and path_marker in n.desc() for n in nodes
        ):
            out.add(max(stages))
    return out


def skew(durations: list[int]) -> float:
    """max / median task time; 1.0 is perfectly even."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 0.0


def cached_bytes(spark) -> int:
    """Memory plus disk bytes of every cached RDD right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid`` in the process tree."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = set(), [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.add(k)
            todo.append(k)
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    total = 0
    for pid in descendants(root_pid) | {root_pid}:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            pass
    return total


class Sampler:
    """Background thread calling ``probe()`` every ``interval`` seconds and
    keeping the largest value seen since the last ``reset()``."""

    def __init__(self, probe, interval: float):
        self._probe = probe
        self._interval = interval
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            v = self._probe()
            with self._lock:
                self._peak = max(self._peak, v)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    def peak(self) -> int:
        v = self._probe()
        with self._lock:
            return max(self._peak, v)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``/proc/stat`` cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / dt if dt > 0 else 0.0


def loadavg() -> float:
    return os.getloadavg()[0]
