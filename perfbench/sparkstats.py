"""Read Spark's status store (jobs and stages) and the JVM's memory from
the driver.

Works with ``spark.ui.enabled=false``: the status store is kept by the
listener bus either way. Scala collections come back over py4j, so a
``Seq`` is indexed with ``.apply(i)``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
    "resultSize",
)


@dataclass
class Job:
    job_id: int
    group: str | None
    stage_ids: list[int]
    wall_s: float


def _items(seq) -> list:
    """Elements of a Scala ``Seq`` returned over py4j."""
    return [seq.apply(i) for i in range(seq.size())]


class StatusStore:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self._sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def settle(self) -> None:
        """Wait until every event posted so far reached the status store."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, since: int = -1) -> list[Job]:
        """Jobs with id > ``since``, oldest first."""
        self.settle()
        out = []
        for j in _items(self._store.jobsList(None)):
            jid = j.jobId()
            if jid <= since:
                continue
            grp = j.jobGroup()
            sub, done = j.submissionTime(), j.completionTime()
            wall = (done.get().getTime() - sub.get().getTime()) / 1e3 if sub.isDefined() and done.isDefined() else 0.0
            out.append(Job(jid, grp.get() if grp.isDefined() else None,
                           _items(j.stageIds()), wall))
        out.sort(key=lambda j: j.job_id)
        return out

    def stages(self) -> dict[int, dict]:
        """Metrics of every stage: ``{stage_id: {field: value, "status":
        str, "attempt": int}}``, last attempt wins."""
        self.settle()
        out: dict[int, dict] = {}
        for s in _items(self._store.stageList(None, False, False, self._no_quantiles, None)):
            sid = s.stageId()
            rec = {f: getattr(s, f)() for f in STAGE_FIELDS}
            rec["status"] = s.status().toString()
            rec["attempt"] = s.attemptId()
            if sid not in out or rec["attempt"] >= out[sid]["attempt"]:
                out[sid] = rec
        return out

    def last_job_id(self) -> int:
        jobs = self.jobs()
        return jobs[-1].job_id if jobs else -1

    def persisted(self) -> tuple[int, int]:
        """(persistent RDD count, bytes they hold in memory and on disk)."""
        n = self._sc._jsc.getPersistentRDDs().size()
        used = 0
        for r in _items(self._store.rddList(True)):
            used += r.memoryUsed() + r.diskUsed()
        return n, used


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by process ``pid`` and its descendants: the
    JVM with its Python workers. Time a process spent waiting while the
    hypervisor ran other guests (steal) is not counted."""
    stats, kids = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        p = int(d)
        stats[p] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        kids.setdefault(int(fields[1]), []).append(p)
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += stats.get(p, 0)
        todo.extend(kids.get(p, []))
    return total / os.sysconf("SC_CLK_TCK")
