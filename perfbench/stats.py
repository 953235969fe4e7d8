"""Counters read between passes: Spark's status store, the JVM's collectors
and /proc for the process tree (driver, JVM and Python workers)."""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError

from spans import Job, Stage

GROUP_KEY = "spark.jobGroup.id"


class JobLedger:
    """Every job of each pass, read from the status store after the pass.

    The store keeps only the newest ``spark.ui.retainedJobs`` jobs, so it is
    read after every pass, and a job id of the pass that no longer resolves
    is an error rather than a silent gap. Works with ``spark.ui.enabled``
    off.
    """

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self.next_id = 0
        self.group = None

    def begin(self, group: str) -> None:
        # jobs run between passes (catalog cleanup) belong to no pass
        while self._job(self.next_id) is not None:
            self.next_id += 1
        self.group = group
        self.sc.setLocalProperty(GROUP_KEY, group)

    def end(self, detail: bool) -> list[Job]:
        """Jobs since the previous ``end``; stage details only if ``detail``."""
        self.sc.setLocalProperty(GROUP_KEY, None)
        ids = self.sc.statusTracker().getJobIdsForGroup(self.group)
        hi = max([self.next_id - 1, *ids])
        # jobs from threads that do not carry the group (the sink pool)
        while self._job(hi + 1) is not None:
            hi += 1
        jobs, seen = [], set()
        for jid in range(self.next_id, hi + 1):
            jd = self._job(jid)
            if jd is None:
                raise RuntimeError(
                    f"job {jid} of pass {self.group} is gone from the status store"
                )
            jobs.append(self._read(jd, seen) if detail else Job(jid, "", None, 0.0, 0.0))
        self.next_id = hi + 1
        return jobs

    def _job(self, jid: int):
        try:
            return self.store.job(jid)
        except Py4JJavaError:
            return None

    def _read(self, jd, seen: set[int]) -> Job:
        def opt(o):
            return o.get() if o.isDefined() else None

        desc = opt(jd.description())
        sub, done = opt(jd.submissionTime()), opt(jd.completionTime())
        job = Job(
            jd.jobId(), jd.name(), desc,
            sub.getTime() / 1e3 if sub else 0.0,
            done.getTime() / 1e3 if done else 0.0,
        )
        ids = jd.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            # a stage reused by a later job is listed there as well; it ran
            # once, under the first job that lists it
            if sid in seen:
                continue
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:
                job.lost_stages += 1
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            seen.add(sid)
            job.stages.append(Stage(
                sid, sd.numTasks(), sd.executorRunTime() / 1e3,
                sd.executorCpuTime() / 1e9, sd.shuffleReadBytes() / 1e6,
                sd.shuffleWriteBytes() / 1e6,
            ))
        return job


def jvm_gc_s(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


# -- /proc ------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return text[text.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for k in kids.get(pid, []):
            out.append(k)
            todo.append(k)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def reset_peak_rss() -> None:
    """Restart the peak resident set (VmHWM) of this process and all its
    descendants from their current resident sets."""
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM) over this
    process and all its descendants."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def pyworker_cpu_s() -> float:
    """User + system CPU of the PySpark worker daemon and its workers,
    reaped children included."""
    ticks = 0
    for pid in descendants(os.getpid()):
        cmd = _cmdline(pid)
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            st = _stat(pid)
            if st:
                # utime, stime, cutime, cstime
                ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def cpu_steal_s() -> float:
    """Steal time of all CPUs of the machine since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK
