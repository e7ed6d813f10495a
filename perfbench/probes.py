"""Read-only probes the benchmark takes from outside the engine: Spark
engine counts per job group, CPU time, peak resident memory and CPU steal
from /proc, and the on-disk size of a crawl store."""

from __future__ import annotations

import os
from contextlib import contextmanager

# engine-count fields that need Spark's private AppStatusStore; they come
# back as None (with the reason below) when that API is not reachable
PRIVATE_FIELDS = ("task_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")
PRIVATE_MISSING = "AppStatusStore not reachable through py4j"


@contextmanager
def job_group(spark, group: str):
    """Tag every Spark job started inside the block with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _drain_listener_bus(sc) -> None:
    # the status store is filled asynchronously from the listener bus;
    # wait (bounded) so a job that just ended is visible
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:  # noqa: BLE001 - private API; counts stay best-effort
        pass


def group_counts(spark, group: str) -> dict:
    """Jobs, stages, tasks, task time, shuffle and spill of one job group.
    Job and stage ids come from the public status tracker; per-stage
    metrics from the private status store (as bench.py's
    ``_stage_shuffle_writes`` reads them). Private fields are None, not an
    error, when that API is absent."""
    sc = spark.sparkContext
    _drain_listener_bus(sc)
    tracker = sc.statusTracker()
    job_ids = list(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(job_ids), "stages": None, "tasks": None}
    out.update({k: None for k in PRIVATE_FIELDS})
    try:
        jvm, gw = sc._jvm, sc._gateway
        store = sc._jsc.sc().statusStore()
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        run = [stages.apply(i) for i in range(stages.size())]
        run = [s for s in run if s.stageId() in stage_ids
               and s.status().toString() != "SKIPPED"]
    except Exception:  # noqa: BLE001 - private API moved or absent
        run = None
    if run is None:
        # public fallback: stage and task counts only
        infos = [tracker.getStageInfo(s) for s in stage_ids]
        infos = [i for i in infos if i is not None and i.numCompletedTasks]
        out["stages"] = len(infos)
        out["tasks"] = sum(i.numCompletedTasks for i in infos)
        return out
    mb = float(1 << 20)
    out["stages"] = len(run)
    out["tasks"] = sum(s.numCompleteTasks() for s in run)
    out["task_s"] = sum(s.executorRunTime() for s in run) / 1000.0
    out["shuffle_write_mb"] = sum(s.shuffleWriteBytes() for s in run) / mb
    out["shuffle_read_mb"] = sum(s.shuffleReadBytes() for s in run) / mb
    out["spill_mb"] = sum(s.diskBytesSpilled() for s in run) / mb
    return out


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid`` and all its descendants,
    reaped children included (/proc/<pid>/stat fields 14-17). Time the
    hypervisor steals from the machine is not charged to any process."""
    kids = _children()
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
        todo.extend(kids.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root_pid: int) -> float:
    """Summed VmHWM of ``root_pid`` (the JVM) and all its descendants
    (the Python worker daemon and workers), in MiB. Forked workers share
    pages with the daemon, so the sum is an upper bound."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _vm_hwm_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor has stolen from the host's CPUs
    since boot, summed over CPUs (/proc/stat); a difference of two reads
    tells how much a timed region was disturbed by other tenants."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for name in files:
            n_bytes += os.path.getsize(os.path.join(root, name))
            n_files += 1
    return n_bytes, n_files

