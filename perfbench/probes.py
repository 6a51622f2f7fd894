"""Host-side measurements: process-tree CPU and memory from /proc, host facts,
and per-job-group stage metrics from the Spark event log."""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the `comm` field (so index 0 is state)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below `root` in the process tree."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children[int(fields[1])].append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used by this process and all its descendants, live and
    reaped: utime+stime of every live process, plus cutime+cstime, which
    hold the CPU of children that already ended and were waited for."""
    root = os.getpid()
    total = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all vCPUs, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def engine_peak_rss_mb() -> float:
    """Peak resident memory of the engine: the JVM's VmHWM plus the VmHWM of
    every Python worker below it. The engine processes are all descendants
    of the driver; the driver interpreter itself is not counted."""
    return sum(_status_kb(pid, "VmHWM") for pid in descendants(os.getpid())) / 1024.0


def wait_for_descendants(timeout_s: float = 30.0) -> list[int]:
    """Wait until every process this one started has ended; returns the
    pids still alive after `timeout_s` (already sent SIGKILL)."""
    import signal
    import time

    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        live = [p for p in descendants(os.getpid()) if (_stat_fields(p) or ["Z"])[0] != "Z"]
        if not live:
            return []
        time.sleep(0.2)
    live = descendants(os.getpid())
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return live


def _fs_type(path: str) -> str:
    """File-system type of the mount that holds `path` (longest mount prefix)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, fstype = mnt, parts[2]
    return fstype


def host_facts(spark, local_dir: str) -> dict:
    import platform

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    fstype = _fs_type(local_dir)
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "jdk": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "shuffle_dir": local_dir,
        "shuffle_dir_fs": fstype,
        "shuffle_dir_tmpfs": fstype == "tmpfs",
    }


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_M = "internal.metrics."


def read_event_log(events_dir: str) -> dict[str, dict]:
    """Aggregate stage metrics of one application's event log by job group.

    Returns {job_group: {task_s, cpu_s, max_task_s, shuffle_write_mb,
    spill_mb, input_mb, input_rows, last_job_end}}, where last_job_end is in
    epoch ms. A stage counts once, in the group of the first job that ran it."""
    files = sorted(glob.glob(os.path.join(events_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:  # a non-rolling log is a single file
        files = [p for p in glob.glob(os.path.join(events_dir, "*")) if os.path.isfile(p)]
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    stage_acc: dict[int, dict] = {}
    stage_max_task: dict[int, float] = defaultdict(float)
    job_end: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        job_group[ev["Job ID"]] = group
                        for sid in ev["Stage IDs"]:
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    job_end[ev["Job ID"]] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    run_ms = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
                    sid = ev["Stage ID"]
                    stage_max_task[sid] = max(stage_max_task[sid], run_ms / 1000.0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stage_acc[info["Stage ID"]] = {
                        a["Name"]: a["Value"] for a in info.get("Accumulables", [])
                        if a.get("Name", "").startswith(_M)
                    }
    groups: dict[str, dict] = {}

    def slot(group: str) -> dict:
        return groups.setdefault(group, {
            "task_s": 0.0, "cpu_s": 0.0, "max_task_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0, "input_rows": 0,
            "last_job_end": 0,
        })

    for sid, acc in stage_acc.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        g = slot(group)
        g["task_s"] += acc.get(_M + "executorRunTime", 0) / 1000.0
        g["cpu_s"] += acc.get(_M + "executorCpuTime", 0) / 1e9
        g["max_task_s"] = max(g["max_task_s"], stage_max_task.get(sid, 0.0))
        g["shuffle_write_mb"] += acc.get(_M + "shuffle.write.bytesWritten", 0) / 1e6
        g["spill_mb"] += acc.get(_M + "diskBytesSpilled", 0) / 1e6
        g["input_mb"] += acc.get(_M + "input.bytesRead", 0) / 1e6
        g["input_rows"] += acc.get(_M + "input.recordsRead", 0)
    for jid, group in job_group.items():
        g = slot(group)
        g["last_job_end"] = max(g["last_job_end"], job_end.get(jid, 0))
    return groups
