"""Process and host counters read from ``/proc`` (``psutil`` is not required).

The Spark driver JVM is a child of the benchmark's Python process; the
PySpark daemon and its ``mapInPandas`` / UDF workers are descendants of the
JVM. CPU time of a process that has exited and been reaped is folded into its
parent's ``cutime``/``cstime``, so summing ``utime+stime+cutime+cstime`` over
the live tree counts every worker that ever ran exactly once.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process exited between listing and reading
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm may contain spaces and parentheses: split after the last ')'.
    head, _, tail = raw.rpartition(")")
    return [head.split("(", 1)[0].strip(), head.split("(", 1)[1]] + tail.split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        kids.setdefault(int(f[3]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def is_running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[2] != "Z"


def find_jvm(parent: int | None = None) -> int | None:
    """The ``java`` process started (directly or via spark-submit) by ``parent``."""
    for p in descendants(parent or os.getpid()):
        f = _stat_fields(p)
        if f is not None and f[1] == "java":
            return p
    return None


def cpu_s(pid: int, *, with_reaped: bool = True) -> float:
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # fields (1-based in proc(5)): 14 utime, 15 stime, 16 cutime, 17 cstime
    ticks = int(f[13]) + int(f[14])
    if with_reaped:
        ticks += int(f[15]) + int(f[16])
    return ticks / CLK_TCK


def status_kb(pid: int, key: str) -> int:
    raw = _read(f"/proc/{pid}/status") or ""
    for line in raw.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def io_bytes(pid: int, key: str = "write_bytes") -> int:
    raw = _read(f"/proc/{pid}/io") or ""
    for line in raw.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


@dataclass(frozen=True)
class TreeSample:
    """One reading of the JVM and its Python workers."""

    jvm_cpu_s: float
    worker_cpu_s: float
    jvm_write_bytes: int
    jvm_hwm_kb: int
    worker_hwm_kb: int

    @property
    def cpu_s(self) -> float:
        return self.jvm_cpu_s + self.worker_cpu_s

    @property
    def peak_rss_mb(self) -> float:
        return (self.jvm_hwm_kb + self.worker_hwm_kb) / 1024.0


def sample_tree(jvm: int) -> TreeSample:
    workers = descendants(jvm)
    jvm_own = cpu_s(jvm, with_reaped=False)
    return TreeSample(
        jvm_cpu_s=jvm_own,
        # workers the JVM reaped are in its cutime; live ones carry their own
        # reaped children (the PySpark daemon reaps the forked workers)
        worker_cpu_s=cpu_s(jvm) - jvm_own + sum(cpu_s(p) for p in workers),
        jvm_write_bytes=io_bytes(jvm),
        jvm_hwm_kb=status_kb(jvm, "VmHWM"),
        worker_hwm_kb=sum(status_kb(p, "VmHWM") for p in workers),
    )


@dataclass(frozen=True)
class HostSample:
    load1: float
    steal_s: float
    total_s: float


def sample_host() -> HostSample:
    load1 = float((_read("/proc/loadavg") or "0").split()[0])
    cpu = (_read("/proc/stat") or "cpu 0").splitlines()[0].split()[1:]
    ticks = [int(x) for x in cpu]
    steal = ticks[7] if len(ticks) > 7 else 0
    # guest time is already included in user/nice; count the first 8 fields
    return HostSample(load1, steal / CLK_TCK, sum(ticks[:8]) / CLK_TCK)


def steal_pct(a: HostSample, b: HostSample) -> float:
    dt = b.total_s - a.total_s
    return 100.0 * (b.steal_s - a.steal_s) / dt if dt > 0 else 0.0


def dir_mb(root: str, prefix: str = "") -> float:
    """Bytes under ``root``'s entries whose name starts with ``prefix``, in MB."""
    total = 0
    try:
        names = [n for n in os.listdir(root) if n.startswith(prefix)]
    except OSError:
        return 0.0
    for name in names:
        for dirpath, _, files in os.walk(os.path.join(root, name)):
            for fn in files:
                try:
                    total += os.lstat(os.path.join(dirpath, fn)).st_size
                except OSError:
                    pass
    return total / 1e6

