"""CPU time and peak resident memory of a process tree, read from /proc.

``psutil`` is not available, so this reads ``/proc/<pid>/stat`` and
``/proc/<pid>/status`` directly (Linux only).
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the ``(comm)`` field, which may
    itself contain spaces and parentheses; index 0 is ``state``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pids: list[int]) -> list[int]:
    """The processes of ``pids`` that still run (zombies have ended)."""
    out = []
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None and fields[0] != "Z":
            out.append(pid)
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children
    (a Python worker that exits is charged to the daemon that waits
    for it, so no CPU is lost between two readings)."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return ticks / _CLK_TCK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (``VmHWM``) in MiB."""
    kib = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return kib / 1024.0


def process_age_s(pid: int | None = None) -> float:
    """Seconds since ``pid`` (default: this process) was started."""
    fields = _stat_fields(pid or os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / _CLK_TCK


def host_steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK
