"""Host and process readings from /proc: load, CPU steal, per-process CPU
time and peak resident memory. Linux only; every reader returns plain
numbers so callers can diff them around a span."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def host_sample() -> dict:
    """1-minute load average plus the cumulative CPU tick counters of the
    first line of /proc/stat (all cores). Diff two samples with
    :func:`steal_frac` to get the share of CPU time stolen in between."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already included in user/nice
    return {
        "load_1m": os.getloadavg()[0],
        "steal_ticks": fields[7] if len(fields) > 7 else 0,
        "total_ticks": sum(fields[:8]),
    }


def steal_frac(start: dict, end: dict) -> float:
    total = end["total_ticks"] - start["total_ticks"]
    return (end["steal_ticks"] - start["steal_ticks"]) / total if total > 0 else 0.0


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may contain spaces; it is wrapped in the outermost ()
    return raw[raw.rindex(")") + 2 :].split()


def children_map() -> dict[int, list[int]]:
    """parent pid -> child pids, for every process visible in /proc."""
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            out.setdefault(int(fields[1]), []).append(int(name))
    return out


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = children_map() if kids is None else kids
    found, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        found.append(p)
        todo.extend(kids.get(p, []))
    return found


def cpu_s(pid: int, with_children: bool = False) -> float:
    """User + system CPU seconds of ``pid``; with ``with_children`` also the
    CPU of its children that have ended and been waited for."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # after the ")" the fields start at stat(5) field 3 (state): utime is
    # field 14, stime 15, cutime 16, cstime 17
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _TICK


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` and of every live descendant, each with the
    children it has already waited for."""
    return sum(cpu_s(p, with_children=True) for p in [pid, *descendants(pid)])


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def is_alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"
