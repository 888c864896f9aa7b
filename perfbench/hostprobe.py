"""Process-tree resource readings and the host thermometer, from /proc.

The process tree is this Python process plus every descendant: the Spark
JVM and the Python workers it forks. CPU is user+sys, including the
time of children already reaped into their parent, so a worker that
exited mid-pass still counts. Steal cannot inflate it: steal is time
the process was runnable but not running.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> tuple:
    """(ppid, cpu seconds) from one /proc/<pid>/stat line. The command
    name may hold spaces and parentheses, so fields count from the last
    ')'."""
    fields = text[text.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def read_proc(path: str) -> "str | None":
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def process_table() -> dict:
    """pid -> (ppid, cpu seconds) for every process visible in /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            text = read_proc(f"/proc/{name}/stat")
            if text:
                table[int(name)] = parse_stat(text)
    return table


def descendants(table: dict, root: int) -> list:
    """``root`` and every pid below it in a pid -> (ppid, ...) table."""
    children = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    table = process_table()
    return sum(table[p][1] for p in descendants(table, root or os.getpid()))


def peak_rss_mb(root: int | None = None) -> float:
    """Sum over the process tree of each process's peak resident set
    (``VmHWM``, kept by the kernel, so no peak is missed between
    samples). The JVM and the long-lived Python workers hold their
    peaks until they exit, so this reads the run's peak footprint."""
    total_kb = 0
    for pid in descendants(process_table(), root or os.getpid()):
        text = read_proc(f"/proc/{pid}/status")
        for line in (text or "").splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


# -- host thermometer -----------------------------------------------------------


def cpu_times() -> tuple:
    """(busy, steal, total) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:9]]  # user nice system idle iowait irq softirq steal
    idle = vals[3] + vals[4]
    steal = vals[7]
    total = sum(vals)
    return total - idle - steal, steal, total


def host_share(before: tuple, after: tuple) -> dict:
    """Busy and steal as percentages of all host CPU time between two
    ``cpu_times`` readings."""
    total = max(1, after[2] - before[2])
    return {
        "busy_pct": 100.0 * (after[0] - before[0]) / total,
        "steal_pct": 100.0 * (after[1] - before[1]) / total,
    }


def md5_burn(rounds: int = 100_000) -> float:
    """Seconds for a serial md5 chain: pure single-core speed."""
    t0 = time.perf_counter()
    h = b"x" * 64
    for _ in range(rounds):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def cpu_probe(repeats: int = 3) -> dict:
    """Median single-core burn time, taken while no JVM runs (before the
    session starts and after it stops), plus host busy/steal during it.
    A probe that reads slow or busy marks a contaminated window."""
    before = cpu_times()
    burn = statistics.median(md5_burn() for _ in range(repeats))
    return {"md5_burn_s": burn, **host_share(before, cpu_times())}
