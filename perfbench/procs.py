"""The benchmark's process tree: this driver, its JVM and the JVM's Python
workers, read from ``/proc``.

CPU time is what the tree's processes ran, as the kernel accounts it per
process: time the hypervisor gave to other guests (steal) is not in it,
so it holds steady on a shared host where wall time does not. The JVM's
JIT compiler threads are counted apart: in a run of a minute they are
still compiling the program's hot paths, a warm-up cost that comes in
bursts and that a long production job amortizes.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_jit_ticks: dict[tuple[int, int], int] = {}   # (JVM pid, thread id) -> ticks


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat(int(d))[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this driver, the JVM and
    every live descendant of the JVM, including the children they have
    reaped (Python workers that exited)."""
    t = os.times()
    ticks = 0
    for pid in [_jvm_pid()] + _descendants(_jvm_pid()):
        try:
            ticks += sum(int(x) for x in _stat(pid)[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return t.user + t.system + ticks / _TICK


def jit_s() -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far. The
    JVM stops idle compiler threads and starts new ones, so each thread's
    last reading is kept after it is gone."""
    jvm = _jvm_pid()
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if "CompilerThre" in head:
            _jit_ticks[jvm, int(tid)] = sum(int(x) for x in rest.split()[11:13])
    return sum(v for (pid, _), v in _jit_ticks.items() if pid == jvm) / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict:
    """Peak resident memory (VmHWM, MB) of this driver, its JVM and the
    JVM's Python workers: each part, and their sum as ``total``."""
    jvm = _jvm_pid()
    workers = _descendants(jvm)
    parts = {"driver": _hwm_kb(os.getpid()) / 1024, "jvm": _hwm_kb(jvm) / 1024,
             "workers": sum(map(_hwm_kb, workers)) / 1024, "n_workers": len(workers)}
    parts["total"] = parts["driver"] + parts["jvm"] + parts["workers"]
    return parts
