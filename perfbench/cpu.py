"""The program's processes and their CPU time, read from ``/proc``: this
Python process and every process under it (the JVM, and the Python
workers the JVM forks).

Other guests of a shared host take turns on the same CPUs. While they
run, an operation waits longer for a CPU, which its wall time shows,
but it uses no more CPU time: with three busy loops beside it, an upload
took 9.7 s instead of 7.6 s and used 17.2 CPU seconds instead of 17.7.
CPU time still follows the speed the host gives a CPU, which moved by up
to 50% within minutes on an otherwise idle guest.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, int] | None:
    """(parent pid, CPU ticks of the process and of its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:  # exited meanwhile
        return None
    # fields[0] is the state; ppid, then utime, stime, cutime, cstime
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def _tree() -> dict[int, int]:
    """pid → CPU ticks of this process and each of its descendants."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                procs[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _ticks) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid][1]
            todo.extend(children.get(pid, ()))
    return out


class Meter:
    """Reads the CPU seconds used so far by the program, living processes
    and reaped ones, leaving out its own reads."""

    def __init__(self) -> None:
        self._own = 0.0

    def read(self) -> float:
        c0 = time.thread_time()
        total = sum(_tree().values())
        self._own += time.thread_time() - c0
        return total / _TICK - self._own


def stop_descendants(grace_s: float = 10.0) -> None:
    """Terminate every process still running under this one (a JVM left
    by a run stopped before its session was up) and wait until it ends."""
    pids = [p for p in _tree() if p != os.getpid()]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.perf_counter() + grace_s
        while pids and time.perf_counter() < end:
            pids = [p for p in pids if _alive(p)]
            time.sleep(0.1)
        if not pids:
            return


def _alive(pid: int) -> bool:
    try:  # reap it if it is our child
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass
    return os.path.exists(f"/proc/{pid}")


def steal_s() -> float:
    """CPU seconds this machine's hypervisor has given to other guests
    since boot (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK
