"""Host readings from /proc: the process tree's peak memory, and the
steal time and load average recorded as noise annotations (no run or
sample is ever dropped because of them). Also the process-tree teardown
that makes a run end only after every process it started has ended."""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except FileNotFoundError:
            pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo += _children(pid)
    return seen


def _ticks(stat_path: str) -> tuple[int, int]:
    """(own, reaped children's) CPU ticks from a /proc stat file."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # utime, stime, cutime, cstime: fields 14-17 of proc(5)
    return int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])


def cpu_sample() -> tuple[int, dict[tuple[int, int], int]]:
    """CPU ticks used so far by the process tree (this process, its live
    descendants and the descendants they reaped), and per live JIT
    compiler thread of the tree."""
    total, jit = 0, {}
    for pid in process_tree():
        try:
            total += sum(_ticks(f"/proc/{pid}/stat"))
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        jit[(pid, int(tid))] = _ticks(f"/proc/{pid}/task/{tid}/stat")[0]
        except FileNotFoundError:
            continue
    return total, jit


def cpu_s_between(a, b) -> float:
    """CPU seconds the tree used from sample ``a`` to sample ``b``, less the
    JIT compiler threads' share: compilation is warm-up work that goes on
    into the first timed operations, and it is the noisiest part. Steal
    does not count as the process's CPU time, unlike wall time. A compiler
    thread that exits in between leaves its last ticks in the total."""
    jit = sum(t - a[1].get(k, 0) for k, t in b[1].items())
    return (b[0] - a[0] - jit) / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) of this process and each live descendant
    (the JVM and its Python workers), in MB, keyed by "<pid> <name>"."""
    out = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except FileNotFoundError:
            continue
        if "VmHWM" in fields:
            out[f"{pid} {fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def noise() -> dict:
    """Host-wide steal seconds since boot and the 1/5/15-minute load."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"steal_s": steal, "loadavg": load}


def become_subreaper() -> None:
    """Have descendants that lose their parent (the JVM's Python workers
    once the JVM has exited) re-parented to this process, so that
    ``reap_tree`` still sees them and can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_tree(timeout: float) -> list[int]:
    """Wait until every descendant of this process has ended, reaping each.
    Those still alive after ``timeout`` seconds get SIGTERM, and SIGKILL
    five seconds later. Returns the pids that had to be signalled."""
    deadline = time.monotonic() + timeout
    signalled: list[int] = []
    sig = signal.SIGTERM
    while True:
        _reap_zombies()
        live = process_tree()[1:]
        if not live:
            return signalled
        if time.monotonic() > deadline:
            for pid in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    continue
                if pid not in signalled:
                    signalled.append(pid)
            sig = signal.SIGKILL
            deadline = time.monotonic() + 5
        time.sleep(0.02)
