"""Process-tree CPU and memory read from /proc (Linux)."""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """root and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def become_subreaper() -> None:
    """Have orphaned descendants of this process reparented to it rather
    than to init, so that tree_pids(os.getpid()) keeps finding them.
    PySpark's Python daemon moves itself into a process group of its own
    (pyspark/daemon.py, setpgid), so killing the worker's group misses
    it and its forked workers, and they outlive the JVM that started
    them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(timeout_s: float = 10.0) -> bool:
    """SIGKILL every descendant of this process, whatever its process
    group, and reap those reparented here; repeat until none is left,
    zombies included: a dying parent can orphan a child between two
    passes, and a killed JVM shows as a zombie while its threads are
    still exiting. True when none is left before timeout_s."""
    me = os.getpid()
    deadline = time.time() + timeout_s
    while True:
        left = [pid for pid in tree_pids(me) if pid != me]
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _reap()
        if not left:
            return True
        if time.time() > deadline:
            return False
        time.sleep(0.05)


def tree_cpu_s(root: int) -> float:
    """user+sys CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 (1-based) = utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    """Resident memory of the tree in MiB, counted as proportional set
    size so pages shared between processes (the forked Python workers)
    count once."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            pass
    return kb / 1024


def dir_mb(path: str) -> float:
    total = 0
    for r, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(r, name))
            except OSError:
                pass
    return total / 2**20
