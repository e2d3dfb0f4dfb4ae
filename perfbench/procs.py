"""Process bookkeeping from /proc: descendant trees, peak RSS, and the
shutdown sequence that leaves no JVM or Python worker behind."""

from __future__ import annotations

import os
import signal
import time


def _stat(pid: int) -> tuple[str, int] | None:
    """(comm, ppid) of a live process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may contain spaces and parens: split at the LAST ')'
    head, tail = s.rsplit(")", 1)
    fields = tail.split()
    if fields[0] == "Z":
        return None  # zombie: already exited, only the exit status remains
    return head.split("(", 1)[1], int(fields[1])


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the parent tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[1], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def comm(pid: int) -> str:
    """Short process name, '' once the process is gone."""
    st = _stat(pid)
    return st[0] if st else ""


def alive(pid: int) -> bool:
    return _stat(pid) is not None


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size (VmHWM) of one process, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def wait_gone(pids: list[int], grace_s: float) -> list[int]:
    """Wait up to ``grace_s`` for ``pids`` to exit, SIGKILL what is left,
    and return the pids that had to be killed."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline and any(alive(p) for p in pids):
        time.sleep(0.05)
    killed = [p for p in pids if alive(p)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 5.0
    while time.monotonic() < deadline and any(alive(p) for p in killed):
        time.sleep(0.05)
    return killed


def stop_spark(grace_s: float = 10.0) -> list[int]:
    """Stop the active SparkContext, shut the py4j gateway down and wait for
    the JVM and every ``pyspark.daemon`` worker to exit, killing stragglers
    after ``grace_s``. Returns the pids that had to be killed. Safe to call
    when no Spark was ever started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return []
    jvm = getattr(gateway, "proc", None)
    # snapshot the tree BEFORE stopping: once the JVM exits its workers are
    # re-parented and can no longer be found from here
    tree = descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            pass
    try:
        gateway.shutdown()
    except Exception:
        pass
    if jvm is not None and jvm.stdin is not None:
        try:
            jvm.stdin.close()  # the gateway server exits on stdin EOF
        except OSError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    killed = wait_gone(tree, grace_s)
    if jvm is not None:
        try:
            jvm.wait(timeout=5)
        except Exception:
            pass
    return killed
