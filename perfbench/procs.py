"""Process bookkeeping: the benchmark stops and waits for every process
it starts (its own JVM and Python workers, and each detached runner's
session), and measures the driver's peak RSS per operation."""

from __future__ import annotations

import os
import signal
import time


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(state, ppid, session id) of pid, or None when it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    rest = raw[raw.rfind(")") + 2:].split()
    return rest[0], int(rest[1]), int(rest[3])


def _all_pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for p in _all_pids():
        st = _stat(p)
        if st is not None:
            children.setdefault(st[1], []).append(p)
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def session_members(sid: int) -> set[int]:
    out = set()
    for p in _all_pids():
        st = _stat(p)
        if st is not None and st[2] == sid and st[0] != "Z":
            out.add(p)
    return out


def _reap(pid: int) -> None:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass  # not our child, or already reaped


def wait_gone(pids: set[int], timeout_s: float) -> None:
    """Wait until every pid has exited (zombies count as exited and are
    reaped if they are ours); SIGKILL what is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        for p in pids:
            _reap(p)
        alive = {p for p in pids if (st := _stat(p)) is not None and st[0] != "Z"}
        if not alive:
            return
        if time.monotonic() >= deadline:
            if killed:
                raise RuntimeError(f"processes {sorted(alive)} survived SIGKILL")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def wait_session_gone(sid: int, timeout_s: float = 120.0) -> None:
    """Wait for a detached runner (a session leader) and everything it
    started to exit."""
    wait_gone(session_members(sid) | {sid}, timeout_s)


def reset_peak_rss() -> bool:
    """Reset this process's peak RSS (Linux >= 4.0); False if unsupported."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb() -> float:
    """Peak RSS since the last reset, in MB (1e6 bytes)."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024 / 1e6
