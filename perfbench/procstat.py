"""Process-tree CPU and memory, and host-window diagnostics, from /proc.

Everything here reads Linux procfs directly, so the benchmark needs no
extra packages. CPU is counted in seconds of user+sys time, including the
``cutime``/``cstime`` of children a process has already reaped.
"""

from __future__ import annotations

import hashlib
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+sys CPU seconds of the process tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's VmHWM from its current RSS (Linux >= 4.0),
    so a later peak reflects only what ran after this call."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def spark_processes(root: int | None = None) -> dict[str, list[int]]:
    """Split this process tree into the driver (this Python process and the
    JVM it launched) and the PySpark worker processes (the daemon's forks)."""
    root = os.getpid() if root is None else root
    driver, workers = [root], []
    for pid in tree_pids(root)[1:]:
        cmd = _cmdline(pid)
        if "java" in cmd.split(" ")[0]:
            driver.append(pid)
        elif "daemon" in cmd or "worker" in cmd:
            workers.append(pid)
    return {"driver": driver, "workers": workers}


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostWindow:
    """Steal share of the host's CPU time between ``start`` and ``stop``.

    ``/proc/stat`` counts time the hypervisor gave to other guests as
    steal (8th field). A window with high steal explains a slow run
    without any change to the code.
    """

    def __init__(self) -> None:
        self._t0 = _cpu_line()

    def steal_share(self) -> float:
        now = _cpu_line()
        delta = [b - a for a, b in zip(self._t0, now)]
        total = sum(delta[:8])
        return delta[7] / total if total else 0.0


def cpu_probe_s(rounds: int = 3) -> float:
    """Median wall time of a fixed single-core workload (SHA-256 over 64 MB).

    The same bytes are hashed on every host, so the figure compares how
    fast one core ran in this window with other windows.
    """
    block = b"\x5a" * (1 << 20)
    times = []
    for _ in range(rounds):
        h = hashlib.sha256()
        t0 = time.perf_counter()
        for _ in range(64):
            h.update(block)
        times.append(time.perf_counter() - t0)
    times.sort()
    return times[len(times) // 2]


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    fields = _stat_fields(os.getpid())
    start_ticks = int(fields[19])  # stat field 22: starttime, in ticks since boot
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / _TICK)


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has exited; kill stragglers
    and wait for them too."""
    deadline = time.time() + timeout
    live = [p for p in pids if _alive(p)]
    while live and time.time() < deadline:
        time.sleep(0.1)
        live = [p for p in live if _alive(p)]
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in live):
        time.sleep(0.1)
