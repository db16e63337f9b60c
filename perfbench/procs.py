"""Process-tree sampler over ``/proc`` (psutil is not installed).

The tree is this benchmark process and every descendant: the JVM that
pyspark launches, the ``pyspark.daemon`` it forks, and the Python workers
the daemon forks in turn.

- ``cpu_s()``: utime + stime of every live process in the tree, plus
  cutime + cstime, which already holds every child that exited and was
  reaped inside the tree. The difference of two readings is the tree's
  CPU time between them.
- A background thread records each process's VmHWM (peak RSS) while it
  lives, so workers that exit before the end of the run still count.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_S = 0.5


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; split after its ')'
    return raw[raw.rfind(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_ticks(pid: int) -> int:
    fields = _stat_fields(pid)
    if fields is None:
        return 0
    # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
    return sum(int(x) for x in fields[11:15])


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _kind(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ")
    except OSError:
        return None
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "python"
    if cmd.split(b" ", 1)[0].endswith(b"java"):
        return "jvm"
    return None


class ProcTree:
    """CPU readings and per-process peak RSS for this process's tree."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self._hwm: dict[tuple[int, str], int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu_s(self) -> float:
        return sum(_cpu_ticks(p) for p in tree_pids(self.root)) / _TICK

    def sample(self) -> None:
        for pid in tree_pids(self.root):
            kind = _kind(pid)
            if kind is None:
                continue
            kb = _hwm_kb(pid)
            with self._lock:
                key = (pid, kind)
                self._hwm[key] = max(self._hwm.get(key, 0), kb)

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_S):
            self.sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self.sample()
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def peak_mb(self, kind: str) -> float:
        """Summed VmHWM (MB) of every process of ``kind`` seen so far."""
        with self._lock:
            return sum(kb for (_, k), kb in self._hwm.items() if k == kind) / 1024
