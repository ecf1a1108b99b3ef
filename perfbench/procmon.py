"""Process-tree CPU and peak-memory sampling from ``/proc``.

The tree is this process (the driver) and every descendant: the JVM that
PySpark launches and the ``pyspark.daemon`` Python workers the JVM forks.
CPU of a descendant that already exited is still counted once its parent
reaped it (``cutime``/``cstime`` of the parent), so short-lived workers are
not lost between samples. The JVM's figure covers all its threads,
the JIT compilers included: every round composes and starts a new query,
so class generation and compilation are part of what a round costs.
"""

from __future__ import annotations

import os
import threading

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces and parens: split around the LAST ')'
    head, _, rest = raw.rpartition(")")
    comm = head.split("(", 1)[1]
    fields = rest.split()
    return int(fields[1]), comm, fields


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[2][0] != "Z"


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcTree:
    """Snapshots of CPU per role for the tree rooted at ``root``."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self._peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict[int, tuple[str, list[str]]]:
        info: dict[int, tuple[int, str, list[str]]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    info[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in info.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in info:
                out[pid] = (info[pid][1], info[pid][2])
                todo.extend(children.get(pid, []))
        return out

    def pids(self) -> list[int]:
        return list(self._tree())

    def role(self, pid: int, comm: str) -> str:
        if pid == self.root:
            return "driver"
        if comm == "java":
            return "jvm"
        return "python_workers" if "python" in comm or \
            "pyspark" in _cmdline(pid) else "other"

    def cpu_ms(self) -> dict[str, float]:
        """Cumulative CPU per role. The root counts only its own time (its
        reaped children are helper commands, not the engine); descendants
        include the CPU of their reaped children."""
        out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0, "other": 0.0}
        for pid, (comm, f) in self._tree().items():
            ticks = int(f[11]) + int(f[12])
            if pid != self.root:
                ticks += int(f[13]) + int(f[14])
            out[self.role(pid, comm)] += ticks * _TICK_MS
        return out

    def pss_bytes(self) -> int:
        """Resident memory of the tree with shared pages split between the
        processes sharing them (PSS). Plain RSS would count the pages the
        forked ``pyspark.daemon`` workers share with their parent once per
        worker, so the total would move with the number of live workers."""
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    # -- background peak-memory sampler -------------------------------------
    def start_rss_sampler(self, interval_s: float = 0.2) -> None:
        def loop():
            while not self._stop.wait(interval_s):
                self._peak_rss = max(self._peak_rss, self.pss_bytes())

        self._peak_rss = self.pss_bytes()
        self._stop.clear()
        self._thread = threading.Thread(target=loop, name="rss-sampler",
                                        daemon=True)
        self._thread.start()

    def stop_rss_sampler(self) -> int:
        """Stop sampling and return the peak tree PSS in bytes."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        return self._peak_rss


def delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before.get(k, 0.0) for k in after}
