"""CPU and peak-memory accounting for a whole process tree.

``getrusage(RUSAGE_CHILDREN)`` only counts children that have exited and
been waited for, so it misses the JVM (alive until the session stops) and
the Spark Python workers. ``ProcTree`` instead reads ``/proc`` for the
benchmark process and every descendant:

- CPU: ``utime + stime + cutime + cstime`` from ``/proc/<pid>/stat``,
  summed over the live tree. A descendant that exits is folded into its
  parent's ``cutime``/``cstime`` when the parent reaps it, so the sum keeps
  its CPU as long as the parent is in the tree.
- Memory: ``VmHWM`` from ``/proc/<pid>/status``. ``reset_peaks()`` clears
  each live process's high-water mark (``clear_refs`` value 5), and a
  sampler thread records the largest sum of ``VmHWM`` over the live tree.
  Shared copy-on-write pages of forked children count once per process.
  A process counts from its second sighting on: the JVM starts short-lived
  helpers (shell commands of Hadoop's local file system) that, until they
  exec, share the JVM's memory and report its whole high-water mark.

``become_subreaper`` and ``end_tree`` make the benchmark end only after
every process it started has ended.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    """Live children of ``pid``, from the ``children`` file of each of its
    threads (a child is listed under the thread that forked it)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it. Only the tree is walked,
    not every process of the host."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def become_subreaper() -> None:
    """Make this process the parent of its orphaned descendants (a JVM's
    helpers and Python workers outlive the JVM by a moment), so that they
    stay in the tree and ``end_tree`` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _is_zombie(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is None or fields[0] == "Z"


def end_tree(term_after_s: float = 0.0, kill_after_s: float = 10.0) -> list[int]:
    """Reap every descendant of this process, sending SIGTERM to those still
    running after ``term_after_s`` and SIGKILL after ``kill_after_s`` more.
    Returns the pids that had to be signalled."""
    root = os.getpid()
    t0 = time.monotonic()
    signalled: dict[int, int] = {}
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:  # no children left at all
            return sorted(signalled)
        live = [p for p in descendants(root) if p != root and not _is_zombie(p)]
        elapsed = time.monotonic() - t0
        if elapsed > term_after_s + 2 * kill_after_s:  # unkillable: give up
            raise RuntimeError(f"processes {live} did not end")
        for pid in live:
            sig = None
            if elapsed >= term_after_s + kill_after_s:
                sig = signal.SIGKILL
            elif elapsed >= term_after_s and pid not in signalled:
                sig = signal.SIGTERM
            if sig is not None and signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                    signalled[pid] = sig
                except ProcessLookupError:
                    pass
        time.sleep(0.02)


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def steal_s() -> float:
    """Host-wide steal seconds since boot (``/proc/stat`` cpu line)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def process_age_s() -> float:
    """Seconds since this process started."""
    fields = _stat_fields(os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / _TICK


class ProcTree:
    """Samples the tree under this process every ``interval`` seconds while
    started; ``peak_mb`` is the largest summed VmHWM seen since the last
    ``reset_peaks``."""

    def __init__(self, interval: float = 0.1):
        self.root = os.getpid()
        self.interval = interval
        self._peak_kb = 0
        self._seen: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        pids = set(descendants(self.root))
        kb = sum(_hwm_kb(pid) for pid in pids & (self._seen | {self.root}))
        self._seen = pids
        with self._lock:
            self._peak_kb = max(self._peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()

    def reset_peaks(self) -> None:
        for pid in descendants(self.root):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        with self._lock:
            self._peak_kb = 0
        self._sample()

    def peak_mb(self) -> float:
        self._sample()
        with self._lock:
            return self._peak_kb / 1024.0

    def cpu_s(self) -> float:
        return tree_cpu_s(self.root)
