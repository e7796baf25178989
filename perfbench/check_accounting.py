"""Check ProcTree's accounting against a child of known CPU time and memory.

    python3 perfbench/check_accounting.py

Starts a child that forks a grandchild burning 0.5 s of CPU, reaps it, then
touches 256 MiB and burns 1 s of CPU itself.
The tree's CPU delta must match what the processes report for themselves
(this one included), and the tree's peak must include the child's 256 MiB. Exits 1
when either is off by more than 10%.

Then checks the teardown: a child leaves an orphaned grandchild that ignores
SIGTERM, and ``end_tree`` must still end it and leave no process behind.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

from proctree import ProcTree, become_subreaper, descendants, end_tree

CHILD = r"""
import os, resource, sys, time

def burn(seconds):
    while True:
        r = resource.getrusage(resource.RUSAGE_SELF)
        if r.ru_utime + r.ru_stime >= seconds:
            return r.ru_utime + r.ru_stime

pid = os.fork()
if pid == 0:
    burn(0.5)
    os._exit(0)
os.waitpid(pid, 0)
r = resource.getrusage(resource.RUSAGE_CHILDREN)
buf = bytearray(256 << 20)
buf[::4096] = b"\x01" * len(range(0, len(buf), 4096))
own = burn(1.0)
time.sleep(0.5)  # stay alive for the sampler
print(own + r.ru_utime + r.ru_stime)
"""

ORPHAN = r"""
import os, signal, time

if os.fork() == 0:
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    time.sleep(60)
    os._exit(0)
"""


def main() -> int:
    tree = ProcTree(interval=0.05)
    tree.start()
    tree.reset_peaks()
    base_mb = tree.peak_mb()
    c0, own0 = tree.cpu_s(), os.times()
    out = subprocess.run([sys.executable, "-c", CHILD], capture_output=True, text=True, check=True)
    time.sleep(0.1)
    cpu = tree.cpu_s() - c0
    own1 = os.times()
    peak = tree.peak_mb() - base_mb
    tree.stop()
    # the tree includes this process, whose sampler thread reads /proc
    want_cpu = float(out.stdout) + (own1.user - own0.user) + (own1.system - own0.system)
    cpu_ok = abs(cpu - want_cpu) <= 0.1 * want_cpu
    mem_ok = abs(peak - 256) <= 0.1 * 256 + 30  # + the child interpreter itself
    print(f"cpu_s: tree {cpu:.3f} vs processes' own {want_cpu:.3f} -> {'ok' if cpu_ok else 'OFF'}")
    print(f"peak_rss_mb: tree {peak:.1f} vs 256 touched -> {'ok' if mem_ok else 'OFF'}")

    become_subreaper()
    subprocess.run([sys.executable, "-c", ORPHAN], check=True)
    orphans = descendants(os.getpid())[1:]
    signalled = end_tree(kill_after_s=1.0)
    left = descendants(os.getpid())[1:]
    end_ok = len(orphans) == 1 and signalled == orphans and not left
    print(f"teardown: orphans {orphans}, signalled {signalled}, left {left} -> "
          f"{'ok' if end_ok else 'OFF'}")
    return 0 if cpu_ok and mem_ok and end_ok else 1


if __name__ == "__main__":
    sys.exit(main())
