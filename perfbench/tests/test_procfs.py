"""The /proc process-tree reader counts a child's CPU and peak RSS."""

import subprocess
import sys

from perfbench import procfs

CHILD = """
import sys, time
buf = bytearray(64 << 20)
for i in range(0, len(buf), 4096):
    buf[i] = 1
t = time.process_time()
while time.process_time() - t < 0.4:
    pass
print("ready", flush=True)
sys.stdin.read()
"""


def test_tree_counts_child_cpu_and_rss():
    before = procfs.cpu_seconds(procfs.tree())
    child = subprocess.Popen([sys.executable, "-c", CHILD],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             text=True)
    try:
        assert child.stdout.readline().strip() == "ready"
        procs = procfs.tree()
        mine = [p for p in procs if p.pid == child.pid]
        assert len(mine) == 1 and mine[0].ppid > 0
        assert mine[0].cpu_s >= 0.3
        assert mine[0].hwm_kb >= 64 * 1024
        assert procfs.cpu_seconds(procs) - before >= 0.3
        assert procfs.peak_rss_mb(procs) >= 64
        assert not procfs.is_python_worker(mine[0])
    finally:
        child.communicate("", timeout=30)
    # an exited child leaves the tree
    assert child.pid not in {p.pid for p in procfs.tree()}


def test_python_worker_detection():
    p = procfs.Proc(1, 0, 0.0, 0, "/usr/bin/python3 -m pyspark.daemon")
    assert procfs.is_python_worker(p)
