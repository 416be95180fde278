"""/proc readings of a process tree."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from perfbench import procstat

BUSY = "import time\nt = time.time()\nwhile time.time() - t < 0.6: pass\nx = bytearray(50 << 20)\ntime.sleep(0.5)"


def test_tree_cpu_and_peak_rss_see_a_busy_child():
    me = os.getpid()
    before = procstat.tree_cpu_s(me)
    with procstat.PeakRss(me, period_s=0.02) as rss, procstat.Steal() as steal:
        proc = subprocess.Popen([sys.executable, "-c", BUSY])
        time.sleep(0.9)
        during = procstat.tree_cpu_s(me)
        proc.wait(timeout=30)
    assert proc.pid not in procstat.descendants(me)
    assert during - before >= 0.3
    assert rss.peak_bytes >= 50 << 20
    assert 0.0 <= steal.share <= 1.0
