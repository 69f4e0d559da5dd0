"""Process-tree CPU accounting against a busy-loop child.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.procstat import descendants, tree_cpu_seconds  # noqa: E402

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_live_child_is_counted():
    before = tree_cpu_seconds()
    child = subprocess.Popen([sys.executable, "-c", BUSY.format(s=0.8) + "time.sleep(5)"])
    try:
        deadline = time.monotonic() + 20
        while tree_cpu_seconds() - before < 0.7 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in descendants(os.getpid())
        used = tree_cpu_seconds() - before
        assert 0.7 <= used < 3.0, used
    finally:
        child.kill()
        child.wait(timeout=10)


def test_reaped_child_moves_to_parent():
    before = tree_cpu_seconds()
    subprocess.run([sys.executable, "-c", BUSY.format(s=0.6)], check=True, timeout=30)
    used = tree_cpu_seconds() - before
    # the reaped child's time is in this process's cutime/cstime
    assert 0.55 <= used < 3.0, used


def test_grandchild_is_counted_once():
    code = (
        "import subprocess, sys\n"
        f"subprocess.run([sys.executable, '-c', {BUSY.format(s=0.5)!r}], check=True)\n"
    )
    before = tree_cpu_seconds()
    subprocess.run([sys.executable, "-c", code], check=True, timeout=30)
    used = tree_cpu_seconds() - before
    assert 0.45 <= used < 3.0, used
