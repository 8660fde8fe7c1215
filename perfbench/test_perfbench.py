"""The benchmark's own test (several minutes): ``python3 -m pytest perfbench -q``
from the root of a checkout.  It runs ``run.py --smoke`` at tiny input size."""

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def test_smoke():
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
                          cwd=os.path.dirname(HERE), timeout=1800)
    assert proc.returncode == 0
