"""Every command-line script under tools/ and jobs/ answers --help with
its usage and exit status 0, without starting Spark: a script whose
imports broke (a deleted module, a removed engine knob) fails here
instead of on its first real run."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(os.path.relpath(p, ROOT)
                 for d in ("tools", "jobs")
                 for p in glob.glob(os.path.join(ROOT, d, "*.py")))


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_help(script):
    r = subprocess.run([sys.executable, script, "--help"], cwd=ROOT,
                       capture_output=True, text=True, timeout=60)
    assert r.returncode == 0, r.stderr
    assert r.stdout.startswith("usage:"), r.stdout
