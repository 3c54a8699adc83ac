"""The audit harness's argument guard: a typo'd entry name must exit 2
before any work starts, never report a zero-entry sweep as a pass.

``JAVA_HOME`` points at a directory without a JVM, so an axis that
started a Spark session before the guard would die with a gateway error
(exit 1) instead; the guard is also what keeps this test to seconds.
"""

import os
import subprocess
import sys

import pytest

from tools.audit import AXES

AUDIT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "audit.py"
)


@pytest.mark.parametrize("axis", sorted(AXES))
def test_unknown_entry_exits_2_before_work(axis, tmp_path):
    env = {**os.environ, "JAVA_HOME": str(tmp_path / "no_jvm")}
    res = subprocess.run(
        [sys.executable, AUDIT, axis, "no_such_entry"],
        capture_output=True,
        text=True,
        env=env,
        timeout=120,
    )
    assert res.returncode == 2, res.stdout + res.stderr
    assert "no_such_entry" in res.stdout


def test_unknown_axis_exits_2():
    res = subprocess.run(
        [sys.executable, AUDIT, "no_such_axis"], capture_output=True, text=True
    )
    assert res.returncode == 2
    assert "usage" in res.stdout
