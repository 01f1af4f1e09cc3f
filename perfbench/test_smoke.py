"""The benchmark's own test: ``run.py --smoke`` runs every workload once
in each mode at a tiny size, and fails unless every declared metric is
emitted with its unit and every output check passes.

    python3 -m pytest perfbench/test_smoke.py -q
"""

import os
import subprocess
import sys

import pytest

from compare import verdict
from layers import parse_sql_metric

HERE = os.path.dirname(os.path.abspath(__file__))


def test_smoke_every_workload_both_modes():
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
                          capture_output=True, text=True, timeout=1200)
    assert proc.returncode == 0, proc.stderr[-5000:]


@pytest.mark.parametrize("text,kind,want", [
    ("316 ms", "time", 0.316),
    ("2.0 s", "time", 2.0),
    ("total (min, med, max (stageId: taskId))\n47 ms (8 ms, 10 ms, 18 ms (stage 0.0: task 0))",
     "time", 0.047),
    ("1373.7 KiB", "size", 1373.7 * 1024),
    ("1232.0 B", "size", 1232.0),
])
def test_parse_sql_metric(text, kind, want):
    assert parse_sql_metric(text, kind) == pytest.approx(want)


def test_verdicts():
    base = [10.0 + 0.1 * i for i in range(10)]
    assert verdict(base, [x * 0.8 for x in base], True, 0.1)[0] == "improved"
    assert verdict(base, [x * 1.3 for x in base], True, 0.1)[0] == "regressed"
    assert verdict(base, list(base), True, 0.1)[0] == "unchanged"
    assert verdict(base[:5], [x * 0.8 for x in base[:5]], True, 0.1)[0] == "unresolved"
