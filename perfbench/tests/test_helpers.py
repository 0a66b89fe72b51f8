"""Unit tests for the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import proctree  # noqa: E402
from perfbench.oracle import digest  # noqa: E402
from perfbench.statusstore import parse_metric  # noqa: E402


@pytest.mark.parametrize("text, value", [
    ("1,024", 1024.0),
    ("0", 0.0),
    ("", 0.0),
    ("12 ms", 12.0),
    ("1.5 s", 1500.0),
    ("2.0 m", 120_000.0),
    ("1.25 h", 4_500_000.0),
    ("512.0 B", 512.0),
    ("147.9 KiB", 147.9 * 1024),
    ("3.0 MiB", 3.0 * 2**20),
    ("1.0 GiB", 2.0**30),
    ("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 3 ms (stage 1.0: task 3))", 1500.0),
    ("total (min, med, max (stageId: taskId))\n2.0 KiB (1024.0 B, 1024.0 B, 1024.0 B (stage 4.0: task 9))", 2048.0),
    ("avg (min, med, max (stageId: taskId))\n7.5 (5, 7, 10 (stage 2.0: task 1))", 7.5),
    ("(min, med, max (stageId: taskId)):\n(1.0, 1.1, 1.3 (stage 192.0: task 201))", 1.1),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["n/a", "12 parsecs"])
def test_parse_metric_rejects_unknown(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_digest_ignores_row_and_column_order():
    a = digest(["b", "a"], [(1, "x"), (2, "y")])
    assert a == digest(["a", "b"], [("y", 2), ("x", 1)])
    assert a != digest(["a", "b"], [("y", 2), ("x", 3)])


def test_proctree_counts_this_process():
    pid = os.getpid()
    assert pid in proctree.tree(pid)
    assert proctree.cpu_seconds(pid) > 0
    # a plain Python process has no JVM compiler threads
    assert proctree.jit_cpu_seconds(pid) == 0
    assert proctree.rss_bytes(pid) > 0
    with proctree.RssSampler(pid, period_s=0.01) as s:
        pass
    assert s.peak > 0
