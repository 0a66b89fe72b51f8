"""The session-artifact layer (plans/artifacts.py) and the scratch root
(streaming/fs.py scratch). None of these tests starts a Spark session."""

from __future__ import annotations

import importlib
import os
import pkgutil
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_artifact_builds_once_per_sf_dir_until_forgotten():
    from tesla_competitive_intelligence_etl_pipeline_spark.plans.artifacts import (
        ARTIFACTS,
        artifact,
    )

    calls = []

    def stub(spark, sf_dir):
        calls.append(sf_dir)
        return len(calls)

    ensure = artifact(stub)
    try:
        assert ensure.__name__ == "stub"
        assert ARTIFACTS[-1] is ensure
        assert ensure(None, "/data/sf0.01") == 1
        assert ensure(None, "/data/sf0.01/") == 1  # same dir, same artifact
        assert ensure(None, "/data/sf0.1") == 2
        assert calls == ["/data/sf0.01", "/data/sf0.1"]
        ensure.forget("/data/sf0.01")
        assert ensure(None, "/data/sf0.01") == 3
        assert ensure(None, "/data/sf0.1") == 2
        assert len(calls) == 3
    finally:
        ARTIFACTS.remove(ensure)


def test_every_plans_builder_is_an_artifact_and_bench_warms_the_list():
    from tesla_competitive_intelligence_etl_pipeline_spark import plans
    from tesla_competitive_intelligence_etl_pipeline_spark.plans.artifacts import ARTIFACTS

    plans.load_registry()
    builders = []
    for info in pkgutil.iter_modules(plans.__path__):
        mod = importlib.import_module(f"{plans.__name__}.{info.name}")
        builders += [
            f"{mod.__name__}.{name}"
            for name, fn in vars(mod).items()
            if re.fullmatch(r"_?ensure_\w+", name)
            and callable(fn)
            and fn.__module__ == mod.__name__
            and fn not in ARTIFACTS
        ]
    assert builders == []
    assert len(ARTIFACTS) >= 28

    bench = (ROOT / "bench.py").read_text()
    assert re.search(r"ensure_", bench) is None, "bench.py names an artifact"
    assert re.search(r"for build in ARTIFACTS:\s*\n\s*build\(spark, sf_dir\)", bench)


def _run(code: str, tmp_path) -> list[str]:
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env, check=True,
        capture_output=True, text=True, timeout=120,
    )
    return out.stdout.split()


_SCRATCH = (
    "import os, sys\n"
    "from tesla_competitive_intelligence_etl_pipeline_spark.streaming.fs import scratch\n"
    "d = scratch('probe_')\n"
    "root = os.path.dirname(d)\n"
    "assert os.path.dirname(scratch('probe_')) == root\n"
)


def test_scratch_root_lives_while_the_process_runs_and_is_removed_at_exit(tmp_path):
    root, live = _run(
        _SCRATCH + "print(root, os.path.isdir(d))\n", tmp_path
    )
    assert live == "True"
    assert os.path.dirname(root) == str(tmp_path)  # TMPDIR is honoured
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []


def test_scratch_root_survives_a_forked_child_exiting_normally(tmp_path):
    root, live = _run(
        _SCRATCH
        + "pid = os.fork()\n"
        + "if pid == 0:\n"
        + "    sys.exit(0)\n"
        + "_, status = os.waitpid(pid, 0)\n"
        + "assert os.WIFEXITED(status) and os.WEXITSTATUS(status) == 0\n"
        + "print(root, os.path.isdir(root))\n",
        tmp_path,
    )
    assert live == "True"
    # the parent, which made the root, still removes it
    assert not os.path.exists(root)
