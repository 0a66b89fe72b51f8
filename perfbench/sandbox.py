"""One run's scratch space and Spark session.

Everything a run writes goes under ``.perfbench_run/`` in the checkout:
``TMPDIR`` (the package's ``tempfile.mkdtemp`` stores), Spark's local and
JVM temp dirs, the SQL warehouse and the registry's hash-fixture root. The
input tables under ``perfbench/data`` are only read. The directory is emptied before the run, so a
killed earlier run cannot change this run's set-up, and removed after it.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN_DIR = ROOT / ".perfbench_run"
# the input tables are 2 MB; a small heap keeps the run's footprint
# small on a shared host
DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Sandbox:
    def __init__(self):
        self.dir = RUN_DIR
        self.tmp = str(RUN_DIR / "tmp")
        self.data_dir = ""
        self.fixture_root = str(RUN_DIR / "fixtures")
        self.spark = None
        self.session_start_s = 0.0

    def __enter__(self) -> Sandbox:
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "warehouse", "fixtures"):
            os.makedirs(self.dir / sub)
        # fixed JIT compiler threads: proctree reads their CPU per thread,
        # and a thread that exits would take its counter with it
        java_opts = (f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                     "-XX:-UseDynamicNumberOfCompilerThreads")
        os.environ.update(
            TMPDIR=self.tmp,
            SPARK_LOCAL_DIRS=str(self.dir / "spark-local"),
            SPARK_GRAFT_CPUS=str(cores()),
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
            PYSPARK_SUBMIT_ARGS=(
                f'--driver-java-options "{java_opts}" '
                f"--conf spark.sql.warehouse.dir={self.dir / 'warehouse'} "
                "--conf spark.ui.showConsoleProgress=false "
                "pyspark-shell"
            ),
        )
        # get_spark honours an inherited master; the benchmark always runs
        # local[$(nproc)]
        os.environ.pop("SPARK_MASTER", None)
        tempfile.tempdir = self.tmp
        sys.path.insert(0, str(ROOT))
        from perfbench.oracle import DATA_DIR

        self.data_dir = str(DATA_DIR)
        return self

    def start_session(self):
        """Start the engine's session (``session.get_spark``) and point the
        registry's hash fixtures into the sandbox."""
        t0 = time.perf_counter()
        from tesla_competitive_intelligence_etl_pipeline_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        from tesla_competitive_intelligence_etl_pipeline_spark.plans import fixtures

        fixtures.FIXTURE_ROOT = self.fixture_root
        return self.spark

    def __exit__(self, *exc) -> None:
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                gateway = SparkContext._gateway
                self.spark.stop()
                if gateway is not None:
                    gateway.shutdown()
                    proc = getattr(gateway, "proc", None)
                    if proc is not None:
                        proc.stdin.close()
                        proc.wait(timeout=60)
        finally:
            tempfile.tempdir = None
            shutil.rmtree(self.dir, ignore_errors=True)
