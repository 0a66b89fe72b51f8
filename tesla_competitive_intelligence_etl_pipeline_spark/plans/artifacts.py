"""Offline inputs of the registry: what an entry reads but does not time.

Some registry entries query state built ahead of them: an ANN index, a
signature table, a merge table with snapshots, a trained vocabulary, an
engine-hash fixture. A deployment builds such state once at ingest and
serves many queries from it, so the registry builds each one once per
process and ``sf_dir`` and every later call returns the first result.
Each builder is declared with ``@artifact``, which keeps that memo and
lists the builder in ``ARTIFACTS`` in definition order; bench.py warms
the whole list before it times anything.

Artifacts that live on local disk go under ``scratch`` (one root per
process, removed at exit). The engine-hash fixtures are the exception:
their leaves under ``fixtures.FIXTURE_ROOT`` are shared across processes
and never removed.
"""

from __future__ import annotations

import functools
import os
import shutil
from typing import Callable

from tesla_competitive_intelligence_etl_pipeline_spark.streaming.fs import scratch

ARTIFACTS: list[Callable] = []


def artifact(build: Callable) -> Callable:
    """Memoize ``build(spark, sf_dir)`` per process and normalized
    ``sf_dir``, and append it to ``ARTIFACTS``. The wrapper keeps the
    builder's name and return value; ``wrapper.forget(sf_dir)`` drops the
    memo so the next call builds again."""
    memo: dict = {}

    @functools.wraps(build)
    def ensure(spark, sf_dir: str):
        key = os.path.normpath(sf_dir)
        if key not in memo:
            memo[key] = build(spark, sf_dir)
        return memo[key]

    ensure.forget = lambda sf_dir: memo.pop(os.path.normpath(sf_dir), None)
    ARTIFACTS.append(ensure)
    return ensure


def clone(prefix: str, *paths: str) -> str:
    """Copy each directory in ``paths`` to ``<new scratch dir>/<basename>``
    and return the new dir: the per-call working copy of an artifact that
    the entry then mutates."""
    work = scratch(prefix)
    for p in paths:
        shutil.copytree(p, os.path.join(work, os.path.basename(p)))
    return work
