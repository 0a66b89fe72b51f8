"""Runs one workload: set-up, a checked warm pass, then timed passes.

A closed loop with one client and no think time: one Python thread issues
one operation at a time and the next starts when the previous returns.
Untraced passes time each operation as one span, and after the pass read
its CPU from ``/proc`` and its jobs and shuffle bytes from the status
stores. Traced passes split it
into build (the registry or API call), compile (``executedPlan``) and
execution, read the status stores after it, and record store sizes around
it; their per-layer numbers are reported with ``--trace 1`` next to the
tracing overhead against untraced passes of the same run.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

from perfbench import proctree
from perfbench.oracle import load_digests
from perfbench.sandbox import cores
from perfbench.statusstore import StatusReader
from perfbench.workloads import WORKLOADS, Op

# traced runs order their passes untraced, traced, traced, untraced, ... so
# the first pass's leftover warm-up and any drift fall on both sides
TRACE_PATTERN = (False, True, True, False)
# seconds a run may take before its last pass ends; the process must exit
# within 180 s, and stopping the session takes a few seconds more
RUN_BUDGET_S = 130
PYTHON_NODE_WORDS = ("Python", "Pandas", "Arrow")


def _is_frame(obj) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(obj, DataFrame)


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


class Runner:
    def __init__(self, box, workload: str, seed: int, seconds: float, trace: bool):
        self.box, self.seconds, self.trace = box, seconds, trace
        self.workload_name, self.seed = workload, seed
        self.failures: list[str] = []
        self.attempted = 0

    # -- operation execution -------------------------------------------------
    def _group(self, op: Op) -> str:
        group = f"perfbench-{self.attempted}"
        self.spark.sparkContext.setJobGroup(group, op.name, interruptOnCancel=False)
        return group

    def _checked(self, op: Op):
        """Run ``op`` for the warm pass: collect a DataFrame result."""
        self.attempted += 1
        self._group(op)
        try:
            res = op.fn()
            if _is_frame(res):
                return list(res.columns), [tuple(r) for r in res.collect()]
            return None
        except Exception:
            self.failures.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            self.spark.catalog.clearCache()

    def _timed(self, op: Op) -> float | None:
        self.attempted += 1
        self.pass_groups.append(self._group(op))
        try:
            t0 = time.perf_counter()
            res = op.fn()
            if _is_frame(res):
                res.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        except Exception:
            self.failures.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            self.spark.catalog.clearCache()

    def _traced(self, op: Op, layer: dict, per_op: dict) -> float | None:
        self.attempted += 1
        group = self._group(op)
        before = _files(op.store) if op.store else {}
        # skip SQL executions that ran outside this operation's span
        self.status.settle()
        self.status.new_execution_ids()
        try:
            t0 = time.perf_counter()
            res = op.fn()
            t1 = time.perf_counter()
            build_jobs = len(self.status.job_ids(group))
            t2 = t1 = time.perf_counter()
            if _is_frame(res):
                res._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                res.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        except Exception:
            self.failures.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            self.spark.catalog.clearCache()
        self.status.settle()
        stages = self.status.stages(self.status.job_ids(group))
        nodes = self.status.plan_nodes(self.status.new_execution_ids())

        layer[op.layer] += (t3 - t0) * 1000
        if op.kind == "query":
            layer["plans.build_ms"] += (t1 - t0) * 1000
            layer["plans.build_jobs"] += build_jobs
            layer["plans.compile_ms"] += (t2 - t1) * 1000
        layer["plans.plan_nodes"] += len(nodes)
        for k, v in stages.items():
            if k == "peak_exec_mem_bytes":
                layer["operators." + k] = max(layer["operators." + k], v)
            else:
                layer["operators." + k] += v
        node_ms: dict[str, float] = defaultdict(float)
        for node in nodes:
            m = node["metrics"]
            name = node["name"]
            if name.startswith("Scan"):
                layer["sources.scan_rows"] += m.get("number of output rows", (0, 0))[1]
                layer["sources.scan_bytes"] += m.get("size of files read", (0, 0))[1]
                files = m.get("number of files read", (0, 0))[1]
                layer["sources.files_read"] += files
                static = m.get("static number of files read", (0, files))[1]
                layer["sources.files_pruned"] += max(0.0, static - files)
            if any(w in name for w in PYTHON_NODE_WORDS):
                for mname, (mtype, v) in m.items():
                    if mtype in ("timing", "nsTiming"):
                        key = "arrow_worker_start_ms" if "start" in mname or "init" in mname else "arrow_ms"
                        layer["operators." + key] += v
                    elif "sent" in mname:
                        layer["operators.arrow_bytes_sent"] += v
            node_ms[name] += sum(v for t, v in m.values() if t in ("timing", "nsTiming"))
        top = sorted(node_ms.items(), key=lambda kv: -kv[1])[:5]
        per_op.setdefault(op.name, []).append({
            "ms": round((t3 - t0) * 1000, 1),
            "jobs": int(stages.get("jobs", 0)),
            "stages": int(stages.get("stages", 0)),
            "stages_skipped": int(stages.get("stages_skipped", 0)),
            "scan_bytes": sum(n["metrics"].get("size of files read", (0, 0))[1]
                              for n in nodes if n["name"].startswith("Scan")),
            "top_nodes": [[n, round(v, 1)] for n, v in top],
        })
        if op.store:
            after = _files(op.store)
            new = [p for p, size in after.items() if before.get(p) != size]
            written = sum(after[p] for p in new)
            if op.layer == "streaming.merge_table_ms":
                layer["streaming.merge_commits"] += 1
                layer["streaming.bytes_written_per_commit"] += written
                layer["streaming.files_written_per_commit"] += len(new)
            elif op.kind == "maintain":
                layer["operators.bytes_rewritten"] += written
        return t3 - t0

    # -- the run ---------------------------------------------------------------
    def run(self) -> dict:
        pid = os.getpid()
        t_start = time.perf_counter()
        sampler = proctree.RssSampler(pid) if self.trace else contextlib.nullcontext()
        with sampler:
            self.spark = self.box.start_session()
            work = os.path.join(self.box.dir, "work")
            self.workload = WORKLOADS[self.workload_name](
                self.spark, self.box.data_dir, work, self.seed)
            t_fx = time.perf_counter()
            self.workload.setup()
            fixture_build_s = time.perf_counter() - t_fx

            t_warm = time.perf_counter()
            results = {op.name: self._checked(op) for op in self.workload.new_pass()}
            warm_pass_s = time.perf_counter() - t_warm
            setup_s = time.perf_counter() - t_start
            rows_out = {n: len(r[1]) for n, r in results.items() if r is not None}
            if not self.failures:
                self.failures += self.workload.check(results, load_digests())

            self.status = StatusReader(self.spark)
            samples: list[tuple[Op, float]] = []
            pass_s: list[float] = []
            pass_cpu_s: list[float] = []
            pass_jit_s: list[float] = []
            pass_work: list[dict] = []
            traced_pass_s: list[float] = []
            layers: list[dict] = []
            per_op: dict = {}
            t_window = time.perf_counter()
            while True:
                t_pass = time.perf_counter()
                ops = self.workload.new_pass()
                n_passes = len(pass_s) + len(traced_pass_s)
                traced = self.trace and TRACE_PATTERN[n_passes % len(TRACE_PATTERN)]
                layer: dict = defaultdict(float)
                total = 0.0
                self.pass_groups: list[str] = []
                cpu0, jit0 = proctree.cpu_seconds(pid), proctree.jit_cpu_seconds(pid)
                for op in ops:
                    dt = self._traced(op, layer, per_op) if traced else self._timed(op)
                    if dt is not None:
                        total += dt
                        if not traced:
                            samples.append((op, dt))
                if traced:
                    self._store_stats(layer)
                    traced_pass_s.append(total)
                    layers.append(layer)
                else:
                    jit = proctree.jit_cpu_seconds(pid) - jit0
                    pass_cpu_s.append(proctree.cpu_seconds(pid) - cpu0 - jit)
                    pass_jit_s.append(jit)
                    pass_s.append(total)
                    # after the CPU reading: the status-store reads are not the pass's work
                    self.status.settle()
                    pass_work.append(self.status.stages(
                        [j for g in self.pass_groups for j in self.status.job_ids(g)]))
                n_passes = len(pass_s) + len(traced_pass_s)
                now = time.perf_counter()
                # a traced run needs one untraced and one traced pass; it
                # finishes the pattern only if another pass fits its budget
                if self.trace and n_passes >= 2 and now - t_start + (now - t_pass) > RUN_BUDGET_S:
                    break
                min_passes = len(TRACE_PATTERN) if self.trace else 1
                if n_passes >= min_passes and now - t_window >= self.seconds:
                    break

        print(f"{self.workload_name}: {len(pass_s)} untraced passes, "
              f"{len(samples)} op samples; per pass: wall "
              + " ".join(f"{s:.2f}" for s in pass_s) + ", cpu "
              + " ".join(f"{s:.2f}" for s in pass_cpu_s) + ", jit "
              + " ".join(f"{s:.2f}" for s in pass_jit_s))
        for f in self.failures:
            print(f"FAILED {f}", file=sys.stderr)
        metrics = {
            "setup_s": (setup_s, "s"),
            "jobs": (statistics.median(w.get("jobs", 0.0) for w in pass_work), "count"),
            "shuffle_mb": (statistics.median(
                w.get("shuffle_write_bytes", 0.0) for w in pass_work) / 1e6, "MB"),
        }
        if self.trace:
            metrics = self._layer_metrics(
                layers, samples, len(pass_s), statistics.median(pass_s),
                statistics.median(traced_pass_s),
                fixture_build_s, warm_pass_s, rows_out)
            metrics["session.cpu_s"] = (statistics.median(pass_cpu_s), "s")
            metrics["session.jit_cpu_s"] = (statistics.median(pass_jit_s), "s")
            metrics["session.peak_rss_mb"] = (sampler.peak / 2**20, "MB")
            print(json.dumps({"per_op": per_op}, sort_keys=True))
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _store_stats(self, layer: dict) -> None:
        stores = self.workload.stores()
        if not stores:
            return
        from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

        (gold,) = stores
        st = strm.merge_table_stats(gold)
        for k in ("live_files", "debris_versions", "commit_deltas"):
            layer["streaming." + k] = st[k]
        live = strm.read_merged(self.spark, gold)
        plain = os.path.join(self.box.tmp, "plain_rows")
        live.drop(*[c for c in live.columns if c.startswith("__")]).write.mode(
            "overwrite").parquet(plain)
        user_bytes = sum(_files(plain).values())
        layer["streaming.stored_bytes_per_user_byte"] = sum(_files(gold).values()) / user_bytes

    def _layer_metrics(self, layers, samples, n_untraced, untraced, traced,
                       fixture_build_s, warm_pass_s, rows_out) -> dict:
        mean = {k: statistics.fmean(l.get(k, 0.0) for l in layers)
                for k in set().union(*layers)}
        out: dict = {}

        def put(name, value, unit):
            out[name] = (float(value), unit)

        put("session.start_s", self.box.session_start_s, "s")
        put("session.fixture_build_s", fixture_build_s, "s")
        put("session.warm_pass_s", warm_pass_s, "s")
        for name, unit in LAYER_UNITS.items():
            if name not in out:
                put(name, mean.get(name, 0.0), unit)
        commits = mean.get("streaming.merge_commits", 0.0)
        if commits:
            put("streaming.bytes_written_per_commit",
                mean["streaming.bytes_written_per_commit"] / commits, "bytes")
            put("streaming.files_written_per_commit",
                mean["streaming.files_written_per_commit"] / commits, "count")
        row_total = sum(rows_out.values())
        put("sources.rows_scanned_per_row_out",
            mean.get("sources.scan_rows", 0.0) / row_total if row_total else 0.0, "ratio")
        op_ms = sum(mean.get(k, 0.0) for k in LATENCY_LAYERS)
        put("operators.slot_busy_pct",
            100 * mean.get("operators.task_run_ms", 0.0) / (op_ms * cores())
            if op_ms else 0.0, "%")
        put("ops.p50_s", statistics.median(dt for _, dt in samples), "s")
        put("ops.max_s", max(dt for _, dt in samples), "s")
        by_kind = defaultdict(list)
        for op, dt in samples:
            by_kind[op.kind].append(dt)
        put("ops.commit_p50_s", statistics.median(by_kind["commit"]) if by_kind["commit"] else 0.0, "s")
        put("ops.commit_max_s", max(by_kind["commit"], default=0.0), "s")
        put("ops.read_p50_s", statistics.median(by_kind["read"]) if by_kind["read"] else 0.0, "s")
        put("ops.maintain_s", sum(by_kind["maintain"]) / n_untraced, "s")
        put("trace.untraced_pass_s", untraced, "s")
        put("trace.traced_pass_s", traced, "s")
        put("trace.overhead_pct", 100 * (traced - untraced) / untraced, "%")
        return out


# Per-layer metrics reported by the traced run, with units. Latency layers are
# milliseconds per pass; counts and bytes are per pass unless named otherwise.
LATENCY_LAYERS = [
    "plans.registry_ms", "streaming.merge_table_ms", "streaming.read_merged_ms",
    "streaming.read_commit_changes_ms", "streaming.optimize_ms",
    "streaming.vacuum_ms",
]
LAYER_UNITS = {
    "session.start_s": "s", "session.fixture_build_s": "s", "session.warm_pass_s": "s",
    "session.peak_rss_mb": "MB", "session.cpu_s": "s", "session.jit_cpu_s": "s",
    "plans.build_ms": "ms", "plans.build_jobs": "count", "plans.compile_ms": "ms",
    "plans.plan_nodes": "count",
    "sources.scan_bytes": "bytes", "sources.scan_rows": "count",
    "sources.rows_scanned_per_row_out": "ratio", "sources.files_read": "count",
    "sources.files_pruned": "count",
    "operators.jobs": "count", "operators.stages": "count",
    "operators.stages_skipped": "count", "operators.tasks": "count",
    "operators.task_run_ms": "ms", "operators.task_cpu_ms": "ms", "operators.gc_ms": "ms",
    "operators.slot_busy_pct": "%", "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes", "operators.spill_bytes": "bytes",
    "operators.peak_exec_mem_bytes": "bytes", "operators.arrow_ms": "ms",
    "operators.arrow_worker_start_ms": "ms", "operators.arrow_bytes_sent": "bytes",
    "operators.failed_tasks": "count", "operators.stage_retries": "count",
    "streaming.bytes_written_per_commit": "bytes",
    "streaming.files_written_per_commit": "count",
    "streaming.live_files": "count", "streaming.debris_versions": "count",
    "streaming.commit_deltas": "count", "streaming.stored_bytes_per_user_byte": "ratio",
    "operators.bytes_rewritten": "bytes",
    **{name: "ms" for name in LATENCY_LAYERS},
    "ops.p50_s": "s", "ops.max_s": "s", "ops.commit_p50_s": "s", "ops.commit_max_s": "s", "ops.read_p50_s": "s",
    "ops.maintain_s": "s",
    "trace.untraced_pass_s": "s", "trace.traced_pass_s": "s", "trace.overhead_pct": "%",
}
