"""X-9: Structured Streaming ingestion of the events stream (SURVEY.md §2.9).

readStream → event-time transformations → writeStream, with:
- watermarked tumbling-window aggregation (late data dropped past watermark),
- session windows (F.session_window, 30-min gap),
- foreachBatch MERGE upsert — the streaming twin of SNK-4 (reference
  load.py:128-154): each micro-batch merges into a keyed gold table.

Tests/queries drive these with Trigger.AvailableNow over the static parquet —
one deterministic replay of the whole file — so results are comparable to the
batch oracle. In production the same code tails a directory/Kafka source.

Scale: state store holds one entry per open window/key; watermark bounds
state; foreachBatch merge shuffles only the micro-batch keys.

The merge table: a minimal manifest-committed table format in plain
parquet — what Delta/Iceberg provide, reduced to what the bucketed MERGE
needs. Layout under the table dir:

  _MANIFEST.json            the commit point: {"buckets": {"<bucket>":
                            "store/<bucket>/<version>"}, "params",
                            "schema", "commit", and the per-bucket
                            "stats", "nullstats" and "filestats"}
  store/<bucket>/<version>/ one immutable parquet dir per bucket version
                            (__bucket is a DATA column, so reads need no
                            partition discovery)
  .staging/<version>/       in-flight output, invisible to readers
  changes/<commit>/         each commit's record and change rows
  _snapshots/<tag>.json     pinned manifests (snapshot_merge_table)

Readers go through read_merged (manifest -> union of committed bucket
dirs); nothing under store/ is ever mutated in place. All bookkeeping I/O
goes through a pluggable MergeFS (streaming/fs.py); row data is written
and read by Spark through its own Hadoop FS.

Commit protocol. Every manifest writer — merge_table,
delete_from_merge_table, optimize_merge_table, rebucket_merge_table,
rollback_merge_table and adopt_table_params — reads state, stages
buckets and calls ``_commit``:

1. Lease. The writer runs in ``streaming.fs.leased`` on the table dir, so
   a second writer gets ConcurrentWriterError; a heartbeat keeps the
   lease alive through long bodies.
2. Read. ``_load_manifest_cas`` reads the manifest and, on a store with
   the CAS capability, the generation (etag) it was read at.
3. Stage. New bucket versions are written under ``.staging/`` and moved
   to ``store/<bucket>/<version>`` (a move may be copy+delete). Nothing is
   visible until a manifest names it.
4. Commit. ``_commit`` writes the commit record and change rows under
   ``changes/<commit>/``, applies the staged versions and their
   stats/nullstats/filestats entries to the manifest, and makes ONE put
   (``_put_manifest_conditional``): conditional on the generation read in
   step 2 on a CAS store, an atomic overwrite elsewhere. That put is the
   whole commit: a crash anywhere before it leaves every reader on the
   previous state. A writer that loses the CAS race raises
   ConcurrentWriterError having committed nothing — except merge, which
   rebases when the winner touched none of its buckets and changed
   neither params, schema nor gc_epoch.
5. Clean up. Superseded versions that no snapshot pins are removed, then
   the staging dir. Both are best-effort: vacuum_merge_table reclaims
   whatever a crash leaves.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.sources import merge as merge_mod
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as merge_fs


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the events parquet, ``ts`` normalized to
    TIMESTAMP — same read path as sources.io.load_events.

    readStream needs an explicit schema; the events ``ts`` column surfaces
    as long-ns or TIMESTAMP_NTZ depending on its parquet unit and the Spark
    version, so take the schema from the batch read instead of hardcoding
    either representation. That read goes through
    ``sources.io.read_parquet``: one footer job per file identity per
    session, so a rewritten events file streams with its new schema."""
    import os

    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src_io

    path = os.path.join(sf_dir, "events.parquet")
    schema = src_io.read_parquet(spark, path).schema
    # layout probe through Spark's own Hadoop FS, not os.path (r11 — the
    # bpe_load lesson from ADVICE r10: on s3://|hdfs:// a local isdir is
    # always False, and the else-branch's pathGlobFilter would silently
    # stream NOTHING from a directory layout — the exact r10 sf1 bug, but
    # remote)
    if src_io.file_status(spark, path).isDirectory():
        # the production layout: events.parquet IS a directory of part
        # files — stream it directly. (The pathGlobFilter trick below
        # would match only leaf files literally NAMED events.parquet and
        # silently stream nothing — observed r10 on the sf1 scale point.)
        raw = spark.readStream.schema(schema).format("parquet").load(path)
    else:
        # driver testdata layout: events.parquet is a single FILE; the
        # file source needs a directory, so load the parent dir filtered
        # to that leaf name
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
    return src_io.normalize_event_ts(raw)


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling event-time aggregation."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "value_sum")
    )


def session_aggregation(events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Session windows per user (gap-based), the stateful-streaming surface."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("value_sum"),
        )
        .select("user_id", "session_start", "n_events", "value_sum")
    )


def start_to_table(
    spark: SparkSession,
    sdf: DataFrame,
    mode: str = "complete",
    state_partitions: int | None = 8,
):
    """Start an AvailableNow drain into an in-memory sink WITHOUT blocking.
    Returns (query, table_name); await the query, then read the table.
    Multiple streams started this way run concurrently in one session (each
    has its own checkpoint + query name) — composites that replay several
    streams pay max(stream time), not the sum.

    ``state_partitions`` sizes the stream's STATE partitioning (the stream
    snapshots ``spark.sql.shuffle.partitions`` at start and pins it in the
    checkpoint). State partitioning should track expected state volume, not
    the session's batch shuffle sizing: every stateful operator pays a
    per-partition state-store open/commit on every micro-batch, so
    over-partitioned state is pure overhead (32 -> 8 partitions cut a
    bounded-replay interval join from 6.9 s to 2.4 s at sf0.1). The default
    suits the bounded replay/bench surface; production streams with large
    keyspaces pass None to inherit the cluster-sized session conf."""
    name = "strm_" + uuid.uuid4().hex[:12]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", merge_fs.scratch("ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return q, name


def run_to_table(
    spark: SparkSession,
    sdf: DataFrame,
    mode: str = "complete",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Drain the stream with Trigger.AvailableNow into an in-memory sink and
    return the final static result."""
    q, name = start_to_table(spark, sdf, mode, state_partitions)
    q.awaitTermination()
    return spark.table(name)


_MANIFEST = "_MANIFEST.json"

# test hook (crash injection): called after each staged bucket dir is moved
# into store/, BEFORE the manifest swap — lets tests kill the commit between
# bucket moves and assert readers still see only the previous batch.
_after_bucket_move_hook = None


def _manifest_path(target: str) -> str:
    import os

    return os.path.join(target, _MANIFEST)


def _load_manifest(target: str, fs: merge_fs.MergeFS = merge_fs.LOCAL_FS) -> dict | None:
    """None => table does not exist yet (first batch). A PRESENT but
    unreadable/corrupt manifest raises — the micro-batch must abort (and be
    retried by foreachBatch), never be mistaken for an empty table: that
    mistake would commit batch-only rows over the touched buckets."""
    import json

    path = _manifest_path(target)
    if not fs.exists(path):
        return None
    m = json.loads(fs.read_bytes(path).decode())
    if "buckets" not in m or not isinstance(m["buckets"], dict):
        raise ValueError(f"corrupt merge manifest at {path}: {m!r}")
    return m


def _load_manifest_cas(
    target: str, fs: merge_fs.MergeFS
) -> tuple[dict | None, str | None]:
    """_load_manifest plus the CAS generation it was read at: on a store
    with the CAS capability returns (manifest, etag), so the writer's
    commit can be conditional on that generation; elsewhere (or when the
    table does not exist yet) the etag is None. Step 2 of the commit
    protocol (module docstring)."""
    import json

    if getattr(fs, "supports_cas", False):
        try:
            raw, etag = fs.read_with_etag(_manifest_path(target))
        except FileNotFoundError:
            return None, None
        m = json.loads(raw.decode())
        if "buckets" not in m or not isinstance(m["buckets"], dict):
            raise ValueError(
                f"corrupt merge manifest at {_manifest_path(target)}: {m!r}"
            )
        return m, etag
    return _load_manifest(target, fs), None


def _put_manifest_conditional(
    target: str, fs: merge_fs.MergeFS, manifest: dict, etag: str | None
) -> bool:
    """The one manifest put every commit (and vacuum's gc_epoch bump) makes.
    On a CAS store it is conditional on the generation ``etag`` that
    _load_manifest_cas returned (create-if-absent when None: a first
    commit); elsewhere it is an atomic overwrite. Returns whether the put
    landed — False means another writer committed since the read."""
    import json

    data = json.dumps(manifest).encode()
    path = _manifest_path(target)
    if not getattr(fs, "supports_cas", False):
        fs.put_atomic(path, data)
        return True
    if etag is None:
        return fs.put_if_absent(path, data)
    return fs.put_if_match(path, data, etag)


def _commit(
    target: str,
    fs: merge_fs.MergeFS,
    op: str,
    base: dict,
    etag: str | None,
    *,
    read: dict | None = None,
    staged: dict[str, str] | None = None,
    staging: str | None = None,
    dropped=(),
    entries: dict[str, dict] | None = None,
    fields: dict | None = None,
    record: bool = True,
    changes: DataFrame | None = None,
    captured: bool = True,
) -> dict:
    """Steps 4 and 5 of the commit protocol (module docstring), shared by
    every manifest writer. ``read`` is the manifest the writer read at
    ``etag`` and ``base`` the one the commit applies to (the same unless
    given: rollback applies to the snapshot it restores, rebucket to a
    fresh bucket map). The committed manifest is ``base`` with:

    - a new commit whose parent is ``read``'s, when ``record``; its record
      and ``changes`` are written first (_write_commit_delta, kind ``op``);
    - the ``dropped`` buckets removed, then the ``staged`` versions set;
    - for every touched (dropped or staged) bucket and every kind in
      ``entries`` (``stats``, ``nullstats``, ``filestats``), the bucket's
      entry taken from ``entries[kind]`` or removed when it has none
      there; other kinds keep their entries, except that a bucket leaving
      the manifest loses all of them;
    - ``fields`` set last.

    A lost CAS race raises ConcurrentWriterError; only ``op == "merge"``
    rebases first. After the put, the touched buckets' versions that
    ``read`` named and the new manifest does not are removed unless a
    snapshot pins them, then ``staging``. Returns the committed manifest."""
    import json
    import os

    read = base if read is None else read
    staged = staged or {}
    dropped = [str(b) for b in dropped]
    touched = list(dict.fromkeys([*dropped, *staged]))
    cid = uuid.uuid4().hex[:12]
    rec = _write_commit_delta(
        target, cid, (read.get("commit") or {}).get("id"), changes, fs,
        kind=op, captured=captured,
    ) if record else None

    def _apply(onto: dict, parent: str | None) -> dict:
        m = dict(onto)
        if record:
            m["commit"] = {"id": cid, "parent": parent}
        buckets = dict(onto["buckets"])
        for b in dropped:
            buckets.pop(b, None)
        buckets.update(staged)
        m["buckets"] = buckets
        for kind in ("stats", "nullstats", "filestats"):
            ent = dict(m.get(kind) or {})
            upd = (entries or {}).get(kind)
            for b in touched:
                if upd is not None and b in upd and b in buckets:
                    ent[b] = upd[b]
                elif upd is not None or b not in buckets:
                    ent.pop(b, None)
            if ent:
                m[kind] = ent
            else:
                m.pop(kind, None)
        m.update(fields or {})
        return m

    manifest = _apply(base, (read.get("commit") or {}).get("id"))
    committed = _put_manifest_conditional(target, fs, manifest, etag)
    # Disjoint-bucket rebase, merge only: if the writer that won touched
    # none of our buckets and kept params and schema, our staged versions
    # and captured delta are as valid on its head as on ours, so re-parent
    # the commit there and retry (concurrent writers to disjoint key
    # ranges both land). Each retry is driver-side JSON I/O only.
    rebases = 5 if op == "merge" and etag is not None else 0
    while not committed and rebases:
        rebases -= 1
        theirs, etag = _load_manifest_cas(target, fs)
        if theirs is None or (
            theirs.get("params") != base.get("params")
            or theirs.get("schema") != base.get("schema")
            or any(theirs["buckets"].get(b) != base["buckets"].get(b) for b in staged)
        ):
            break
        # a gc_epoch change means a vacuum ran since our read; its reclaim
        # scan may already hold our staged versions as debris, so
        # re-pointing at them could commit deleted files
        if int(theirs.get("gc_epoch", 0)) != int(base.get("gc_epoch", 0)):
            raise merge_fs.ConcurrentWriterError(
                f"a concurrent vacuum at {target} bumped the gc_epoch "
                "between this merge's read and its commit — its reclaim "
                "scan may already hold this merge's staged versions as "
                "debris, so rebasing onto the bumped generation is unsafe. "
                "The merge committed NOTHING; re-run it against the new "
                "state."
            )
        # manifests from before gc_epoch: a committed manifest must never
        # name deleted files, so check the staged versions still exist
        missing = [
            rel for rel in staged.values()
            if not fs.isdir(os.path.join(target, rel))
        ]
        if missing:
            raise merge_fs.ConcurrentWriterError(
                f"a concurrent vacuum at {target} reclaimed this merge's "
                f"staged bucket versions ({missing}) before its commit "
                "landed — the merge committed NOTHING; re-run it, and give "
                "vacuum a nonzero staged_grace_sec when writers may be in "
                "flight"
            )
        parent = (theirs.get("commit") or {}).get("id")
        rec = {**rec, "parent": parent, "ts": _commit_now()}
        fs.put_atomic(
            os.path.join(target, _CHANGES_DIR, cid, "_commit.json"),
            json.dumps(rec).encode(),
        )
        manifest = _apply(theirs, parent)
        committed = _put_manifest_conditional(target, fs, manifest, etag)
    if not committed:
        raise merge_fs.ConcurrentWriterError(
            f"manifest at {target} changed between this {op}'s read and "
            "its commit — another writer raced past the lease (expired TTL "
            "or lease-free deployment) and committed first"
            + (" to one of its buckets, or changed params or schema"
               if op == "merge" else "")
            + f". This {op} committed NOTHING (staged work, if any, is "
            "invisible debris the next vacuum reclaims) — re-run it "
            "against the new state."
        )
    if staging is not None:
        pinned = _pinned_rels(target, fs)
        for b in touched:
            rel = read["buckets"].get(b)
            if (
                rel and rel != manifest["buckets"].get(b)
                and os.path.normpath(rel) not in pinned
            ):
                fs.rmtree(os.path.join(target, rel))
        fs.rmtree(staging)
    return manifest


_SNAPSHOT_DIR = "_snapshots"


def _snapshot_path(target: str, tag: str) -> str:
    import os

    if not tag or "/" in tag or "\\" in tag or tag.startswith("."):
        raise ValueError(f"invalid snapshot tag {tag!r}")
    return os.path.join(target, _SNAPSHOT_DIR, tag + ".json")


def _load_snapshot(
    target: str, tag: str, fs: merge_fs.MergeFS = merge_fs.LOCAL_FS
) -> dict:
    import json

    path = _snapshot_path(target, tag)
    if not fs.exists(path):
        raise ValueError(f"no snapshot {tag!r} at {target}")
    m = json.loads(fs.read_bytes(path).decode())
    if "buckets" not in m or not isinstance(m["buckets"], dict):
        raise ValueError(f"corrupt snapshot at {path}: {m!r}")
    return m


def _same_state_modulo_versions(a: dict, b: dict) -> bool:
    """Whether two manifests describe the same table state up to bucket
    VERSION paths: identical bucket keysets, params, and schema. This is
    the replay-re-pin test (ADVICE r7): a replayed merge re-stages the
    identical rows under fresh version uuids, so pointer equality is too
    strict — but a replay can never change WHICH buckets are committed,
    the pinned params, or the schema, so structural equality is the
    discriminator between a replay and genuine tag misuse. (Row-level
    equality under different pointers is not checkable without reading
    data; structural match + the at-least-once replay contract is the
    documented trust boundary.)"""
    return (
        set(a["buckets"]) == set(b["buckets"])
        and a.get("params") == b.get("params")
        and a.get("schema") == b.get("schema")
    )


def _load_snapshot_if_exists(
    target: str, tag: str, fs: merge_fs.MergeFS = merge_fs.LOCAL_FS
) -> dict | None:
    """Tolerant twin of _load_snapshot for enumeration loops (ADVICE r7):
    drop_snapshot is deliberately lease-free, so a tag listed a moment ago
    may be gone by the time it is read — vacuum/stats/GC pin collection must
    SKIP a vanished tag (its pins are released; sparing nothing for it is
    exactly right), not crash mid-deletion. A present-but-CORRUPT snapshot
    still raises — that is damage, not a race."""
    try:
        return _load_snapshot(target, tag, fs)
    except (ValueError, FileNotFoundError) as e:
        # _load_snapshot raises ValueError("no snapshot ...") when the file
        # is absent; FileNotFoundError covers the exists()->read race.
        if isinstance(e, ValueError) and "no snapshot" not in str(e):
            raise  # corrupt content, not a concurrent drop
        return None


def snapshot_merge_table(
    target: str,
    tag: str,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
    lease_owner: str | None = None,
    if_exists: str = "error",
) -> dict:
    """Pin the CURRENT committed state of a merge gold table under an
    immutable named snapshot — data versioning for reproducibility: a
    training run snapshots the corpus state it read, and that exact state
    stays readable (``read_merged(..., snapshot=tag)``) and
    vacuum-protected no matter how many merges land afterwards. The
    snapshot is one tiny manifest copy (bucket-version POINTERS, no data
    copied — store/ versions are immutable by the commit protocol).
    Created with put_if_absent: tags are create-once. Collision handling
    is declared by the CALLER via ``if_exists``, because a stored tag
    whose content differs from the current manifest is ambiguous — it can
    be an at-least-once REPLAY (expected, must converge) or tag MISUSE
    (must fail loudly), and no structural comparison can tell a replayed
    merge from a genuinely advanced state with the same bucket layout:

    - ``if_exists='error'`` (default, for human/run tags): re-pinning a
      tag whose stored content EQUALS the current manifest is an
      idempotent no-op (a pin-only replay is provably the same state);
      anything else raises.
    - ``if_exists='return_existing'`` (for foreachBatch batch_id-derived
      tags): the FIRST pin is authoritative — it is the state the
      consumer read — and is returned unchanged. This is the replay-safe
      mode for merge-then-pin compositions: a replayed batch re-merges
      the same rows under FRESH version uuids before the re-pin runs, so
      the current manifest's bucket pointers legitimately differ from the
      stored snapshot; the stored snapshot's versions still exist because
      the replay's GC spares snapshot-pinned versions. A stored tag that
      differs STRUCTURALLY (bucket keyset / params / schema — a different
      table generation) still raises: no replay can change those.

    Runs in the table's leased section: it pins versions against the GC
    that merge/rebucket/vacuum run, and a lease-free snapshot could read
    the pre-commit manifest, lose the race to a rebucket's
    whole-generation GC, and pin bucket paths that no longer exist.
    (drop_snapshot stays lease-free: releasing a pin mid-GC only makes the
    GC spare too much, never delete too much.) Returns the pinned
    manifest."""
    import json

    if if_exists not in ("error", "return_existing"):
        raise ValueError(f"if_exists must be 'error' or 'return_existing', got {if_exists!r}")
    with merge_fs.leased(fs, target, lease_owner):
        manifest = _load_manifest(target, fs)
        if manifest is None:
            raise ValueError(f"no committed state to snapshot at {target}")
        if fs.put_if_absent(
            _snapshot_path(target, tag), json.dumps(manifest).encode()
        ):
            return manifest
        stored = _load_snapshot(target, tag, fs)
        if stored == manifest:
            return manifest  # idempotent pin-only replay
        if if_exists == "error":
            raise ValueError(
                f"snapshot {tag!r} already exists at {target} with "
                "different content"
            )
        if not _same_state_modulo_versions(stored, manifest):
            raise ValueError(
                f"snapshot {tag!r} at {target} pins a structurally "
                "different table generation (buckets/params/schema "
                "differ) — tag collision, not a replay re-pin"
            )
        # lineage check: on a mature table whose bucket keyset has
        # saturated, the structural comparison is nearly always true, so
        # REQUIRE the stored pin's commit to be an ancestor of (or equal
        # to) the current head — true for every genuine merge-then-pin
        # replay (the replay's re-merge chains ON TOP of the original
        # pin), false for accidental tag reuse against an unrelated
        # lineage. Unknowable (states from before the commit log, or the
        # chain records aged out under changes_keep) falls back to the
        # structural verdict alone.
        stored_cid = (stored.get("commit") or {}).get("id")
        cur_cid = (manifest.get("commit") or {}).get("id")
        if stored_cid and cur_cid:
            if _is_ancestor(target, fs, stored_cid, cur_cid) is False:
                raise ValueError(
                    f"snapshot {tag!r} at {target} pins commit "
                    f"{stored_cid} which is NOT an ancestor of the "
                    f"current head {cur_cid} — tag reuse against a "
                    "divergent lineage, not a replay re-pin"
                )
        return stored  # merge-then-pin replay: first pin is authoritative


def list_snapshots(
    target: str, fs: merge_fs.MergeFS = merge_fs.LOCAL_FS
) -> list[str]:
    """Tags of every retained snapshot, sorted."""
    import os

    d = os.path.join(target, _SNAPSHOT_DIR)
    if not fs.isdir(d):
        return []
    return sorted(
        f[: -len(".json")] for f in fs.listdir(d) if f.endswith(".json")
    )


def drop_snapshot(
    target: str, tag: str, fs: merge_fs.MergeFS = merge_fs.LOCAL_FS
) -> bool:
    """Release a snapshot's pin (its exclusive store versions become
    vacuum-reclaimable debris). Returns whether the tag existed."""
    path = _snapshot_path(target, tag)
    if not fs.exists(path):
        return False
    fs.rmtree(path)
    return True


def rollback_merge_table(
    target: str,
    tag: str,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
    lease_owner: str | None = None,
    spark: SparkSession | None = None,
) -> dict:
    """Atomically restore the table to a snapshot's state: ONE manifest
    put flips every reader to the pinned bucket versions (instant, no data
    movement). The superseded versions become unreferenced and are
    reclaimed by the next vacuum (unless another snapshot retains them).
    A manifest writer (commit protocol: module docstring) with nothing to
    stage. Returns the restored manifest.

    Commit-log continuity: pass ``spark`` and the rollback CAPTURES a
    synthetic delta — the state diff between the rolled-back and restored
    states, the exact rows a CDC consumer must see to converge on the
    restored state — committed as a kind='rollback' entry whose parent is
    the rolled-back head. The restored manifest then carries the NEW
    commit id, so the chain stays walkable across the rollback and
    ``read_commit_changes`` keeps its O(delta) contract precisely when an
    operator is recovering from a bad write. The diff read is O(changed
    buckets) — the buckets the rollback actually rewinds. Without
    ``spark`` the restored manifest keeps the snapshot's own commit id:
    lineage rewinds and read_commit_changes across the rollback fails
    loudly with the documented read_changes fallback. The put is
    conditional on the head the diff was taken against: a commit landing
    in between would make both the delta and the restored state stale."""
    with merge_fs.leased(fs, target, lease_owner):
        snap = _load_snapshot(target, tag, fs)
        current, etag = _load_manifest_cas(target, fs)
        record = (
            spark is not None and current is not None
            and bool((current.get("commit") or {}).get("id"))
        )
        changes = None
        if record:
            params = snap.get("params") or current.get("params")
            keys = params["keys"] if params else ["user_id"]
            changes = _manifest_diff(
                spark, target, current, snap, keys, fs, since=None
            )
        return _commit(
            target, fs, "rollback", snap, etag, read=current,
            record=record, changes=changes,
        )


def _retained_rels(target: str, fs: merge_fs.MergeFS) -> set[str]:
    """Every store version referenced by the CURRENT manifest OR any
    retained snapshot — the ONE definition of 'not debris', shared by
    vacuum_merge_table and merge_table_stats. A snapshot dropped between
    the listing and its read is skipped: its pins were just released, so
    sparing nothing for it is correct, and a lease-free drop_snapshot must
    not crash a running vacuum or stats read."""
    manifest = _load_manifest(target, fs)
    refs = _referenced_rels(manifest) if manifest is not None else set()
    return refs | _pinned_rels(target, fs)


def _pinned_rels(target: str, fs: merge_fs.MergeFS) -> set[str]:
    """Store versions pinned by any retained snapshot — what the
    post-commit GC in _commit must spare. Tags dropped concurrently are
    skipped (drop_snapshot is lease-free)."""
    pinned: set[str] = set()
    for tag in list_snapshots(target, fs):
        snap = _load_snapshot_if_exists(target, tag, fs)
        if snap is not None:
            pinned |= _referenced_rels(snap)
    return pinned


def _enc_bounds(mn, mx) -> list | None:
    """JSON-safe [min, max(, type-tag)] encoding shared by the per-bucket
    column stats (stats_cols) and the per-file cluster stats (cluster_by).
    None => not a stats-recordable type (the entry is simply not written
    and readers never prune on it)."""
    import datetime as _dt

    if isinstance(mn, _dt.datetime) and isinstance(mx, _dt.datetime):
        return [mn.isoformat(), mx.isoformat(), "ts"]
    if isinstance(mn, _dt.date) and isinstance(mx, _dt.date):
        return [mn.isoformat(), mx.isoformat(), "date"]
    if all(
        isinstance(v, (int, float, str)) and not isinstance(v, bool)
        for v in (mn, mx)
    ):
        return [mn, mx]
    return None


def _range_disjoint(ent: list, lo, hi) -> bool:
    """Whether a recorded [min, max(, tag)] provably misses the closed
    range [lo, hi] (None end = unbounded). False on missing/None bounds or
    incomparable types — never prune on doubt; the row-level filter always
    applies."""
    import datetime as _dt

    mn, mx = ent[0], ent[1]
    if len(ent) == 3 and ent[2] == "ts":
        mn, mx = (
            _dt.datetime.fromisoformat(v) if v is not None else None
            for v in (mn, mx)
        )
    elif len(ent) == 3 and ent[2] == "date":
        mn, mx = (
            _dt.date.fromisoformat(v) if v is not None else None
            for v in (mn, mx)
        )
    try:
        if hi is not None and mn is not None and mn > hi:
            return True
        if lo is not None and mx is not None and mx < lo:
            return True
    except TypeError:
        # incomparable bound types (caller passed a mismatched filter
        # value): never prune on them — only the skip is lost
        return False
    return False


def _bucket_skippable(
    stats: dict, nullstats: dict, b: str, range_filters, null_filters
) -> bool:
    """Whether bucket ``b``'s recorded stats PROVE it matches nothing —
    shared by read_merged's driver-side pruning and
    estimate_merged_rows' cardinality model (r11)."""
    st = stats.get(b)
    if range_filters and st is not None and any(
        c in st and _range_disjoint(st[c], lo, hi)
        for c, (lo, hi) in range_filters.items()
    ):
        return True
    ns = nullstats.get(b)
    if null_filters and ns is not None:
        for c, mode in null_filters.items():
            if c not in ns.get("nulls", {}):
                continue
            n = ns["nulls"][c]
            if mode == "not_null" and n == ns.get("rows"):
                return True  # provably all-null for c
            if mode == "null" and n == 0:
                return True  # provably null-free for c
    return False


def _num(v):
    """Decode a bound to a number for width arithmetic (ts/date -> epoch
    seconds/ordinal days); None for non-numeric types."""
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, _dt.datetime):
        return v.timestamp()
    if isinstance(v, _dt.date):
        return float(v.toordinal())
    return None


def _dec_bounds(ent: list) -> tuple:
    """Decode a recorded [min, max(, tag)] stats entry to comparable
    Python values — ISO-tagged timestamps/dates parse back to their
    datetime types (the _enc_bounds inverse, same decode _range_disjoint
    applies). Review r11: without this, estimate_merged_rows saw ts/date
    bounds as plain ISO STRINGS, `_num` returned None, and event-time
    ranges — the primary skipping use case — always estimated
    selectivity 1.0, so the broadcast hint never fired for them."""
    import datetime as _dt

    mn, mx = ent[0], ent[1]
    if len(ent) == 3 and ent[2] == "ts":
        return tuple(
            _dt.datetime.fromisoformat(v) if v is not None else None
            for v in (mn, mx)
        )
    if len(ent) == 3 and ent[2] == "date":
        return tuple(
            _dt.date.fromisoformat(v) if v is not None else None
            for v in (mn, mx)
        )
    return mn, mx


def estimate_merged_rows(
    target: str,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
    snapshot: str | None = None,
    buckets: list[int] | None = None,
    range_filters: dict[str, tuple] | None = None,
    null_filters: dict[str, str] | None = None,
    _manifest: dict | None = None,
) -> int | None:
    """Estimate the row count a read_merged call with these filters would
    return, from the manifest's recorded per-bucket stats ALONE — pure
    driver-side JSON, no data I/O (r11 — VERDICT r10 item 3: the ndv/row
    stats merge_table records now feed a consumer).

    Per surviving (un-pruned) bucket: its recorded row count scaled by
    the MINIMUM of the per-filter selectivities — never their product
    (r12 — VERDICT r11 nit 3: the independence product under-estimates
    under correlated filters, the one direction that mis-hints a
    broadcast; a conjunction can keep at most what its single most
    selective conjunct keeps, so the min is the distribution-free safe
    bound). Per filter:

    - range filter, point (lo == hi): ``1/ndv`` — the recorded
      approx-distinct is exactly the right statistic for an equality
      probe (uniform-frequency assumption, the textbook cardinality
      model);
    - range filter, interval: overlap fraction of the recorded [min, max]
      span (uniform-distribution assumption; ts/date bounds decode to a
      numeric axis); non-numeric/string spans estimate 1.0 — never
      UNDER-estimate on a type the model can't reason about;
    - null filter: the recorded null fraction, exact.

    Returns None when any surviving bucket lacks recorded row counts
    (legacy table or stats_cols never passed) — an estimate that silently
    ignored unknown buckets could UNDER-estimate and mis-hint a broadcast,
    the one direction that breaks a join at scale (driver OOM), so no
    answer beats a wrong one. DELETEs make recorded counts upper bounds —
    the estimate over-estimates until the next merge refreshes the
    touched buckets, again erring only toward NOT broadcasting.

    ``_manifest``: internal — read_merged passes the manifest it already
    loaded, so the hint decision is computed against the SAME committed
    state the read returns (review r11: a fresh load here could race a
    concurrent commit and hint against different buckets than the scan),
    and the JSON isn't re-read."""
    if _manifest is not None:
        manifest = _manifest
    elif snapshot is not None:
        manifest = _load_snapshot(target, snapshot, fs)
    else:
        manifest = _load_manifest(target, fs)
    if manifest is None:
        return None
    want = None if buckets is None else {str(b) for b in buckets}
    stats = manifest.get("stats") or {}
    nullstats = manifest.get("nullstats") or {}
    total = 0.0
    for b in manifest["buckets"]:
        if want is not None and b not in want:
            continue
        if _bucket_skippable(stats, nullstats, b, range_filters, null_filters):
            continue
        ns = nullstats.get(b)
        if ns is None or "rows" not in ns:
            return None  # un-modelable bucket: no estimate, never a guess
        rows = float(ns["rows"])
        # per-filter selectivities — COMPOSED AS A MIN, not a product
        # (r12 — VERDICT r11 nit 3): the independence product can
        # UNDER-estimate under correlated filters (two correlated
        # 0.1-selectivity ranges -> 0.01 estimated vs 0.1 true), which is
        # the one direction the model promises never to err. A
        # conjunction keeps at most what its single most selective
        # conjunct keeps, regardless of correlation, so min(sels) is the
        # distribution-free bound; it over-estimates under genuine
        # independence, which only withholds a broadcast.
        sels: list[float] = [1.0]
        st = stats.get(b) or {}
        for c, (lo, hi) in (range_filters or {}).items():
            if lo is not None and hi is not None and lo == hi:
                ndv = (ns.get("ndv") or {}).get(c)
                if ndv:
                    sels.append(1.0 / float(ndv))
                continue
            ent = st.get(c)
            if ent is None:
                continue
            dmn, dmx = _dec_bounds(ent)
            mn, mx = _num(dmn), _num(dmx)
            qlo, qhi = _num(lo), _num(hi)
            if mn is None or mx is None or mx <= mn:
                continue  # point span / non-numeric: no claim (>= truth)
            eff_lo = mn if qlo is None else max(mn, qlo)
            eff_hi = mx if qhi is None else min(mx, qhi)
            sels.append(max(0.0, min(1.0, (eff_hi - eff_lo) / (mx - mn))))
        for c, mode in (null_filters or {}).items():
            n = (ns.get("nulls") or {}).get(c)
            if n is None or rows == 0:
                continue
            frac = n / rows
            sels.append((1.0 - frac) if mode == "not_null" else frac)
        total += rows * min(sels)
    import math

    return int(math.ceil(total))


def _side_stats(
    target: str,
    key: str,
    fs: merge_fs.MergeFS,
    snapshot: str | None,
    buckets: list[int] | None,
    range_filters: dict[str, tuple] | None,
    null_filters: dict[str, str] | None,
) -> dict | None:
    """One join side's statistics from its manifest alone (r13 — the
    estimate_join building block): filtered row estimate, ndv of the join
    key summed over surviving buckets, committed bytes-per-row, and the
    bucket-rows skew ratio. None when any surviving bucket lacks the
    recorded rows or key ndv — the same no-guess rule as
    estimate_merged_rows. NDV composition across buckets depends on
    whether ``key`` is the table's (single) merge key: hash-bucketing
    makes per-bucket key sets DISJOINT for the merge key, so their
    recorded ndvs SUM exactly ("ndv_exact": True); any other column can
    repeat a value in every bucket, where the sum is only an upper bound
    and the per-bucket MAX is the provable lower bound — the lower bound
    is what ships as "ndv" there, because a too-small denominator can
    only OVER-estimate join output, the direction that never
    under-provisions a shuffle or mis-hints a broadcast."""
    import os

    if snapshot is not None:
        manifest = _load_snapshot(target, snapshot, fs)
    else:
        manifest = _load_manifest(target, fs)
    if manifest is None:
        return None
    est = estimate_merged_rows(
        target, fs, snapshot, buckets, range_filters, null_filters,
        _manifest=manifest,
    )
    if est is None:
        return None
    want = None if buckets is None else {str(b) for b in buckets}
    stats = manifest.get("stats") or {}
    nullstats = manifest.get("nullstats") or {}
    ndv_sum = 0
    ndv_max = 0
    rows = 0
    nbytes = 0
    bucket_rows: list[int] = []
    for b, rel in manifest["buckets"].items():
        if want is not None and b not in want:
            continue
        if _bucket_skippable(stats, nullstats, b, range_filters, null_filters):
            continue
        ns = nullstats.get(b)
        if ns is None or "rows" not in ns:
            return None
        v = (ns.get("ndv") or {}).get(key)
        if v is None:
            return None  # key not in stats_cols: no ndv model, no guess
        ndv_sum += int(v)
        ndv_max = max(ndv_max, int(v))
        rows += int(ns["rows"])
        bucket_rows.append(int(ns["rows"]))
        d = os.path.join(target, rel)
        try:
            for f in fs.listdir(d):
                if f.endswith(".parquet"):
                    nbytes += fs.size(os.path.join(d, f))
        except FileNotFoundError:
            return None
    if not bucket_rows or rows <= 0:
        return {"rows": 0, "ndv": 0, "bytes": 0, "bytes_per_row": None,
                "ndv_exact": True, "bucket_skew_ratio": 1.0}
    params = manifest.get("params") or {}
    keys = params.get("keys") or []
    exact = keys == [key]
    mean = rows / len(bucket_rows)
    return {
        # the filter-scaled estimate, but ndv/bytes from the full
        # surviving buckets: selectivity applies to rows; ndv after a
        # filter is unknowable from these stats, so the unfiltered ndv is
        # the safe denominator
        "rows": int(est),
        "ndv": ndv_sum if exact else ndv_max,
        "ndv_exact": exact,
        "bytes": nbytes,
        "bytes_per_row": nbytes / rows,
        "bucket_skew_ratio": max(bucket_rows) / mean,
    }


def estimate_join(
    spark: SparkSession,
    fact_target: str,
    dim_target: str,
    key: str,
    how: str = "inner",
    fact_range_filters: dict[str, tuple] | None = None,
    fact_null_filters: dict[str, str] | None = None,
    dim_range_filters: dict[str, tuple] | None = None,
    dim_null_filters: dict[str, str] | None = None,
    fact_snapshot: str | None = None,
    dim_snapshot: str | None = None,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
) -> dict | None:
    """Join OUTPUT cardinality + physical-strategy estimate for two merge
    tables equi-joined on ``key``, from their manifests' recorded
    rows/ndv/bytes ALONE — pure driver-side JSON, no data I/O (r13 —
    VERDICT r12 item 7: the stats model extended from broadcast-or-not to
    join planning). Surfaced to users as
    operators.joins.explain_join_estimate.

    Model (the textbook equi-join estimate under containment-of-values):
    ``|F ⋈ D| = |F| · |D| / max(ndv_F(key), ndv_D(key))`` — the side with
    more distinct keys contains the other's, each matched key carrying
    the other side's average rows-per-key. ``how='left'`` floors the
    estimate at |F| (unmatched fact rows survive). Per-bucket key ndv
    sums exactly when ``key`` is the table's merge key (hash-bucketed →
    disjoint key sets); otherwise the per-bucket MAX (a provable lower
    bound) is used — a too-small denominator only OVER-estimates output,
    the direction that never under-provisions; ``ndv_exact`` flags which
    regime each side's figure is in.

    Strategy recommendation mirrors Spark's own selection logic, applied
    to the MODELED sizes Spark cannot see through filters:

    - ``broadcast``: estimated dim bytes (rows x recorded bytes-per-row)
      fit ``spark.sql.autoBroadcastJoinThreshold``;
    - ``shuffle_hash``: dim fits threshold x shuffle.partitions (Spark's
      canBuildLocalHashMap) AND is ≤ fact/3 (muchSmaller);
    - ``sort_merge`` otherwise.

    Skew surface for salting decisions (operators/skew.py): each side's
    ``rows_per_key`` (rows/ndv — the AVERAGE join-key fan-out, the
    statistic that sizes a salt factor: a fact averaging 1000 rows/key
    needs finer salting than one averaging 10) and ``bucket_skew_ratio``
    (max bucket rows / mean over the merge-key hash buckets). Honest
    limit: per-bucket min/max/ndv/rows cannot see a SINGLE hot key hiding
    inside an otherwise-uniform distribution (the average is unchanged) —
    that residual case is what AQE's runtime skew-join handles; this model
    covers the plan-time decisions stats can actually support.
    Returns None when either side lacks recorded rows or key ndv
    (legacy table, key not in stats_cols) — no answer beats a wrong one,
    exactly the estimate_merged_rows rule."""
    fact = _side_stats(
        fact_target, key, fs, fact_snapshot, None,
        fact_range_filters, fact_null_filters,
    )
    dim = _side_stats(
        dim_target, key, fs, dim_snapshot, None,
        dim_range_filters, dim_null_filters,
    )
    if fact is None or dim is None:
        return None
    if how not in ("inner", "left"):
        raise ValueError(f"estimate_join models inner/left joins, got {how!r}")
    import math

    denom = max(fact["ndv"], dim["ndv"])
    est = (
        0 if denom == 0 else
        int(math.ceil(fact["rows"] * dim["rows"] / denom))
    )
    if how == "left":
        est = max(est, fact["rows"])
    try:
        budget = _parse_byte_conf(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
    except Exception:
        budget = 10 * 1024 * 1024
    try:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n_part = 200
    dim_bytes = (
        dim["rows"] * dim["bytes_per_row"]
        if dim["bytes_per_row"] is not None else None
    )
    fact_bytes = (
        fact["rows"] * fact["bytes_per_row"]
        if fact["bytes_per_row"] is not None else None
    )
    if dim_bytes is not None and budget > 0 and dim_bytes <= budget:
        strategy = "broadcast"
    elif (
        dim_bytes is not None and fact_bytes is not None and budget > 0
        and dim_bytes <= budget * n_part
        and dim_bytes * 3 <= fact_bytes
    ):
        strategy = "shuffle_hash"
    else:
        strategy = "sort_merge"
    return {
        "est_rows": est,
        "how": how,
        "key": key,
        "strategy": strategy,
        "dim_est_bytes": None if dim_bytes is None else int(dim_bytes),
        "fact_est_bytes": None if fact_bytes is None else int(fact_bytes),
        "broadcast_budget_bytes": budget,
        "fact": {
            **fact,
            "rows_per_key": (
                fact["rows"] / fact["ndv"] if fact["ndv"] else None
            ),
        },
        "dim": {
            **dim,
            "rows_per_key": (
                dim["rows"] / dim["ndv"] if dim["ndv"] else None
            ),
        },
    }


def _parse_byte_conf(v) -> int:
    """A Spark size conf value as bytes — plain digits are bytes; the JVM
    suffixes k/m/g/t (optionally with a trailing 'b') scale by 1024. The
    subset Spark itself documents for autoBroadcastJoinThreshold."""
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (("k", 1024), ("m", 1024**2), ("g", 1024**3),
                   ("t", 1024**4), ("p", 1024**5)):
        if s.endswith(suf + "b"):
            mult, s = m, s[:-2]
            break
        if s.endswith(suf):
            mult, s = m, s[:-1]
            break
    else:
        if s.endswith("b"):
            s = s[:-1]
    return int(float(s) * mult)


def _auto_broadcast_threshold_rows(
    spark: SparkSession,
    target: str,
    manifest: dict,
    fs: merge_fs.MergeFS,
    surviving: list[tuple],
) -> int | None:
    """Derive the row-count threshold behind ``broadcast_threshold_rows=
    'auto'`` (r12 — VERDICT r11 item 4): Spark's own broadcast decision is
    ``spark.sql.autoBroadcastJoinThreshold`` against the scan's FILE
    bytes; the manifest model estimates post-filter ROWS — so convert the
    byte budget to rows with the table's own recorded width,
    committed-parquet bytes / recorded rows over the surviving buckets.
    Both sides of the division are the same accounting Spark applies to
    the unfiltered scan, so the derived hint fires exactly when the
    filtered result would have fit Spark's own budget had it been a
    table of its own. None (no auto hint) when the budget is disabled
    (<= 0), no bucket survives, or a surviving bucket lacks recorded
    rows — the same no-guess rule as estimate_merged_rows."""
    import os

    try:
        conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    except Exception:
        conf = "10MB"
    budget = _parse_byte_conf(conf)
    if budget <= 0 or not surviving:
        return None
    nullstats = manifest.get("nullstats") or {}
    rows = 0
    nbytes = 0
    for b, rel in surviving:
        ns = nullstats.get(b)
        if ns is None or "rows" not in ns:
            return None
        rows += int(ns["rows"])
        d = os.path.join(target, rel)
        try:
            for f in fs.listdir(d):
                if f.endswith(".parquet"):
                    nbytes += fs.size(os.path.join(d, f))
        except FileNotFoundError:
            return None
    if rows <= 0 or nbytes <= 0:
        return None
    return int(budget * rows // nbytes)


def read_merged(
    spark: SparkSession,
    target: str,
    buckets: list[int] | None = None,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
    snapshot: str | None = None,
    range_filters: dict[str, tuple] | None = None,
    null_filters: dict[str, str] | None = None,
    broadcast_threshold_rows: int | str | None = None,
):
    """Read the committed state of a merge gold table. ``buckets`` prunes the
    read to those buckets' committed dirs (manifest-level partition pruning —
    the read cost is proportional to the touched buckets, not the table).
    ``snapshot`` reads a PINNED state (snapshot_merge_table) instead of the
    current one — the time-travel read for reproducing a training run.
    Returns None when the table (or every requested bucket) has no committed
    state yet.

    ``range_filters`` (r9 — Delta-style data skipping): ``{col: (lo, hi)}``
    closed-range predicates, None end = unbounded. The filter is ALWAYS
    applied to the returned rows (correctness never depends on stats); in
    addition, buckets whose manifest column stats (merge_table
    ``stats_cols``) prove a disjoint range are pruned DRIVER-SIDE — at
    100 TB the skip saves file listings and footer reads Spark would
    otherwise pay per bucket dir, the manifest-level analog of parquet
    row-group skipping. Buckets without stats for a filtered column are
    always read (legacy tables, post-delete rewrites prune conservatively
    since deletes only narrow a bucket's true range). Null semantics are
    safe by construction: a closed-range predicate never keeps NULLs, and
    stats min/max ignore them, so a pruned bucket cannot hide a kept
    row.

    ``null_filters`` (r10 — VERDICT r9 item 6): ``{col: 'not_null'|'null'}``
    predicates. The filter always applies row-level; in addition buckets
    whose recorded null counts (merge_table ``stats_cols``) prove emptiness
    are pruned — ``'not_null'`` skips all-null buckets (nulls == rows),
    ``'null'`` skips null-free buckets (nulls == 0). Both proofs stay valid
    across DELETEs (row removal can neither create nulls nor un-null a
    value), so deletes keep the counts like the min/max bounds.

    Within every surviving bucket, versions written with merge_table
    ``cluster_by=col`` additionally prune at FILE granularity (r10):
    the manifest records each file's span of the cluster column (files
    are range-disjoint by layout), and only overlapping files are handed
    to Spark — so a range read on a column UNcorrelated with the key
    hash, where bucket min/max can never prune, still skips
    ~(1 - selectivity) of the data. Files whose recorded bounds are null
    (all-null span / unrecordable type) are always read.

    ``broadcast_threshold_rows`` (r11 — VERDICT r10 item 3, the stats
    consumer): when set, the read consults ``estimate_merged_rows`` over
    the same filters and attaches Spark's broadcast hint iff the estimate
    is at or under the threshold. Spark's own static size estimate for a
    parquet scan is the FILE bytes of the surviving paths — it cannot see
    the row-level filter's selectivity, so a narrow range read of a big
    table plans as a sort-merge join even when the filtered result is
    tiny; the manifest's recorded rows/ndv/null-fraction model can. No
    estimate (legacy buckets without stats) or an over-threshold estimate
    leaves the plan untouched — the model only ever errs toward NOT
    broadcasting (see estimate_merged_rows). Pass ``'auto'`` (r12 —
    VERDICT r11 item 4) to derive the threshold from the session's
    ``spark.sql.autoBroadcastJoinThreshold`` and the table's recorded
    bytes-per-row instead of hand-picking a row count — the default the
    join helpers (operators/joins.enrich_with_merged_dim) use."""
    import os

    if snapshot is not None:
        manifest = _load_snapshot(target, snapshot, fs)
    else:
        manifest = _load_manifest(target, fs)
    if manifest is None:
        return None
    want = None if buckets is None else {str(b) for b in buckets}
    stats = manifest.get("stats") or {}
    nullstats = manifest.get("nullstats") or {}
    filestats = manifest.get("filestats") or {}
    if null_filters:
        bad = {m for m in null_filters.values() if m not in ("not_null", "null")}
        if bad:
            raise ValueError(
                f"null_filters values must be 'not_null' or 'null', got {bad}"
            )
    # validate at entry (review r12): any string other than 'auto' — e.g.
    # a byte string like '10MB' that belongs in the session conf — would
    # otherwise survive to a TypeError deep inside the hint comparison
    if broadcast_threshold_rows is not None and not (
        broadcast_threshold_rows == "auto"
        or isinstance(broadcast_threshold_rows, int)
    ):
        raise ValueError(
            "broadcast_threshold_rows must be an int row count, 'auto', or "
            f"None, got {broadcast_threshold_rows!r} (byte sizes belong in "
            "spark.sql.autoBroadcastJoinThreshold, which 'auto' reads)"
        )

    def _skippable(b: str) -> bool:
        return _bucket_skippable(stats, nullstats, b, range_filters, null_filters)

    def _hint(df):
        """broadcast_threshold_rows: attach the broadcast hint iff the
        manifest-stats cardinality model proves the filtered result small
        (never on a missing estimate — see estimate_merged_rows).
        ``'auto'`` (r12 — VERDICT r11 item 4) derives the row threshold
        from spark.sql.autoBroadcastJoinThreshold and the table's own
        recorded bytes-per-row, so callers need no magic number — see
        _auto_broadcast_threshold_rows."""
        if broadcast_threshold_rows is None:
            return df
        thr = broadcast_threshold_rows
        if thr == "auto":
            thr = _auto_broadcast_threshold_rows(
                spark, target, manifest, fs, surviving
            )
            if thr is None:
                return df
        est = estimate_merged_rows(
            target, fs, snapshot, buckets, range_filters, null_filters,
            _manifest=manifest,
        )
        if est is not None and est <= thr:
            return F.broadcast(df)
        return df

    def _bucket_paths(b: str, rel: str) -> list[str]:
        """The bucket's read paths: its version dir, or — when the version
        carries per-FILE cluster stats (merge_table ``cluster_by``) and a
        range filter covers the cluster column — exactly the files whose
        recorded span overlaps the range (r10: file-level skipping, the
        layout-aware half Delta gets from OPTIMIZE ZORDER). The sidecar
        entry names the version rel it describes; a mismatch (a writer
        that updated the bucket without refreshing filestats — none ship,
        but cheap insurance against a manual manifest edit) falls back to
        the whole dir."""
        fst = filestats.get(b)
        if not range_filters or fst is None or fst.get("rel") != rel:
            return [os.path.join(target, rel)]
        if "cols" in fst:  # Z-order layout: bounds entry PER cluster column
            active = [
                (j, *range_filters[c])
                for j, c in enumerate(fst["cols"])
                if c in range_filters
            ]
            if not active:
                return [os.path.join(target, rel)]
            return [
                os.path.join(target, rel, f[0])
                for f in fst["files"]
                if not any(
                    f[1 + j] is not None and _range_disjoint(f[1 + j], lo, hi)
                    for j, lo, hi in active
                )
            ]
        if fst.get("col") not in range_filters:
            return [os.path.join(target, rel)]
        lo, hi = range_filters[fst["col"]]
        return [
            os.path.join(target, rel, f[0])
            for f in fst["files"]
            if f[1] is None or not _range_disjoint(f[1:], lo, hi)
        ]

    surviving = [
        (b, rel)
        for b, rel in sorted(manifest["buckets"].items())
        if (want is None or b in want) and not _skippable(b)
    ]
    paths = [p for b, rel in surviving for p in _bucket_paths(b, rel)]

    def _ranged(df):
        if not range_filters and not null_filters:
            return df
        cond = F.lit(True)
        for c, (lo, hi) in (range_filters or {}).items():
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
        for c, mode in (null_filters or {}).items():
            cond = cond & (
                F.col(c).isNotNull() if mode == "not_null" else F.col(c).isNull()
            )
        return df.filter(cond)

    if not paths:
        if (range_filters or null_filters) and "schema" in manifest and manifest["buckets"]:
            # every bucket skipped: a well-typed EMPTY result, not None
            # (the table exists; the predicate just matches nothing)
            from pyspark.sql.types import StructType

            return _hint(_ranged(
                spark.createDataFrame(
                    [], StructType.fromJson(manifest["schema"])
                )
            ))
        return None
    if "schema" in manifest:
        # schema evolution: the manifest records the table schema AS OF its
        # commit (snapshots pin it too — a time-travel read gets the as-of
        # schema). Reading with the EXPLICIT schema makes buckets whose
        # files predate a later-added column null-fill it by name, without
        # the per-file footer merge of mergeSchema.
        from pyspark.sql.types import StructType

        return _hint(_ranged(
            spark.read.schema(
                StructType.fromJson(manifest["schema"])
            ).parquet(*paths)
        ))
    return _hint(_ranged(spark.read.parquet(*paths)))


def read_changes(
    spark: SparkSession,
    target: str,
    since: str,
    until: str | None = None,
    keys: list[str] | None = None,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
) -> DataFrame:
    """CDC read: every row-level change between two pinned states of the
    merge gold table — snapshot ``since`` → snapshot ``until`` (or the
    CURRENT committed state when ``until`` is None). The incremental-consumer
    primitive (Delta CDF / Iceberg incremental-read shape): a downstream job
    (re-dedup of new documents, feature refresh, index append) processes
    only what changed since the state it last saw, instead of re-scanning
    the table.

    Output = the table's data columns plus ``_change_type`` ∈
    {'insert', 'delete', 'update_preimage', 'update_postimage'} — updates
    emit BOTH images (one join + one explode, no second pass).

    Scale: the two manifests are diffed DRIVER-SIDE first, and only buckets
    whose committed version CHANGED between the two states are read from
    either side — an unchanged bucket's versions are pointer-equal
    (store/ versions are immutable), so its rows provably cannot differ and
    it costs nothing. Diff I/O is O(changed buckets), not O(table); the one
    shuffle is the key-equi full-outer join over those buckets' rows.

    Works in either direction: since=newer/until=older yields the inverse
    diff. Delete records arise from delete_from_merge_table (r8), from
    rollbacks diffed against a later snapshot, and from inverse-direction
    reads."""
    import os

    old_m = _load_snapshot(target, since, fs)
    if until is not None:
        new_m = _load_snapshot(target, until, fs)
    else:
        new_m = _load_manifest(target, fs)
        if new_m is None:
            raise ValueError(f"no committed state at {target}")
    return _manifest_diff(spark, target, old_m, new_m, keys, fs, since)


def _manifest_diff(
    spark: SparkSession,
    target: str,
    old_m: dict,
    new_m: dict,
    keys: list[str] | None,
    fs: merge_fs.MergeFS,
    since: str | None = None,
) -> DataFrame:
    """State-diff core of read_changes over two already-loaded manifests —
    factored out (r9) so rollback_merge_table can capture the synthetic
    rollback delta (old side = the manifest being rolled back, new side =
    the snapshot being restored) without those states both carrying
    snapshot tags."""
    import os

    if keys is None:
        # the until side's recorded params (pre-params manifests are the
        # events gold schema)
        params = new_m.get("params")
        keys = params["keys"] if params else ["user_id"]

    old_b, new_b = old_m["buckets"], new_m["buckets"]
    changed = sorted(
        b for b in set(old_b) | set(new_b) if old_b.get(b) != new_b.get(b)
    )

    def _side(man: dict) -> DataFrame | None:
        paths = [
            os.path.join(target, man["buckets"][b])
            for b in changed
            if b in man["buckets"]
        ]
        if not paths:
            return None
        if "schema" in man:  # each side reads with ITS as-of schema
            from pyspark.sql.types import StructType

            return spark.read.schema(
                StructType.fromJson(man["schema"])
            ).parquet(*paths)
        return spark.read.parquet(*paths)

    old_df, new_df = _side(old_m), _side(new_m)
    if old_df is None and new_df is None:
        # identical manifests — empty diff with the current-state schema
        ref = read_merged(spark, target, fs=fs, snapshot=since)
        base = spark.createDataFrame([], ref.schema)
        old_df = new_df = base
    elif old_df is None:
        old_df = spark.createDataFrame([], new_df.schema)
    elif new_df is None:
        new_df = spark.createDataFrame([], old_df.schema)

    return _change_rows(old_df, new_df, keys)


def _change_rows(old_df: DataFrame, new_df: DataFrame, keys: list[str]) -> DataFrame:
    """The CDC diff core, shared by read_changes (state diff between two
    pinned manifests) and the per-commit delta capture in _merge_locked
    (state diff between a batch's pre- and post-merge touched buckets):
    key-equi full-outer join, one projection emitting insert / delete /
    update pre+post images. __bucket is write-routing metadata, not data —
    kept out of both the change comparison and the output. Schema
    evolution: the output uses the NEW side's schema (Delta-CDF
    convention) — columns it added are typed nulls on the old side,
    columns it dropped are not emitted."""
    new_fields = {f.name: f.dataType for f in new_df.schema.fields}
    old_have = set(old_df.columns)
    old_df = old_df.select(
        *[
            F.col(c) if c in old_have else F.lit(None).cast(t).alias(c)
            for c, t in new_fields.items()
        ]
    )
    data_cols = [c for c in new_df.columns if c != "__bucket"]
    non_keys = [c for c in data_cols if c not in keys]
    # presence markers decide which side a joined row exists on (NOT key
    # nullness — a genuinely-null key would false-read as "absent")
    o = old_df.select(*data_cols).withColumn("__o", F.lit(True)).alias("o")
    n = new_df.select(*data_cols).withColumn("__n", F.lit(True)).alias("n")
    cond = None
    for k in keys:
        eq = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = eq if cond is None else cond & eq
    j = o.join(n, on=cond, how="full_outer")

    def _img(side: str):
        return F.struct(*[F.col(f"{side}.{c}").alias(c) for c in data_cols])

    o_only = F.col("n.__n").isNull()
    n_only = F.col("o.__o").isNull()
    differs = ~F.struct(*[F.col(f"o.{c}") for c in non_keys]).eqNullSafe(
        F.struct(*[F.col(f"n.{c}") for c in non_keys])
    )
    # two candidate change records per joined row; a null _change_type means
    # "not a change from this side" and is filtered before the explode —
    # one join, one projection, updates get both images in a single pass
    candidates = F.array(
        F.struct(
            _img("o").alias("row"),
            F.when(o_only, F.lit("delete"))
            .when(~n_only & differs, F.lit("update_preimage"))
            .alias("_change_type"),
        ),
        F.struct(
            _img("n").alias("row"),
            F.when(n_only, F.lit("insert"))
            .when(~o_only & differs, F.lit("update_postimage"))
            .alias("_change_type"),
        ),
    )
    ex = j.select(
        F.explode(F.filter(candidates, lambda c: c["_change_type"].isNotNull())).alias("c")
    )
    return ex.select(*[F.col(f"c.row.{c}").alias(c) for c in data_cols],
                     F.col("c._change_type").alias("_change_type"))


_CHANGES_DIR = "changes"


def _is_ancestor(
    target: str, fs: merge_fs.MergeFS, ancestor_id: str, tip_id: str
) -> bool | None:
    """Walk the commit chain from ``tip_id`` toward the root: True when
    ``ancestor_id`` is on it, False when the walk completes without
    meeting it, None when the chain cannot be walked that far (records
    vacuumed by changes_keep retention — unknowable, caller decides).
    Driver-side JSON reads only; bounded like read_commit_changes' walk."""
    import json
    import os

    cur = tip_id
    for _ in range(100_000):
        if cur == ancestor_id:
            return True
        if cur is None:
            return False
        path = os.path.join(target, _CHANGES_DIR, cur, "_commit.json")
        try:
            rec = json.loads(fs.read_bytes(path).decode())
        except FileNotFoundError:
            return None
        cur = rec.get("parent")
    return None


def _delta_dir(target: str, cid: str, fs: merge_fs.MergeFS) -> str:
    """The commit's ACTIVE delta directory. Normally ``delta``; after an
    erasure scrub the commit dir carries ``_scrub.json`` naming the
    scrubbed replacement (erasure._scrub_delta's atomic-put pointer swap
    — review r11: the old rmtree+rename republish through the fixed
    ``delta`` path could expose a partially-copied dir on stores with
    non-atomic rename, and a crash between the rmtree and the rename
    lost the delta with the complete scrub sitting unnamed on disk)."""
    import json
    import os

    cdir = os.path.join(target, _CHANGES_DIR, cid)
    try:
        ptr = json.loads(
            fs.read_bytes(os.path.join(cdir, "_scrub.json")).decode()
        )
        return os.path.join(cdir, ptr["delta"])
    except (FileNotFoundError, NotADirectoryError):
        # NotADirectoryError: a stray regular FILE in changes/ (ops
        # artifact) — callers listdir-then-isdir, so returning the
        # default path lets them skip it instead of aborting the walk
        return os.path.join(cdir, "delta")


def _commit_now() -> float:
    """Wall-clock source for commit-record timestamps — a seam so tests
    can simulate clock steps (NTP correction, cross-writer skew) without
    patching the global clock."""
    import time

    return time.time()


def _write_commit_delta(
    target: str,
    commit_id: str,
    parent: str | None,
    changes: DataFrame | None,
    fs: merge_fs.MergeFS,
    kind: str,
    captured: bool = True,
) -> dict:
    """Write a commit's change rows + chain record
    (``changes/<commit_id>/{delta,_commit.json}``), the first thing
    _commit does — reader-invisible until a manifest names ``commit_id``;
    a crash strands an orphan dir that retention cleanup reclaims.
    ``changes=None`` with ``captured=True`` records a content-no-op commit
    (optimize, rebucket) as an empty delta; ``captured=False`` (merge's
    capture opt-out) records
    a content-CHANGING commit whose delta was deliberately not captured —
    the chain stays walkable, but read_commit_changes over a range
    containing it fails loudly to the read_changes fallback.

    A written delta's schema goes into the record (``schema``), so
    read_commit_changes reads it without a parquet footer job. Returns the
    record as written."""
    import json
    import os

    cdir = os.path.join(target, _CHANGES_DIR, commit_id)
    if changes is not None:
        changes.write.parquet(os.path.join(cdir, "delta"))
    rec = {
        "id": commit_id,
        "parent": parent,
        "kind": kind,
        "empty": captured and changes is None,
        "captured": captured,
        # wall-clock commit instant: lets read_commit_changes expose
        # _commit_ts so SCD2-from-commit-log yields real
        # valid_from/valid_to times. The
        # SEQUENCE stays the ordering truth — ts is the human
        # timeline (clock steps between writers are monotonized
        # by the consumer).
        "ts": _commit_now(),
    }
    if changes is not None:
        rec["schema"] = changes.schema.jsonValue()
    fs.put_atomic(os.path.join(cdir, "_commit.json"), json.dumps(rec).encode())
    return rec


def read_commit_changes(
    spark: SparkSession,
    target: str,
    since: str,
    until: str | None = None,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
) -> DataFrame:
    """COMMIT-LOG CDC (r8) — the O(delta) incremental read. read_changes
    diffs two STATES, which reads every changed bucket's full content on
    both sides; an increment whose keys hash-scatter across all buckets
    therefore degrades the state diff toward O(table) (measured:
    SCALING.md r8 — refresh-read cost grew 2.2x across a 16x base-size
    sweep). This reader instead walks the COMMIT CHAIN between the two
    pinned states and unions the per-commit delta files that every
    merge/delete captured at commit time — I/O is exactly the change rows
    written in the range, independent of table size or key scatter (the
    Delta CDF / Iceberg changelog design).

    Semantics differ from read_changes deliberately: per-COMMIT
    granularity, tagged ``_commit_seq`` (1 = first commit after
    ``since``) — a key updated in two commits appears twice, letting a
    consumer replay history or take the latest per key; compacting to a
    net state diff is one groupBy away. Raises ValueError when the chain
    cannot be walked (pre-commit-log states, or a rollback rewound the
    lineage between the two states) — fall back to read_changes, which is
    always correct.

    Building the DataFrame launches no Spark job: each delta is read with
    the schema its commit record carries, so no parquet footer job runs
    per delta in the range (commit records from before schemas were
    recorded keep the inferred read)."""
    import json
    import os

    from pyspark.sql.types import StructType

    old_m = _load_snapshot(target, since, fs)
    if until is not None:
        new_m = _load_snapshot(target, until, fs)
    else:
        new_m = _load_manifest(target, fs)
        if new_m is None:
            raise ValueError(f"no committed state at {target}")
    since_id = (old_m.get("commit") or {}).get("id")
    until_id = (new_m.get("commit") or {}).get("id")
    if since_id is None or until_id is None:
        raise ValueError(
            f"state(s) at {target} predate the commit log; use read_changes"
        )
    chain: list[dict] = []
    cur = until_id
    while cur != since_id:
        path = os.path.join(target, _CHANGES_DIR, cur, "_commit.json")
        try:
            rec = json.loads(fs.read_bytes(path).decode())
        except FileNotFoundError:
            raise ValueError(
                f"commit chain from {until or 'current'} to {since!r} at "
                f"{target} is broken at {cur} (delta vacuumed, or a "
                "rollback rewound the lineage); use read_changes"
            ) from None
        chain.append(rec)
        cur = rec.get("parent")
        if cur is None or len(chain) > 100_000:
            raise ValueError(
                f"{since!r} is not an ancestor of "
                f"{until or 'the current state'} at {target} (rollback or "
                "divergent lineage); use read_changes"
            )
    chain.reverse()  # oldest-first: _commit_seq 1 = first commit after since
    parts = []
    for seq, rec in enumerate(chain, start=1):
        if rec.get("empty"):
            continue
        if rec.get("captured", True) is False:
            raise ValueError(
                f"commit {rec['id']} at {target} was merged with "
                "capture_changes=False — its delta was never captured; "
                "use read_changes for ranges covering it"
            )
        delta_dir = _delta_dir(target, rec["id"], fs)
        # ADVICE r8: a concurrent vacuum(changes_keep=N) can remove a delta
        # dir BETWEEN the chain walk above and the read here — surface the
        # same broken-chain ValueError (with its documented read_changes
        # fallback) instead of a raw Spark path-not-found
        if not fs.isdir(delta_dir):
            raise ValueError(
                f"commit chain from {until or 'current'} to {since!r} at "
                f"{target} is broken at {rec['id']} (delta vacuumed between "
                "the chain walk and the read); use read_changes"
            )
        # the schema recorded at write time: no footer job per delta (an
        # erasure scrub keeps every column and type, so it still applies);
        # records written before schemas were recorded infer it
        reader = spark.read
        if "schema" in rec:
            reader = reader.schema(StructType.fromJson(rec["schema"]))
        parts.append(
            reader.parquet(delta_dir)
            .withColumn("_commit_seq", F.lit(seq).cast("int"))
            # wall-clock commit instant (r11): null for pre-r11 commits —
            # consumers needing a time axis (scd2_from_commit_changes
            # timeline="ts") fail loudly on nulls rather than guess
            .withColumn(
                "_commit_ts",
                F.timestamp_seconds(F.lit(rec.get("ts")).cast("double")),
            )
        )
    if not parts:
        base = StructType.fromJson(new_m["schema"])
        fields = [f for f in base.fields if f.name != "__bucket"]
        empty = (
            StructType(fields)
            .add("_change_type", "string")
            .add("_commit_seq", "integer")
            .add("_commit_ts", "timestamp")
        )
        return spark.createDataFrame([], empty)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _referenced_rels(manifest: dict) -> set[str]:
    import os

    return {os.path.normpath(rel) for rel in manifest["buckets"].values()}


def _store_versions(target: str, fs: merge_fs.MergeFS, referenced: set[str]):
    """Yield (rel_path, is_referenced) for every ``store/<bucket>/<version>``
    dir — the ONE definition of what counts as committed vs debris, shared
    by vacuum_merge_table and merge_table_stats (code review r5: the two
    previously duplicated this walk and could silently diverge)."""
    import os

    store = os.path.join(target, "store")
    if not fs.isdir(store):
        return
    for b in fs.listdir(store):
        bdir = os.path.join(store, b)
        if not fs.isdir(bdir):
            continue
        for ver in fs.listdir(bdir):
            rel = os.path.normpath(os.path.join("store", b, ver))
            yield rel, rel in referenced


def vacuum_merge_table(
    target: str,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
    lease_owner: str | None = None,
    lease_ttl_sec: float = 3600.0,
    changes_keep: int | None = None,
    staged_grace_sec: float = 3600.0,
) -> list[str]:
    """Garbage-collect a merge gold table: remove everything neither the
    committed manifest NOR any retained snapshot references — leftover
    ``.staging`` trees and orphaned ``store`` versions (debris of batches
    that crashed between staging and the manifest put; the crash-safety
    contract is that such debris is invisible, and this reclaims its
    disk). Snapshot-pinned versions survive until their snapshot is
    dropped (snapshot_merge_table / drop_snapshot). No-op when the table
    has no committed manifest yet (a first batch may be mid-flight — note
    merge_table_stats DOES still report such pre-first-commit state, so the
    operator can see it; vacuum just refuses to race it). Runs in the
    table's leased section, so a vacuum overlapping a merge fails loudly
    with ConcurrentWriterError instead of deleting the merge's in-flight
    staging. Returns the removed paths.

    ``changes_keep``: commit-log retention. The per-commit delta files
    under ``changes/`` are NEVER touched by default (None) — they are what
    read_commit_changes consumes. Passing N keeps the deltas of the most
    recent N commits on the CURRENT chain and removes everything else
    (older completed commits, crash-orphaned capture dirs, commits
    stranded off-chain by a rollback) — the blunt time-window retention
    every changelog carries (Delta logRetentionDuration): consumers must
    read their range before it ages out; a walk into a dropped range fails
    loudly and falls back to read_changes. Exception: a delta referenced
    by a live ``_takedown/`` request record's ``delete_commit`` stamp is
    ALWAYS retained regardless of N — it is the crashed takedown's exact
    delete set, and recovery must never find it vacuumed.

    Staged-version protection: an unreferenced version may be a LIVE
    commit's staging whose manifest put has not landed yet — a writer that
    raced past the lease (expired TTL, lease-free deployment). Reclaiming
    it would let that commit's manifest point at deleted files. Two
    complementary guards:

    - ``staged_grace_sec``: unreferenced store versions and ``.staging``
      trees YOUNGER than the grace are spared (Delta's
      deletedFileRetentionDuration shape) — a live commit finishes well
      inside an hour; genuinely orphaned debris ages past it and the next
      vacuum takes it. Pass 0 only when no writer can be in flight.
    - On a CAS store, vacuum lands a conditional ``gc_epoch`` bump in the
      manifest BEFORE reclaiming. The bump is a WRITE BARRIER: (a) any
      commit that read the pre-bump generation fails its conditional put,
      and the merge rebase treats the epoch change as a GENUINE conflict
      — it raises instead of re-pointing, because this vacuum's reclaim
      scan may already hold that merge's staged versions as doomed debris;
      (b) any writer that read the POST-bump generation staged its
      versions after the bump landed, so vacuum spares everything whose
      mtime is at/after the bump instant regardless of grace — its clean
      first-try put can then safely reference them. Together: the winning
      manifest can never name files vacuum deleted, even at
      ``staged_grace_sec=0``."""
    with merge_fs.leased(fs, target, lease_owner, lease_ttl_sec):
        return _vacuum_locked(target, fs, changes_keep, staged_grace_sec)


def _vacuum_locked(
    target: str,
    fs: merge_fs.MergeFS,
    changes_keep: int | None = None,
    staged_grace_sec: float = 3600.0,
    exclusive: bool = False,
) -> list[str]:
    """vacuum_merge_table's body, for a caller already in the table's
    leased section. ``exclusive``: the caller holds the lease for its whole
    operation (erase_everywhere), so no writer can be staging; the
    bump-anchored sparing is skipped, since it would leave sub-second-old
    superseded versions on disk and break a zero-residual erasure proof.
    The gc_epoch bump still lands, so a writer that races past the lease
    anyway fails loudly instead of corrupting."""
    import json
    import os
    import time as _time

    manifest, etag = _load_manifest_cas(target, fs)
    if manifest is None:
        return []
    bump_cutoff: float | None = None
    if getattr(fs, "supports_cas", False):
        for _ in range(5):
            bumped = dict(manifest)
            bumped["gc_epoch"] = int(manifest.get("gc_epoch", 0)) + 1
            # taken BEFORE the put: any writer that reads the bumped
            # manifest stages strictly after this instant
            cutoff_try = _time.time()
            if _put_manifest_conditional(target, fs, bumped, etag):
                manifest = bumped
                bump_cutoff = cutoff_try
                break
            # a commit landed between our read and the bump — re-read
            # so the retained set below includes ITS versions, and so
            # the bump preconditions on the new generation
            manifest, etag = _load_manifest_cas(target, fs)
            if manifest is None:
                return []
        else:
            raise merge_fs.ConcurrentWriterError(
                f"vacuum at {target} could not land its gc_epoch bump "
                "after 5 attempts — writers are committing "
                "continuously past the lease; re-run vacuum later"
            )
    removed: list[str] = []
    now = _time.time()

    def _in_grace(path: str) -> bool:
        try:
            mt = fs.mtime(path)
        except FileNotFoundError:
            return True  # vanished concurrently — nothing to reclaim
        if now - mt < staged_grace_sec:
            return True
        # bump-anchored barrier: anything staged at/after the gc_epoch
        # bump belongs to a writer that read the POST-bump manifest, whose
        # clean first-try conditional put can land after our retained-set
        # read — reclaiming it would let a committed manifest name deleted
        # files. The 1 s margin covers coarse mtime granularity on
        # pluggable stores; over-sparing just leaves young debris for the
        # next vacuum.
        if exclusive:
            return False
        return bump_cutoff is not None and mt >= bump_cutoff - 1.0

    staging = os.path.join(target, ".staging")
    if fs.isdir(staging):
        for d in fs.listdir(staging):
            sub = os.path.join(staging, d)
            if not _in_grace(sub):
                fs.rmtree(sub)
                removed.append(sub)
        if not fs.listdir(staging):
            fs.rmtree(staging)
    for rel, is_ref in _store_versions(target, fs, _retained_rels(target, fs)):
        if not is_ref and not _in_grace(os.path.join(target, rel)):
            fs.rmtree(os.path.join(target, rel))
            removed.append(os.path.join(target, rel))
    if changes_keep is not None:
        keep: set[str] = set()
        cur = (manifest.get("commit") or {}).get("id")
        while cur is not None and len(keep) < int(changes_keep):
            keep.add(cur)
            try:
                cur = json.loads(
                    fs.read_bytes(
                        os.path.join(target, _CHANGES_DIR, cur, "_commit.json")
                    ).decode()
                ).get("parent")
            except FileNotFoundError:
                break
        # live takedown obligations PIN their delete commit: a crashed
        # takedown's recovery reads EXACTLY its stamped commit's delta for
        # the delete set. Spare every delta a live ``_takedown/`` record
        # references — the snapshot-pin precedent applied to the commit
        # log; the record is removed when the obligation is met, so the
        # pin lives exactly as long as the recovery could need the delta.
        # (Unstamped records never pin: their recovery path is the
        # pinned-snapshot CDC read with the state-diff fallback, which
        # survives delta loss by construction.)
        tddir = os.path.join(target, merge_fs.TAKEDOWN_REQUEST_DIR)
        if fs.isdir(tddir):
            for f in fs.listdir(tddir):
                if not f.endswith(".json"):
                    continue
                try:
                    trec = json.loads(
                        fs.read_bytes(os.path.join(tddir, f)).decode()
                    )
                except FileNotFoundError:
                    continue  # recovery removed it between list & read
                cid = trec.get(merge_fs.TAKEDOWN_DELETE_COMMIT_FIELD)
                if cid:
                    keep.add(cid)
        cdir = os.path.join(target, _CHANGES_DIR)
        if fs.isdir(cdir):
            for d in fs.listdir(cdir):
                if d not in keep:
                    fs.rmtree(os.path.join(cdir, d))
                    removed.append(os.path.join(cdir, d))
    return removed


def merge_table_stats(
    target: str, fs: merge_fs.MergeFS = merge_fs.LOCAL_FS
) -> dict:
    """Operational stats for a merge gold table — the observability twin of
    vacuum_merge_table (and the merge-table analog of
    similarity.ivf_cell_file_counts): committed bucket/version/file counts
    plus the DEBRIS a crash left behind (unreferenced store versions,
    staging trees). ``debris_versions`` or ``staging_dirs`` > 0 is the
    signal to schedule a vacuum; ``live_files`` growing much faster than
    ``committed_buckets`` signals bucket-version churn. A target with NO
    committed manifest still gets its staging/store contents reported as
    debris (code review r5: a first commit that crashed pre-manifest left
    real disk that an all-zero report would hide — vacuum deliberately
    won't touch that state, but the operator must be able to SEE it). Pure
    bookkeeping I/O through the pluggable MergeFS — no data files are
    read."""
    import os

    manifest = _load_manifest(target, fs)
    referenced = _referenced_rels(manifest) if manifest is not None else set()
    retained = _retained_rels(target, fs)
    stats = {
        "committed_buckets": len(referenced),
        "live_files": 0,
        "debris_versions": 0,
        "staging_dirs": 0,
        "snapshots": len(list_snapshots(target, fs)),
        "snapshot_only_versions": 0,
        "commit_deltas": 0,
    }
    cdir = os.path.join(target, _CHANGES_DIR)
    if fs.isdir(cdir):
        stats["commit_deltas"] = len(fs.listdir(cdir))
    # commit-log health (r9): how far back the CURRENT chain is walkable
    # (read_commit_changes' reach before its loud read_changes fallback),
    # and whether any walkable commit was merged with
    # capture_changes=False (its presence caps every range crossing it).
    # Driver-side JSON reads only, bounded by the retained log.
    stats["walkable_commits"] = 0
    stats["uncaptured_commits"] = 0
    cur = (manifest.get("commit") or {}).get("id") if manifest else None
    import json as _json

    while cur is not None:
        try:
            rec = _json.loads(
                fs.read_bytes(os.path.join(cdir, cur, "_commit.json")).decode()
            )
        except FileNotFoundError:
            break  # aged out under changes_keep — the chain ends here
        stats["walkable_commits"] += 1
        if rec.get("captured", True) is False:
            stats["uncaptured_commits"] += 1
        cur = rec.get("parent")
        if stats["walkable_commits"] > 100_000:
            break
    staging = os.path.join(target, ".staging")
    if fs.isdir(staging):
        stats["staging_dirs"] = len(fs.listdir(staging))
    for rel, is_kept in _store_versions(target, fs, retained):
        if rel in referenced:
            stats["live_files"] += sum(
                1
                for f in fs.listdir(os.path.join(target, rel))
                if f.endswith(".parquet")
            )
        elif is_kept:
            # pinned only by a snapshot: vacuum-protected, not debris
            stats["snapshot_only_versions"] += 1
        else:
            stats["debris_versions"] += 1
    return stats


def _table_params(
    target: str, fs: merge_fs.MergeFS = merge_fs.LOCAL_FS
) -> dict | None:
    """The table's merge parameters (keys, order_cols, n_buckets), recorded
    IN the manifest at every commit — versioned state, not a sidecar, so a
    rollback to a snapshot restores the bucketing that was in force when it
    was pinned (a rebucket_merge_table between pin and rollback would
    otherwise leave stale routing parameters behind). None => no table yet
    (or a pre-params manifest)."""
    m = _load_manifest(target, fs)
    return None if m is None else m.get("params")


def _check_params(
    manifest: dict, target: str, keys: list[str], order_cols: list, n_buckets: int
) -> None:
    """Guard against a merge that silently shreds the table: bucket routing
    is pmod(xxhash64(*keys), n_buckets), so merging with DIFFERENT keys or
    n_buckets than the table's current manifest records would route the
    same logical key to a different bucket and duplicate it. The first
    merge pins the parameters into the manifest; every later merge
    validates and raises on mismatch (same pattern as the LSH signature
    table's hash-family guard). Runs under the writer lease, before any
    staging I/O.

    A NON-EMPTY manifest that predates pinned params (built by an older
    merge_micro_batch) is refused outright (ADVICE r7): adopting the
    caller's params unvalidated would pin whatever (keys, n_buckets) the
    first post-upgrade merge happened to pass — if that n_buckets differs
    from the legacy layout, the same logical key routes to a different
    bucket and silently duplicates, exactly the mis-route this guard
    exists to prevent. Legacy tables migrate via adopt_table_params,
    which READS the table back and proves every row hashes into its
    recorded bucket before pinning."""
    want = {"keys": list(keys), "order_cols": [str(c) for c in order_cols],
            "n_buckets": int(n_buckets)}
    have = manifest.get("params")
    if have is not None and have != want:
        raise ValueError(
            f"merge parameters {want} do not match the table's pinned "
            f"parameters {have} at {target} — merging with different keys "
            "or n_buckets would mis-route rows; rebucket_merge_table "
            "changes n_buckets atomically, or create a new table"
        )
    if have is None and manifest.get("buckets"):
        raise ValueError(
            f"table at {target} has committed state but no pinned merge "
            "parameters (pre-params layout); merging would adopt "
            f"{want} unvalidated and could mis-route keys across the "
            "existing buckets. Run adopt_table_params once to verify the "
            "layout and pin the parameters."
        )
    manifest["params"] = want  # written by the commit's manifest put


def adopt_table_params(
    spark: SparkSession,
    target: str,
    keys: list[str],
    order_cols: list,
    n_buckets: int,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
    lease_owner: str | None = None,
) -> dict:
    """One-time migration for a merge table whose manifest predates pinned
    params: VERIFY the claimed (keys, n_buckets) against the committed
    data, then pin them into the manifest so future merges pass
    _check_params. Verification is one pruned read of the committed
    buckets asserting that EVERY row's pmod(xxhash64(*keys), n_buckets)
    equals its recorded __bucket — the property merge routing depends on;
    a single mismatching row means the claimed layout is wrong and
    adoption raises without writing anything. Also refuses committed
    bucket ids outside [0, n_buckets) (cheap driver-side pre-check, no
    scan needed to reject an obviously-wrong n_buckets). A manifest writer
    (commit protocol: module docstring) that stages nothing and records no
    commit. Returns the updated manifest."""
    if int(n_buckets) < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    want = {"keys": list(keys), "order_cols": [str(c) for c in order_cols],
            "n_buckets": int(n_buckets)}
    with merge_fs.leased(fs, target, lease_owner):
        manifest, etag = _load_manifest_cas(target, fs)
        if manifest is None:
            raise ValueError(f"no committed state at {target}")
        have = manifest.get("params")
        if have == want:
            return manifest  # idempotent re-run
        if have is not None:
            raise ValueError(
                f"table at {target} already pins params {have}; "
                "rebucket_merge_table changes n_buckets atomically"
            )
        bad_ids = [b for b in manifest["buckets"] if not 0 <= int(b) < int(n_buckets)]
        if bad_ids:
            raise ValueError(
                f"committed bucket ids {sorted(bad_ids)} fall outside "
                f"[0, {n_buckets}) — claimed n_buckets does not match the "
                f"table layout at {target}"
            )
        cur = read_merged(spark, target, fs=fs)
        mismatched = cur.filter(
            ~F.col("__bucket").eqNullSafe(
                F.pmod(F.xxhash64(*keys), F.lit(int(n_buckets)))
            )
        ).count()
        if mismatched:
            raise ValueError(
                f"{mismatched} committed rows do not hash into their "
                f"recorded bucket under keys={list(keys)}, "
                f"n_buckets={n_buckets} — wrong keys or wrong n_buckets "
                f"for the table at {target}"
            )
        return _commit(
            target, fs, "params adoption", manifest, etag,
            fields={"params": want}, record=False,
        )


def delete_from_merge_table(
    spark: SparkSession,
    target: str,
    keys: DataFrame | None = None,
    predicate: str | None = None,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
    lease_owner: str | None = None,
    lease_ttl_sec: float = 3600.0,
) -> int:
    """DELETE rows from a merge gold table — the missing third of the
    Delta/Iceberg DML triangle (merge_table upserts, rollback restores,
    this removes): retention enforcement, GDPR erasure, pulling
    contaminated documents out of a training corpus. Exactly one of:

    - ``keys``: a DataFrame carrying the table's key columns — every
      matching key's row is removed. I/O ∝ the KEYS' bucket span, the
      merge discipline: keys route through the same
      pmod(xxhash64(*keys), n_buckets), only those buckets are read back
      and anti-joined, untouched buckets keep their exact files.
    - ``predicate``: a SQL boolean over the table's columns (GDPR-style
      content predicate that key routing cannot prune). One pruning scan
      counts matches per bucket first, so only buckets that actually
      CONTAIN matches are rewritten — a selective predicate still
      rewrites few buckets; a table-wide one degrades to the honest
      O(table) rewrite.

    Same commit protocol as merge (module docstring): rewritten buckets
    stage invisibly, ONE manifest put flips readers (a bucket emptied by
    the delete leaves the manifest entirely), superseded versions are
    GC'd unless snapshot-pinned. A delete only removes rows, so surviving
    buckets keep their min/max and null-count entries as valid bounds;
    per-file stats name the old version's files and are dropped. CDC
    composes: read_changes(pre_delete_snapshot) reports the removed rows
    as ``_change_type='delete'``. Returns the number of rows deleted."""
    if (keys is None) == (predicate is None):
        raise ValueError("pass exactly one of keys= or predicate=")
    with merge_fs.leased(fs, target, lease_owner, lease_ttl_sec):
        manifest, etag = _load_manifest_cas(target, fs)
        if manifest is None:
            return 0
        params = manifest.get("params")
        if params is None:
            raise ValueError(
                f"table at {target} predates pinned params; run "
                "adopt_table_params before deleting"
            )
        key_cols, n_buckets = params["keys"], int(params["n_buckets"])
        if keys is not None:
            kdf = keys.select(*key_cols).distinct().withColumn(
                "__bucket", F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))
            )
            touched = sorted(
                r["__bucket"]
                for r in kdf.select("__bucket").distinct().collect()
            )
            touched = [b for b in touched if str(b) in manifest["buckets"]]
            if not touched:
                return 0
            cur = read_merged(spark, target, buckets=touched, fs=fs)
            remaining = cur.join(
                kdf.drop("__bucket"), on=key_cols, how="left_anti"
            )
            removed = cur.join(kdf.drop("__bucket"), on=key_cols, how="left_semi")
        else:
            cur_all = read_merged(spark, target, fs=fs)
            if cur_all is None:
                return 0
            # pruning pass: <= n_buckets rows to the driver
            hits = (
                cur_all.filter(F.expr(predicate))
                .groupBy("__bucket")
                .count()
                .collect()
            )
            touched = sorted(int(r["__bucket"]) for r in hits if r["count"])
            if not touched:
                return 0
            cur = read_merged(spark, target, buckets=touched, fs=fs)
            hit = F.coalesce(F.expr(predicate), F.lit(False))
            remaining = cur.filter(~hit)
            removed = cur.filter(hit)
        new_rels, staging = _stage_bucket_versions(
            remaining, target, touched, fs
        )
        # the delta holds the removed rows as delete records; `removed`
        # and `remaining` split the touched buckets' rows, so the delta's
        # row count, observed on its own write, is the rows deleted
        obs = Observation()
        _commit(
            target, fs, "delete", manifest, etag, staged=new_rels,
            staging=staging, dropped=touched, entries={"filestats": {}},
            changes=removed.select(
                *[c for c in cur.columns if c != "__bucket"]
            ).withColumn("_change_type", F.lit("delete")).observe(
                obs, F.count(F.lit(1)).alias("n")
            ),
        )
        return int(obs.get["n"])


def merge_table(
    batch: DataFrame,
    target: str,
    keys: list[str],
    order_cols: list,
    n_buckets: int = 16,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
    lease_owner: str | None = None,
    lease_ttl_sec: float = 3600.0,
    capture_changes: bool = True,
    stats_cols: list[str] | None = None,
    cluster_by=None,
    cluster_files: int = 4,
) -> None:
    """MERGE one (micro-)batch of ANY schema into the bucket-versioned gold
    table at ``target``, keyed by ``keys``, with the table's commit
    protocol (module docstring): a crash at any point leaves the previous
    state intact, and readers see the whole batch or none of it. MERGE
    semantics: the incoming batch wins per key (ties inside the batch
    broken by ``order_cols`` descending) — the contract assumes in-order
    ingestion, as micro-batch pipelines provide.

    I/O stays proportional to the batch's key range, not the table:
    - keys hash to ``__bucket = pmod(xxhash64(*keys), n_buckets)``;
    - only the buckets PRESENT IN THE BATCH are read back (manifest-pruned)
      and merged;
    - the merged buckets are staged as new versions and committed with
      ONE manifest put.

    ``fs`` carries the bookkeeping I/O (streaming/fs.py): the protocol needs
    only an atomic full-object manifest put — bucket moves may be S3-style
    copy+delete (crash debris stays invisible; vacuum reclaims it), proven
    under NonAtomicRenameFS in tests/test_streaming.py.

    Single writer: the whole read-merge-commit runs in the table's leased
    section, so a second concurrent merger (or an overlapping vacuum)
    raises ConcurrentWriterError. Streaming restarts that reuse a stable
    query id pass it as ``lease_owner`` to re-enter their own lease; a
    lease stranded by a crash expires after ``lease_ttl_sec`` (or
    break_writer_lease after confirming the writer died). Writers that
    race past the lease anyway meet the conditional commit; a merge whose
    buckets do not overlap the winner's rebases onto it.

    The first merge pins (keys, order_cols, n_buckets) INSIDE the manifest
    (versioned with the state — see _table_params); later merges with
    different parameters raise instead of mis-routing rows (_check_params).

    ``capture_changes=False``: skip the per-commit CDC delta capture (a
    touched-bucket-proportional full-outer join + write) for ingest-heavy
    tables whose consumers only ever use the read_changes state diff — the
    commit record still lands (lineage stays walkable) but
    read_commit_changes over a range containing such a commit fails
    loudly to the documented fallback. Default True: capture is what buys
    read_commit_changes its O(delta) contract.

    ``stats_cols`` (Delta-style data skipping): record per-bucket min/max,
    null counts, row counts and approximate ndv for these columns in the
    manifest at every commit (one aggregate over the bucket versions the
    commit just staged, read back with their known schema — the merge is
    not recomputed), powering ``read_merged(range_filters=...)``'s
    driver-side bucket skipping. Per-commit state, not a pinned table
    param: a merge that omits it DROPS its touched buckets' stats
    (stale-stat protection — pruning on stale bounds could hide rows), so
    pass it consistently on tables that want skipping. Numeric/string
    columns only; other types are silently not recorded.

    ``cluster_by`` (the LAYOUT half of data skipping): per-bucket min/max
    is useless for a column that does not correlate with the key hash — on
    a mature hash-bucketed table every bucket's span of an independent
    column converges to the full range and ``stats_cols`` prunes nothing.
    ``cluster_by=col`` fixes the layout instead: each touched bucket's
    version is written as ~``cluster_files`` files range-DISJOINT in
    ``col`` (one range shuffle in place of the stage write's default
    partitioning, plus a within-file sort that compounds into parquet
    row-group stats), and the manifest records each file's span.
    ``read_merged`` with a ``range_filters`` entry on ``col`` then prunes
    FILES inside every bucket — the Delta OPTIMIZE ZORDER /
    liquid-clustering shape, giving ~1/``cluster_files`` read I/O on
    selective ranges regardless of key correlation. A LIST of columns
    Z-ORDERS: per-column range-bin ids (sampling range partitioner —
    skew-adaptive, any orderable type) bit-interleave into one z-value and
    files tile the multi-dim space, so a ``range_filters`` entry on ANY of
    the listed columns prunes files (each column's per-file span ≈
    range/files^(1/dims) — the multi-dim trade every Z-order makes). Like
    ``stats_cols`` it is per-commit: a merge that omits it drops its
    touched buckets' file stats (they name the old version's files), and a
    DELETE rewrite or rebucket drops them too — correctness never depends
    on them; pass it consistently to keep the skip. Size
    ``cluster_files`` so a bucket-version file ≈ a parquet
    row-group-friendly 128 MB–1 GB at your scale.
    """
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import topk

    if int(n_buckets) < 1:
        # ANSI is off: pmod(x, 0) would be NULL, staging nothing and
        # committing a manifest that silently drops the batch
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    bucket = F.pmod(F.xxhash64(*keys), F.lit(n_buckets))
    latest = topk.dedup_last_write_wins(
        batch, keys=keys, order_cols=order_cols
    ).withColumn("__bucket", bucket)
    # tiny driver-side list (<= n_buckets values) used for manifest pruning.
    # A bucket depends only on the keys and the dedup keeps one row per key,
    # so the batch's own keys give the same set without running the window
    touched = sorted(
        r[0] for r in batch.select(bucket.alias("__bucket")).distinct().collect()
    )
    if not touched:
        return
    with merge_fs.leased(fs, target, lease_owner, lease_ttl_sec):
        _merge_locked(latest, target, touched, fs, keys, order_cols,
                      n_buckets, capture_changes=capture_changes,
                      stats_cols=stats_cols, cluster_by=cluster_by,
                      cluster_files=cluster_files)


def merge_micro_batch(
    batch: DataFrame,
    target: str,
    n_buckets: int = 16,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
    lease_owner: str | None = None,
    lease_ttl_sec: float = 3600.0,
) -> None:
    """The events gold table (latest event per user): project the events
    batch to the gold schema and MERGE keyed by user_id — a thin wrapper
    over the schema-generic merge_table (see it for the commit protocol,
    lease, and scale contract)."""
    merge_table(
        batch.select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            "ts",
            "event_id",
        ),
        target,
        keys=["user_id"],
        order_cols=["ts", "event_id"],
        n_buckets=n_buckets,
        fs=fs,
        lease_owner=lease_owner,
        lease_ttl_sec=lease_ttl_sec,
    )


def _as_nullable(dt):
    """Normalize nullability RECURSIVELY (code review r7: top-level-only
    normalization let ArrayType.containsNull / nested StructField.nullable
    leak into the stored schema and the retype guard, spuriously rejecting
    equal-typed batches that differ only in inferred nullability)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        # keys recurse too: a struct-keyed map's inner nullability is just
        # as inferred-and-meaningless as anywhere else (map keys themselves
        # are never null, but their FIELDS carry nullability flags)
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _nullable_schema_json(schema) -> dict:
    return _as_nullable(schema).jsonValue()


def _stage_bucket_versions(
    df, target: str, buckets: list[int], fs,
    cluster_by=None, cluster_files: int = 4,
) -> tuple[dict, str]:
    """Phase-1 of the commit protocol: write ``df`` (carrying __bucket) to a
    dot-prefixed staging dir, one sub-dir per bucket, and move each present
    bucket dir to ``store/<bucket>/<version>`` — all invisible to readers
    until a manifest names it. Returns ({bucket: rel_path}, staging_dir).

    ``cluster_by`` (r10 — the layout half of data skipping): range-shuffle
    the rows on (__bucket, cluster_by) so each bucket's version lands as
    ~``cluster_files`` files whose cluster-column ranges are DISJOINT
    (range partitioner boundaries) and internally sorted (parquet
    row-group stats compound the win). This is what makes per-FILE stats
    prune on a column that does NOT correlate with the key hash — the
    bucket's min/max spans everything, but each file's span is 1/Nth of
    it (Delta OPTIMIZE ZORDER's 1-D case / liquid clustering's shape).

    A LIST of columns Z-ORDERS (r10, multi-dim): each column gets a
    range-bin id from the sampling range partitioner
    (``repartitionByRange`` + ``spark_partition_id`` — monotone in the
    column, skew-adaptive, any orderable type; exactly Delta OPTIMIZE
    ZORDER's range_partition_id), the per-column bits interleave into one
    z-value, and files tile on (__bucket, z) — so EVERY cluster column's
    per-file span is ~1/(files^(1/dims)) of its range and a filter on ANY
    of them prunes files. Costs one extra row-shuffle per extra column on
    the TOUCHED rows only (the bin-id passes), same O(batch) class as the
    merge itself."""
    import os

    version = uuid.uuid4().hex[:12]
    staging = os.path.join(target, ".staging", version)
    cols = (
        None if cluster_by is None
        else [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
    )
    if cols is not None and len(cols) == 1:
        # one range shuffle replaces the write's default partitioning —
        # same single-shuffle cost class, but the files it produces are
        # range-disjoint in the cluster column instead of arbitrary
        df = df.repartitionByRange(
            max(len(buckets) * int(cluster_files), 1),
            F.col("__bucket"), F.col(cols[0]),
        ).sortWithinPartitions("__bucket", cols[0])
    elif cols is not None:
        nbits = 4  # 16 range-bins per dimension
        zb = [f"__zb_{j}" for j in range(len(cols))]
        for j, c in enumerate(cols):
            # spark_partition_id AFTER a range repartition IS the range-bin
            # id: non-deterministic, so Catalyst pins its evaluation
            # between this exchange and the next (verified monotone +
            # independent in tests). AQE may coalesce adjacent ranges —
            # ids stay monotone in the column, bins just get coarser.
            df = df.repartitionByRange(1 << nbits, F.col(c)).withColumn(
                zb[j], F.spark_partition_id()
            )
        z = F.lit(0)
        for i in range(nbits):
            for j in range(len(cols)):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(F.col(zb[j]), i).bitwiseAND(F.lit(1)),
                        i * len(cols) + j,
                    )
                )
        df = (
            df.withColumn("__zval", z)
            .repartitionByRange(
                max(len(buckets) * int(cluster_files), 1),
                F.col("__bucket"), F.col("__zval"),
            )
            .sortWithinPartitions("__bucket", "__zval")
            .drop("__zval", *zb)
        )
    # __bucket stays a DATA column in the files; __bucket_p only routes the
    # write into one dir per bucket for the per-bucket moves below
    df.withColumn("__bucket_p", F.col("__bucket")).write.partitionBy(
        "__bucket_p"
    ).parquet(staging)
    new_rels: dict[str, str] = {}
    for i, b in enumerate(buckets):
        src_dir = os.path.join(staging, f"__bucket_p={b}")
        dst_rel = os.path.join("store", str(b), version)
        dst = os.path.join(target, dst_rel)
        if fs.exists(src_dir):
            fs.rename(src_dir, dst)  # may be copy+delete — still invisible
            new_rels[str(b)] = dst_rel
        if _after_bucket_move_hook is not None:
            _after_bucket_move_hook(i, len(buckets))
    return new_rels, staging


def rebucket_merge_table(
    spark: SparkSession,
    target: str,
    n_buckets: int,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
    lease_owner: str | None = None,
    lease_ttl_sec: float = 3600.0,
) -> dict:
    """Change the table's bucket count in ONE atomic commit — the scale-up
    path for a table whose creation-time ``n_buckets`` no longer fits its
    volume (a 100 TB table stuck at 16 buckets makes every merge rewrite
    ~1/16th of the table; re-spreading to 4096 restores
    batch-proportional merge I/O). The whole table is re-routed through
    ``pmod(xxhash64(*keys), n_buckets)`` — deliberately O(table), the one
    full-rewrite maintenance op, like a table-format OPTIMIZE — staged
    invisibly and committed with a single manifest put that also updates
    the pinned params (commit protocol: module docstring), so readers
    flip atomically and a crash anywhere leaves the old bucketing intact.
    Bucket-keyed stats are dropped wholesale; the next stats_cols merge
    rebuilds them per touched bucket. Snapshot-pinned versions survive
    (their manifests keep the OLD bucket map and params; time-travel reads
    and rollbacks restore the old bucketing wholesale). CDC across a
    rebucket sees every bucket as changed and degrades to a full-table
    diff — correct, but schedule CDC consumers before the rebucket; the
    commit log records it as an empty delta, so the chain stays walkable.
    Returns the new manifest."""
    if int(n_buckets) < 1:
        # pmod(x, 0) is NULL with ANSI off: the staged write would land
        # nothing and the commit + GC below would erase the whole table
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    with merge_fs.leased(fs, target, lease_owner, lease_ttl_sec):
        manifest, etag = _load_manifest_cas(target, fs)
        if manifest is None:
            raise ValueError(f"no committed state to rebucket at {target}")
        params = manifest.get("params")
        if params is None:
            raise ValueError(
                f"table at {target} predates pinned params; merge once "
                "to record them before rebucketing"
            )
        if int(n_buckets) == int(params["n_buckets"]):
            return manifest
        keys = params["keys"]
        cur = read_merged(spark, target, fs=fs)
        df = cur.drop("__bucket").withColumn(
            "__bucket", F.pmod(F.xxhash64(*keys), F.lit(int(n_buckets)))
        )
        new_rels, staging = _stage_bucket_versions(
            df, target, list(range(int(n_buckets))), fs
        )
        fresh = {
            "buckets": {},
            "params": {**params, "n_buckets": int(n_buckets)},
            "schema": _nullable_schema_json(df.schema),
        }
        return _commit(
            target, fs, "rebucket", fresh, etag, read=manifest,
            staged=new_rels, staging=staging, dropped=manifest["buckets"],
        )


def optimize_merge_table(
    spark: SparkSession,
    target: str,
    cluster_by,
    cluster_files: int = 4,
    buckets: list[int] | None = None,
    only_decayed: bool = False,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
    lease_owner: str | None = None,
    lease_ttl_sec: float = 3600.0,
    target_file_bytes: int | None = None,
) -> dict:
    """Re-LAYOUT committed buckets without changing a row — Delta's
    standalone ``OPTIMIZE ZORDER BY`` as an operation: a table ingested
    WITHOUT ``cluster_by`` (or whose layout decayed under non-clustering
    merges/deletes, which drop their buckets' file stats) gets the
    range-disjoint / Z-ordered file layout and per-file bounds without a
    fake merge. ``cluster_by`` is a column or list (Z-order), same as
    merge_table's.

    Content no-op by construction: each touched bucket's committed rows
    are restaged in cluster order and committed with ONE conditional
    manifest put (commit protocol: module docstring) — per-bucket column
    stats/null counts stay untouched (row set unchanged, so they remain
    exact), file stats are rebuilt for exactly the touched buckets, and
    the commit chain carries an empty kind='optimize' delta (CDC consumers
    cross it in O(0), like rebucket). ``buckets`` limits the rewrite
    (incremental re-clustering — run it bucket-range by bucket-range on a
    100 TB table); default is every committed bucket, the honest O(table)
    maintenance op. ``only_decayed=True`` restricts further to buckets
    whose layout has DECAYED — no file stats, stats naming a superseded
    version (a non-clustering merge/delete rewrote the bucket), or stats
    recorded for different cluster columns — so the scheduled maintenance
    run is O(decay since last run), not O(table), and a fully-clustered
    table is a cheap no-op. Snapshot-pinned versions survive (time travel
    reads the OLD layout); a crash anywhere before the put leaves readers
    on the old layout with staged debris for vacuum.

    ``target_file_bytes`` (Delta OPTIMIZE's maxFileSize shape): derive the
    file count from the DATA instead of a fixed ``cluster_files`` — the
    touched buckets' committed on-disk parquet bytes (driver-side fs
    listing, already-compressed sizes, so the restaged files land near the
    target) divided by the target, spread over the touched buckets; the
    range partitioner then distributes boundaries by row density, so
    heavy buckets naturally get more files. Overrides ``cluster_files``
    when set. Size for row-group-friendly 128 MB–1 GB files; SCALING.md's
    file-sizing curve quantifies the skip-vs-files-per-bucket trade this
    knob moves. The chosen sizing is reported in the returned manifest
    dict under ``_optimize_sizing`` (report-only, not persisted)."""
    import os

    with merge_fs.leased(fs, target, lease_owner, lease_ttl_sec):
        manifest, etag = _load_manifest_cas(target, fs)
        if manifest is None:
            raise ValueError(f"no committed state to optimize at {target}")
        committed = sorted(int(b) for b in manifest["buckets"])
        touched = (
            committed
            if buckets is None
            else sorted(set(int(b) for b in buckets) & set(committed))
        )
        if only_decayed:
            want_cols = (
                [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
            )
            fstats0 = manifest.get("filestats") or {}

            def _decayed(b: int) -> bool:
                fst = fstats0.get(str(b))
                if fst is None or fst.get("rel") != manifest["buckets"][str(b)]:
                    return True
                have = fst.get("cols") or (
                    [fst["col"]] if "col" in fst else []
                )
                return have != want_cols

            touched = [b for b in touched if _decayed(b)]
        if not touched:
            return manifest
        sizing = None
        if target_file_bytes is not None:
            # committed parquet bytes of exactly the touched buckets:
            # already-compressed sizes, so restaged files land near
            # the target. Driver-side listing, bounded by file counts.
            import math

            total = 0
            for b in touched:
                vdir = os.path.join(target, manifest["buckets"][str(b)])
                for f in fs.listdir(vdir):
                    if f.endswith(".parquet"):
                        total += fs.size(os.path.join(vdir, f))
            cluster_files = max(
                1,
                math.ceil(
                    total / float(target_file_bytes) / max(1, len(touched))
                ),
            )
            sizing = {
                "touched_bytes": total,
                "target_file_bytes": int(target_file_bytes),
                "cluster_files": cluster_files,
            }
        cur = read_merged(spark, target, buckets=touched, fs=fs)
        new_rels, staging = _stage_bucket_versions(
            cur, target, touched, fs,
            cluster_by=cluster_by, cluster_files=cluster_files,
        )
        manifest = _commit(
            target, fs, "optimize", manifest, etag, staged=new_rels,
            staging=staging, entries={"filestats": _file_stats_for(
                spark, target, new_rels, cluster_by, cur.schema
            )},
        )
        if sizing is not None:
            # report-only: the manifest on disk is already committed
            manifest["_optimize_sizing"] = sizing
        return manifest


def _file_stats_for(
    sess, target: str, new_rels: dict[str, str], cluster_by, schema
) -> dict[str, dict]:
    """Per-file min/max of the cluster column(s) for freshly landed bucket
    versions — ONE pass over exactly the files the merge just wrote
    (touched-bucket-proportional, same cost class as the stats_cols
    aggregate), grouped by input_file_name. ``schema`` is the schema the
    caller wrote the versions with; reading through it costs no parquet
    footer job. Entry formats ("rel" pins
    which version the file list describes, so a reader can never apply it
    to a different version's files):

    - single column: {bucket: {"rel": version_rel, "col": c,
      "files": [[fname, mn, mx(, tag)], ...]}}
    - Z-order list:  {bucket: {"rel": version_rel, "cols": [c1, c2, ...],
      "files": [[fname, [mn1, mx1(, tag)]|None, [mn2, mx2(, tag)]|None,
      ...], ...]}} — one bounds entry PER cluster column (None = not a
      stats-recordable type; that column never prunes)."""
    import os
    from urllib.parse import unquote, urlparse

    single = isinstance(cluster_by, str)
    cols = [cluster_by] if single else list(cluster_by)
    aggs = []
    for j, c in enumerate(cols):
        aggs.append(F.min(c).alias(f"__mn_{j}"))
        aggs.append(F.max(c).alias(f"__mx_{j}"))
    rows = (
        sess.read.schema(schema)
        .parquet(*[os.path.join(target, rel) for rel in new_rels.values()])
        .groupBy(F.input_file_name().alias("__f"))
        .agg(*aggs)
        .collect()
    )
    by_rel = {os.path.normpath(rel): b for b, rel in new_rels.items()}
    out: dict[str, dict] = {}
    for r in rows:
        p = unquote(urlparse(r["__f"]).path)
        b = by_rel.get(os.path.normpath(os.path.relpath(os.path.dirname(p), target)))
        if b is None:
            continue
        if single:
            ent = _enc_bounds(r["__mn_0"], r["__mx_0"]) or [None, None]
            entry = [os.path.basename(p), *ent]
            meta = {"rel": new_rels[b], "col": cols[0], "files": []}
        else:
            entry = [os.path.basename(p)] + [
                _enc_bounds(r[f"__mn_{j}"], r[f"__mx_{j}"]) for j in range(len(cols))
            ]
            meta = {"rel": new_rels[b], "cols": cols, "files": []}
        out.setdefault(b, meta)["files"].append(entry)
    for d in out.values():
        d["files"].sort()
    return out


def _merge_locked(
    latest,
    target: str,
    touched: list[int],
    fs,
    keys: list[str],
    order_cols: list,
    n_buckets: int,
    capture_changes: bool = True,
    stats_cols: list[str] | None = None,
    cluster_by=None,
    cluster_files: int = 4,
) -> None:
    """merge_table's read-merge-commit body, run in the leased section."""
    import os

    sess = latest.sparkSession
    manifest, etag = _load_manifest_cas(target, fs)
    manifest = manifest or {"buckets": {}}
    _check_params(manifest, target, keys, order_cols, n_buckets)
    current = read_merged(sess, target, buckets=touched, fs=fs)
    if current is None:  # none of the touched buckets committed yet
        # the empty current MUST carry the table's committed schema, not
        # the batch's: a batch touching only uncommitted buckets would
        # otherwise re-commit manifest['schema'] as the batch-only schema
        # — silently hiding evolved columns table-wide and letting a
        # retyped column slip past the guard below
        if "schema" in manifest:
            from pyspark.sql.types import StructType

            current = sess.createDataFrame(
                [], StructType.fromJson(manifest["schema"])
            )
        else:
            current = sess.createDataFrame([], latest.schema)
    else:
        current = current.filter(F.col("__bucket").isin(touched))
    # schema evolution guard: a batch may ADD columns (old rows null-fill)
    # or omit columns (incoming rows get null there — MERGE replaces the
    # whole row), but a same-named column changing TYPE would corrupt the
    # explicit-schema read of untouched buckets — refuse loudly.
    # Nullability is normalized out of the comparison (_as_nullable).
    cur_types = {f.name: _as_nullable(f.dataType) for f in current.schema.fields}
    for f in latest.schema.fields:
        if f.name in cur_types and cur_types[f.name] != _as_nullable(f.dataType):
            raise ValueError(
                f"column {f.name!r} changes type "
                f"{cur_types[f.name].simpleString()} -> "
                f"{f.dataType.simpleString()}; schema evolution supports "
                "adding columns, not retyping them"
            )
    merged = merge_mod.merge_upsert(
        current, latest, keys=keys, order_cols=order_cols
    )
    new_rels, staging = _stage_bucket_versions(
        merged, target, touched, fs,
        cluster_by=cluster_by, cluster_files=cluster_files,
    )
    # the staged versions, read back with the schema they were written
    # with (no footer job): the one source of truth for the stats and the
    # change capture below, which therefore never re-run the merge
    staged = sess.read.schema(merged.schema).parquet(
        *[os.path.join(target, rel) for rel in new_rels.values()]
    )
    # a merge replaces every entry of its buckets: with stats_cols, one
    # aggregate over the files just staged (JSON-safe scalar types only);
    # with cluster_by, one input_file_name pass over the same files; an
    # entry kind the merge does not record is dropped for its buckets, so
    # no stale bound survives to hide rows
    entries: dict[str, dict] = {"stats": {}, "nullstats": {}, "filestats": {}}
    if stats_cols:
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in stats_cols:
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nu_{c}"))
            aggs.append(F.approx_count_distinct(c).alias(f"__nd_{c}"))
        for r in staged.groupBy("__bucket").agg(*aggs).collect():
            b = str(r["__bucket"])
            entries["stats"][b] = {
                c: ent for c in stats_cols
                if (ent := _enc_bounds(r[f"__mn_{c}"], r[f"__mx_{c}"])) is not None
            }
            entries["nullstats"][b] = {
                "rows": int(r["__rows"]),
                "nulls": {c: int(r[f"__nu_{c}"]) for c in stats_cols},
                "ndv": {c: int(r[f"__nd_{c}"]) for c in stats_cols},
            }
    if cluster_by is not None:
        entries["filestats"] = _file_stats_for(
            sess, target, new_rels, cluster_by, merged.schema
        )
    # the commit's change rows are the diff between `current` (the touched
    # buckets' committed files, intact until the post-commit GC) and
    # `staged`: one touched-bucket-proportional full-outer join plus the
    # delta write, which buys read_commit_changes its O(delta) contract.
    # capture_changes=False records the commit uncaptured instead.
    _commit(
        target, fs, "merge", manifest, etag, staged=new_rels,
        staging=staging, entries=entries,
        fields={"schema": _nullable_schema_json(merged.schema)},
        changes=_change_rows(current, staged, keys) if capture_changes else None,
        captured=capture_changes,
    )


def start_merge_latest(
    events: DataFrame,
    target_dir: str | None = None,
    n_buckets: int = 16,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
):
    """Non-blocking variant of foreach_batch_merge_latest: returns
    (query, target_path); await the query, then read the target. Without
    ``target_dir`` the table, like the checkpoint, goes under the
    process's scratch root (``fs.scratch``) and is removed at exit.

    The writer lease is held per micro-batch under ONE stable owner id for
    the whole query, so a restart of the same query (same checkpoint)
    re-enters its own lease instead of waiting out a TTL, while a second
    distinct query against the same target fails loudly."""
    target = target_dir or merge_fs.scratch("gold_") + "/user_state"
    query_owner = f"merge_latest_{uuid.uuid4().hex[:12]}"
    q = (
        events.writeStream.foreachBatch(
            lambda batch, batch_id: merge_micro_batch(
                batch, target, n_buckets, fs, lease_owner=query_owner
            )
        )
        .option("checkpointLocation", merge_fs.scratch("ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    return q, target


def foreach_batch_merge_latest(
    spark: SparkSession,
    events: DataFrame,
    target_dir: str | None = None,
    n_buckets: int = 16,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
) -> DataFrame:
    """Streaming upsert (SNK-4 twin): per micro-batch, keep the latest event
    per user and MERGE into a bucket-versioned parquet gold table keyed by
    user_id. Per-batch cost ∝ touched buckets (see merge_micro_batch), not
    table size; commits are manifest-atomic."""
    q, target = start_merge_latest(events, target_dir, n_buckets, fs)
    q.awaitTermination()
    return read_merged(spark, target, fs=fs)
