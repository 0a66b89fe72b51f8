"""Erasure audit + snapshot-aware physical erasure for merge gold tables
(the deadline half of the GDPR story).

DELETE + purge erase the LIVE state, but erased rows keep existing on disk
in three other places a legal erasure deadline cares about:

1. superseded ``store/`` versions awaiting vacuum (plain debris),
2. versions PINNED by snapshots (time-travel reads them by design —
   ``vacuum_merge_table`` deliberately spares them forever),
3. the commit log's per-commit delta files under ``changes/`` — a DELETE's
   own CDC capture records the removed rows IN FULL (that is what makes
   ``read_commit_changes`` replayable), so the erased content survives in
   the changelog until retention ages it out.

``where_is`` is the audit ("where does id X still exist?" — the question a
deadline review asks first); ``erase_everywhere`` is the enforcement: live
DELETE, then either refuse loudly while snapshots still pin the content
(default — reproducibility pins are a deliberate promise someone must
consciously break) or REWRITE the pinned versions in place, then vacuum the
superseded versions and SCRUB the commit-log deltas (delete records keep
their key columns — downstream consumers still learn the id was removed —
but every other column is nulled; insert/update images of the erased keys
drop entirely). Delta Lake documents the same triad for GDPR: VACUUM
retention, CDF retention, and time-travel history as the three places a
deleted row outlives the DELETE.

Trade-off stated plainly: rewriting a pinned snapshot BREAKS bit-exact
reproducibility of whatever run pinned it — the re-read returns fewer rows.
That is inherent to erasure-vs-retention; the refuse mode exists so the
break is always an explicit decision, with the blocking tags named.

Scale shape: everything is driven by the request's keys — version scans are
pruned to the keys' hash buckets, the key set rides a broadcast semi/anti
join, and the driver loops are bounded by BOOKKEEPING counts (retained
versions in those buckets, snapshots, retained commits), never by row
counts. The only rewrites are id-holding versions and id-holding deltas.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as merge_fs


def _key_buckets(kdf: DataFrame, key_cols: list[str], n_buckets: int) -> set[str]:
    return {
        str(r["__b"])
        for r in kdf.select(
            F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).alias("__b")
        )
        .distinct()
        .collect()
    }


def _semi_count(spark, path: str, kdf: DataFrame, key_cols: list[str]) -> int:
    return (
        spark.read.parquet(path)
        .join(F.broadcast(kdf), key_cols, "left_semi")
        .count()
    )


def where_is(
    spark: SparkSession,
    target: str,
    keys: DataFrame,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
    kinds: tuple = ("live", "version", "snapshot", "changes"),
) -> list[dict]:
    """Audit every RETAINED location still holding the given keys. Returns
    one dict per hit, ``{"kind", "ref", "n_rows"}``, kinds:

    - ``live``      — the current manifest references a version holding
                      the keys (ref = the version rel): the DELETE half is
                      not even done.
    - ``version``   — an on-disk ``store/`` version NOT referenced by the
                      current manifest (superseded debris or snapshot-
                      pinned; ref = rel). Vacuum reclaims it unless pinned.
    - ``snapshot``  — a snapshot pins one or more id-holding versions
                      (ref = tag): time travel still serves the content.
    - ``changes``   — a commit's delta file carries rows for the keys
                      (ref = commit id): CDC replay still serves it.

    Empty list = the ids exist NOWHERE under the table dir — the assertion
    an erasure deadline needs. I/O is pruned to the keys' hash buckets for
    versions; the changes walk reads every retained delta once (bounded by
    ``changes_keep`` retention). Driver loops are bookkeeping-bounded.
    ``kinds`` restricts the audit: erase_everywhere's
    BLOCKING check only consumes live/version/snapshot, so it skips the
    full-changelog pass its scrub loop is about to pay anyway — the
    deadline-proof call keeps the default all-kinds audit."""
    manifest = strm._load_manifest(target, fs)
    if manifest is None:
        return []
    params = manifest["params"]
    key_cols, n_buckets = params["keys"], int(params["n_buckets"])
    kdf = keys.select(*key_cols).distinct()
    kbuckets = _key_buckets(kdf, key_cols, n_buckets)
    out: list[dict] = []

    live_rels = {os.path.normpath(r) for r in manifest["buckets"].values()}
    version_hits: dict[str, int] = {}
    store = os.path.join(target, "store")
    if ({"live", "version", "snapshot"} & set(kinds)) and fs.isdir(store):
        for b in sorted(fs.listdir(store)):
            if b not in kbuckets:
                continue  # keys cannot hash into other buckets
            bdir = os.path.join(store, b)
            if not fs.isdir(bdir):
                continue
            for ver in sorted(fs.listdir(bdir)):
                rel = os.path.normpath(os.path.join("store", b, ver))
                n = _semi_count(spark, os.path.join(target, rel), kdf, key_cols)
                if n:
                    version_hits[rel] = n
                    kind = "live" if rel in live_rels else "version"
                    if kind in kinds:
                        out.append({"kind": kind, "ref": rel, "n_rows": n})
    if "snapshot" in kinds:
        for tag in strm.list_snapshots(target, fs):
            snap = strm._load_snapshot_if_exists(target, tag, fs)
            if snap is None:
                continue
            n = sum(
                version_hits.get(os.path.normpath(rel), 0)
                for rel in snap["buckets"].values()
            )
            if n:
                out.append({"kind": "snapshot", "ref": tag, "n_rows": n})
    cdir = os.path.join(target, strm._CHANGES_DIR)
    if "changes" in kinds and fs.isdir(cdir):
        for cid in sorted(fs.listdir(cdir)):
            commit_dir = os.path.join(cdir, cid)
            if not fs.isdir(commit_dir):
                continue  # stray file in changes/ — not a commit
            # audit EVERY delta dir in the commit, not just the active
            # pointer target: a scrub crash — or a silently
            # failed best-effort removal — leaves the STALE pre-scrub
            # delta on disk, reader-invisible but physically retained;
            # an audit that resolved only the pointer would report a
            # false zero-residual deadline proof over it
            for d in sorted(fs.listdir(commit_dir)):
                delta = os.path.join(commit_dir, d)
                if d != "delta" and not d.startswith("delta_scrub_"):
                    continue
                if not fs.isdir(delta):
                    continue
                n = _delta_content_rows(spark, delta, kdf, key_cols)
                if n:
                    out.append(
                        {"kind": "changes", "ref": f"{cid}/{d}", "n_rows": n}
                    )
    return out


def _delta_content_rows(spark, delta: str, kdf: DataFrame, key_cols) -> int:
    """Count a delta dir's rows that hold retained CONTENT for the keys —
    a key-only delete/preimage record with every other column NULL is
    erasure EVIDENCE (what _scrub_delta keeps so CDC consumers still
    learn the key was removed), never a residual location. Shared by the
    where_is audit and _scrub_delta's needs-scrub test, so the scrub does
    not re-trigger on its OWN tombstones and a re-run no-ops."""
    df = spark.read.parquet(delta)
    hit = df.join(F.broadcast(kdf), key_cols, "left_semi")
    noncore = [
        c for c in df.columns if c not in key_cols and c != "_change_type"
    ]
    content = F.col("_change_type").isin("insert", "update_postimage")
    for c in noncore:
        content = content | F.col(c).isNotNull()
    return hit.filter(content).count()


def _rewrite_pinned_version(
    spark, target: str, rel: str, kdf: DataFrame, key_cols: list[str], fs
) -> str:
    """Rewrite one id-holding store version WITHOUT the keys, as a fresh
    immutable version dir under the same bucket. Nothing references the
    new dir until a snapshot manifest is re-pointed at it (one atomic put
    per snapshot), so a crash mid-write strands invisible debris vacuum
    reclaims — the same phase-1 discipline as the merge."""
    b = rel.split(os.sep)[1]
    new_rel = os.path.normpath(
        os.path.join("store", b, "erase" + uuid.uuid4().hex[:12])
    )
    (
        spark.read.parquet(os.path.join(target, rel))
        .join(F.broadcast(kdf), key_cols, "left_anti")
        .write.parquet(os.path.join(target, new_rel))
    )
    return new_rel


def _scrub_delta(
    spark, target: str, cid: str, kdf: DataFrame, key_cols: list[str], fs,
    active: str | None = None,
) -> bool:
    """Rewrite one commit's delta without the erased keys' content: their
    delete/preimage records keep ONLY the key columns (+ _change_type) —
    consumers replaying the log still learn the keys were removed — and
    their insert/postimage rows drop entirely; all other rows are
    byte-identical.

    Publication is an ATOMIC-PUT POINTER SWAP (an rmtree + rename through
    the reader-visible ``delta`` path could, on a store with non-atomic
    rename — the documented S3 copy+delete semantics — expose a
    PARTIALLY-copied delta that reads as silently truncated rows, and a
    crash between the rmtree and the rename would lose the delta while
    the complete scrub sat unnamed on disk):
    the scrubbed rows land in a fresh ``delta_scrub_<uuid>`` dir (unnamed
    => reader-invisible), ONE put of ``_scrub.json`` re-points every
    reader (events._delta_dir), and the superseded dir is then removed
    best-effort. A crash before the put leaves invisible staging; after
    it, stale-dir debris — the entry cleanup below reclaims both on the
    next run, so a re-run truly converges (and the needs-scrub test
    counts CONTENT rows, not the scrub's own key-only tombstones, so an
    already-scrubbed delta is a genuine no-op)."""
    cdir = os.path.join(target, strm._CHANGES_DIR, cid)
    active = active or strm._delta_dir(target, cid, fs)
    # converge crashed swaps: every delta dir that is NOT the active one
    # is either pre-put staging or post-put stale — both safe to reclaim
    for d in fs.listdir(cdir):
        p = os.path.join(cdir, d)
        if (
            (d == "delta" or d.startswith("delta_scrub_"))
            and os.path.normpath(p) != os.path.normpath(active)
        ):
            fs.rmtree(p)
    if _delta_content_rows(spark, active, kdf, key_cols) == 0:
        return False
    df = spark.read.parquet(active)
    hit = df.join(F.broadcast(kdf), key_cols, "left_semi")
    keep = df.join(F.broadcast(kdf), key_cols, "left_anti")
    kept_cols = set(key_cols) | {"_change_type"}
    tomb = hit.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select(
        *[
            F.col(c) if c in kept_cols else F.lit(None).cast(dict(df.dtypes)[c]).alias(c)
            for c in df.columns
        ]
    )
    staged_name = f"delta_scrub_{uuid.uuid4().hex[:8]}"
    keep.unionByName(tomb).write.parquet(os.path.join(cdir, staged_name))
    fs.put_atomic(  # THE swap: one atomic pointer put
        os.path.join(cdir, "_scrub.json"),
        json.dumps({"delta": staged_name}).encode(),
    )
    fs.rmtree(active)  # best-effort; a crash leaves invisible debris
    return True


def erase_everywhere(
    spark: SparkSession,
    target: str,
    keys: DataFrame,
    mode: str = "refuse",
    scrub_changes: bool = True,
    fs: merge_fs.MergeFS = merge_fs.LOCAL_FS,
    lease_owner: str | None = None,
) -> dict:
    """Complete physical erasure of the given keys from a merge gold
    table: live DELETE, snapshot handling per ``mode``, vacuum of
    superseded versions, commit-log delta scrub, and a final ``where_is``
    audit (returned as ``residual`` — the empty list IS the deadline
    proof).

    ``mode='refuse'`` (default): if any snapshot still pins id-holding
    versions after the live delete, raise BEFORE touching anything
    pinned, naming every blocking tag — dropping or rewriting a
    reproducibility pin must be an explicit decision.
    ``mode='rewrite'``: rewrite each pinned id-holding version once
    (shared versions rewritten once, every pinning snapshot re-pointed
    via its own atomic manifest put), clearing the pins without dropping
    the tags; the pinned states stay readable minus the erased rows
    (reproducibility of those runs is consciously broken — that is what
    erasure means). Bucket-keyed stats survive (min/max stay valid
    supersets when rows are only removed); version-keyed file stats for
    re-pointed buckets are dropped (the reader's rel check would ignore
    them anyway).

    Idempotent: every phase re-derives its work from what is still on
    disk, so re-running after any crash converges; a crash inside a
    delta scrub leaves that commit's CDC read failing loudly to the
    state-diff fallback, never silently partial. Holds the table's
    writer lease across snapshot rewrite + vacuum + scrub. Returns
    ``{"deleted", "rewritten_versions", "updated_snapshots",
    "scrubbed_commits", "residual"}``."""
    if mode not in ("refuse", "rewrite"):
        raise ValueError(f"mode must be 'refuse' or 'rewrite', got {mode!r}")
    owner = lease_owner or f"erase_{uuid.uuid4().hex[:12]}"
    deleted = strm.delete_from_merge_table(
        spark, target, keys=keys, fs=fs, lease_owner=owner
    )
    manifest = strm._load_manifest(target, fs)
    if manifest is None:
        return {
            "deleted": deleted,
            "rewritten_versions": [],
            "updated_snapshots": [],
            "scrubbed_commits": [],
            "residual": [],
        }
    key_cols = manifest["params"]["keys"]
    kdf = keys.select(*key_cols).distinct()

    with merge_fs.leased(fs, target, owner):
        # ---- snapshots ------------------------------------------------
        # blocking detection consumes only live/version/snapshot —
        # skipping the changes walk here halves the erasure's
        # changelog I/O (the scrub loop below reads every delta
        # anyway); the DEADLINE audit at the end stays all-kinds
        audit = where_is(
            spark, target, keys, fs,
            kinds=("live", "version", "snapshot"),
        )
        hit_rels = {
            h["ref"] for h in audit if h["kind"] in ("live", "version")
        }
        blocking: dict[str, list[str]] = {}
        for h in audit:
            if h["kind"] != "snapshot":
                continue
            snap = strm._load_snapshot_if_exists(target, h["ref"], fs)
            if snap is None:
                continue
            rels = [
                os.path.normpath(rel)
                for rel in snap["buckets"].values()
                if os.path.normpath(rel) in hit_rels
            ]
            if rels:
                blocking[h["ref"]] = rels
        rewritten: dict[str, str] = {}
        updated: list[str] = []
        if blocking and mode == "refuse":
            raise ValueError(
                f"erasure at {target} is blocked by snapshot(s) still "
                f"pinning the keys: {sorted(blocking)} — drop them "
                "(drop_snapshot) or re-run with mode='rewrite' to "
                "rewrite the pinned versions in place (breaks "
                "bit-exact reproducibility of the runs that pinned "
                "them)."
            )
        for tag, rels in sorted(blocking.items()):
            snap = strm._load_snapshot_if_exists(target, tag, fs)
            if snap is None:
                continue
            changed = False
            for b, rel in list(snap["buckets"].items()):
                nrel = os.path.normpath(rel)
                if nrel not in set(rels):
                    continue
                if nrel not in rewritten:  # shared versions: once
                    rewritten[nrel] = _rewrite_pinned_version(
                        spark, target, nrel, kdf, key_cols, fs
                    )
                snap["buckets"][b] = rewritten[nrel]
                if "filestats" in snap:
                    snap["filestats"].pop(b, None)
                changed = True
            if changed:
                if not snap.get("filestats"):
                    snap.pop("filestats", None)
                fs.put_atomic(  # one atomic re-point per snapshot
                    strm._snapshot_path(target, tag),
                    json.dumps(snap).encode(),
                )
                updated.append(tag)
        # ---- vacuum: superseded + rewritten-away versions -------------
        # the erasure DEADLINE wants the erased rows' superseded versions
        # off disk NOW. This section holds the table's lease, so the
        # lease-free vacuum body runs with no grace and without the
        # bump-anchored sparing (no writer can be staging, and that
        # sparing would leave young id-holding versions as residual)
        strm._vacuum_locked(target, fs, staged_grace_sec=0.0, exclusive=True)
        # ---- commit-log scrub -----------------------------------------
        scrubbed: list[str] = []
        if scrub_changes:
            cdir = os.path.join(target, strm._CHANGES_DIR)
            if fs.isdir(cdir):
                for cid in sorted(fs.listdir(cdir)):
                    active = strm._delta_dir(target, cid, fs)
                    if fs.isdir(active) and _scrub_delta(
                        spark, target, cid, kdf, key_cols, fs,
                        active=active,
                    ):
                        scrubbed.append(cid)
        residual = where_is(spark, target, keys, fs)
        return {
            "deleted": deleted,
            "rewritten_versions": sorted(rewritten),
            "updated_snapshots": updated,
            "scrubbed_commits": scrubbed,
            "residual": residual,
        }
