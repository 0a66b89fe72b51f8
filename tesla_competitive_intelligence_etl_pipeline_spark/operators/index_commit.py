"""The derived-store layer: one implementation of the writes, recovery,
compaction, takedown and stats of the stores kept beside the corpus — the
IVF index, the PQ index, the IVF-PQ index and the MinHash signature table.

A ``Store`` describes one store: its root, its writer-lease scope (the root
itself, or a sibling ``<path>.lock`` for the signature table, whose root is
the parquet dir that a rebuild's ``mode("overwrite")`` replaces), its data
tables (cell-partitioned ``<cell_col>=<value>`` dirs, or one flat table at
the root) and its tombstone dir. ``store(kind, path)`` builds the
description of a registered kind. The kind modules keep only what differs
per kind (centroid assignment, PQ encoding, the signature ``_params``
check) and stage their appends here; every other operation is called
directly on ``store(kind, path)`` and returns one result shape for every
kind: ``recover``, ``compact``, ``write_tombstones``, ``read_tombstones``,
``read_live`` (a table's rows minus committed tombstones, the read every
search runs), ``stats``, ``tombstoned_rows`` and ``units``. Per-kind
policy comes from the ``Store`` (cells are coalesced, a flat table is
repartitioned; the signature table's id column is fixed).

Every mutation, recovery included, runs in a ``streaming.fs.leased``
section: the store's writer lease is acquired (a second writer gets
``ConcurrentWriterError``), a heartbeat re-stamps it while the section
runs, and it is released on exit. A crashed writer strands its lease;
break it (``streaming.fs.break_writer_lease``) once the writer is known
dead, then ``recover``.

Crash model. ``put_atomic`` is the only atomicity requirement (true of an
S3 object PUT). A file move may be copy+delete, and a single-object copy is
atomic, so after a crash each (source, destination) pair is in one of three
states: source only (redo the move), both (copy done, delete pending: drop
the source) or destination only (done). Every commit is one atomic marker
PUT that records the exact files involved; before the marker nothing
readers see has changed and staging is debris, after it ``recover`` rolls
the commit forward from the recorded lists. Each roll-forward step is
idempotent, so recovery converges from any crash point, including a crash
inside recovery. Spark writes all staging into dot-prefixed dirs, which
Spark's listing never reads.

- Append. The batch is staged in ``<table>/.append_<tag>/``. One marker
  commits it: ``.appendcommit_<tag>.json`` in the table dir for a
  single-table append, or ``.appendcommit_multi_<tag>.json`` at the store
  root for a batch that must land in several tables at once (IVF-PQ
  vectors and codes). Each staged file lands as ``<tag>-<file>`` in the
  live table, tables in the listed order. Tombstone writes are appends to
  the tombstone dir.
- Compaction swap. One unit (a cell dir, or the flat table's root) is
  rewritten into ``<table>/.sigcompact_<tag>/``; one
  ``<table>/.sigswap_<tag>.json`` marker names the unit and records the
  staged files, the files they replace and the tombstone files a purge
  consumed. Roll-forward removes the replaced files, lands the staged ones
  as ``<tag>-<file>``, then drops exactly the consumed tombstone files. A
  purge records its tombstones only in its last swap, so they are cleared
  after every tombstoned row is off disk, and a tombstone committed after
  the purge listed them survives any replay.
- ``recover`` lands committed appends (data tables and tombstones) before
  it replays swaps, so a swap replay never runs against a committed but
  unlanded tombstone; it drops marker-less staging.

Readers concurrent with a compaction swap can see a torn file set (the
tables have no manifest), so compaction runs where a deployment runs
OPTIMIZE. Appends and tombstone writes are safe beside readers.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import observed
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

MARKER_PREFIX = ".appendcommit_"
MULTI_MARKER_PREFIX = ".appendcommit_multi_"
STAGING_PREFIX = ".append_"
SWAP_PREFIX = ".sigswap_"
COMPACT_PREFIX = ".sigcompact_"


@dataclass(frozen=True)
class Store:
    root: str
    lease: str
    tables: tuple[str, ...]  # relative to root; "" is a flat table at the root
    cells: bool  # data tables are partitioned into <cell_col>=<value> dirs
    tombstones: str | None  # tombstone dir relative to root, None: no takedown
    id_col: str | None = None  # fixed row-id column; None: the caller names it

    def path(self, rel: str) -> str:
        return os.path.join(self.root, rel) if rel else self.root


# kind -> (data tables, cell-partitioned, tombstone dir, fixed id column,
# lease-scope suffix); takedown fans out over the kinds with tombstones
KINDS = {
    "ivfpq": (("vectors", "codes"), True, "tombstones", None, ""),
    "ivf": (("vectors",), True, "tombstones", None, ""),
    "pq": (("codes",), False, None, None, ""),
    "signature": (("",), False, "_tombstones", "doc_id", ".lock"),
}


TAKEDOWN_KINDS = tuple(kind for kind, spec in KINDS.items() if spec[2])


def store(kind: str, path: str) -> Store:
    tables, cells, tombstones, id_col, lease = KINDS[kind]
    root = path.rstrip("/")
    return Store(root, root + lease, tables, cells, tombstones, id_col)


def counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` observing its row count, read as ``int(obs.get["n"])`` after
    the write: the count and the written rows come from one evaluation."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _data_files(fs, d: str) -> list[str]:
    """Committed parquet files directly in ``d`` (dot- and underscore-
    prefixed entries are bookkeeping); [] when ``d`` is missing."""
    if not fs.isdir(d):
        return []
    return sorted(
        f for f in fs.listdir(d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def units(st: Store, rel: str, fs=None) -> dict[str, list[str]]:
    """{unit: committed data files} of the table ``rel``: its cell dirs, or
    "" for a flat table. Crash debris is not listed. A rising file count
    per unit under continuous appends calls for ``compact``."""
    fs = fs or mfs.LOCAL_FS
    table_dir = st.path(rel)
    if not st.cells:
        files = _data_files(fs, table_dir)
        return {"": files} if files else {}
    if not fs.isdir(table_dir):
        return {}
    return {
        cell: _data_files(fs, os.path.join(table_dir, cell))
        for cell in sorted(fs.listdir(table_dir))
        if not cell.startswith((".", "_")) and "=" in cell
        and fs.isdir(os.path.join(table_dir, cell))
    }


def new_staging(table_dir: str) -> tuple[str, str]:
    """A fresh append tag and its staging path inside ``table_dir``."""
    tag = uuid.uuid4().hex[:8]
    return tag, staging_path(table_dir, tag)


def staging_path(table_dir: str, tag: str) -> str:
    return os.path.join(table_dir, STAGING_PREFIX + tag)


def _staged_files(fs, staging: str) -> list[list[str]]:
    """[partition subdir or "", file] for every parquet file under the
    staging dir: one level for flat tables, two for partitionBy output."""
    out: list[list[str]] = []
    for entry in sorted(fs.listdir(staging)):
        full = os.path.join(staging, entry)
        if fs.isdir(full):
            if not entry.startswith((".", "_")):
                out.extend([entry, f] for f in _data_files(fs, full))
        elif entry.endswith(".parquet"):
            out.append(["", entry])
    return out


def _land_files(fs, table_dir: str, tag: str, files: list[list[str]]) -> None:
    staging = staging_path(table_dir, tag)
    for sub, f in files:
        dst = os.path.join(table_dir, sub, f"{tag}-{f}")
        if fs.exists(dst):
            fs.rmtree(os.path.join(staging, sub, f))
        else:
            fs.rename(os.path.join(staging, sub, f), dst)
    fs.rmtree(staging)


def staged_append(fs, st: Store, rels: list[str], write) -> int:
    """Stage a batch into each table in ``rels`` (``write(*staging_paths)``
    runs the Spark writes), then commit it with one marker: in the table
    dir for one table, at the store root for several. Tables land in list
    order, so list first the tables later stages join against (IVF-PQ:
    vectors before codes, so a reader between the two never shortlists an
    id whose vector is missing). Call inside ``mfs.leased``; returns the
    number of files landed."""
    tag = uuid.uuid4().hex[:8]
    write(*[staging_path(st.path(rel), tag) for rel in rels])
    tables = [[rel, _staged_files(fs, staging_path(st.path(rel), tag))] for rel in rels]
    if len(rels) == 1:
        marker = os.path.join(st.path(rels[0]), f"{MARKER_PREFIX}{tag}.json")
        meta = {"tag": tag, "files": tables[0][1]}
    else:
        marker = os.path.join(st.root, f"{MULTI_MARKER_PREFIX}{tag}.json")
        meta = {"tag": tag, "tables": tables}
    fs.put_atomic(marker, json.dumps(meta).encode())  # commit point
    for rel, files in tables:
        _land_files(fs, st.path(rel), tag, files)
    fs.rmtree(marker)
    return sum(len(files) for _, files in tables)


def write_tombstones(
    st: Store, keys: DataFrame, id_col: str, fs=None, lease_owner: str | None = None
) -> int:
    """Append the distinct ids of ``keys`` to the store's tombstones;
    searches anti-join them. Returns the number of ids appended."""
    fs = fs or mfs.LOCAL_FS
    ids, obs = counted(
        keys.select(F.col(id_col).alias(st.id_col or id_col)).distinct().coalesce(1)
    )
    with mfs.leased(fs, st.lease, lease_owner):
        staged_append(fs, st, [st.tombstones], ids.write.parquet)
    return int(obs.get["n"])


def read_tombstones(spark, st: Store, fs=None) -> DataFrame | None:
    """The committed tombstone ids, or None when there are none."""
    if not st.tombstones or not _data_files(fs or mfs.LOCAL_FS, st.path(st.tombstones)):
        return None
    return spark.read.parquet(st.path(st.tombstones))


def read_live(spark, st: Store, rel: str, id_col: str = "vec_id", fs=None) -> DataFrame:
    """The rows of table ``rel`` minus the committed tombstones: the read
    every search runs. The tombstone side is bounded by takedown volume,
    so it is broadcast; filters a search puts on the result (the probed
    cells) still reach the scan's PartitionFilters. With no tombstone the
    plan is the bare scan of a store that never deleted."""
    rows = spark.read.parquet(st.path(rel))
    tombs = read_tombstones(spark, st, fs)
    if tombs is None:
        return rows
    id_col = st.id_col or id_col
    return rows.join(F.broadcast(tombs.select(id_col)), id_col, "left_anti")


def _drop_tombstones(fs, st: Store, files: list[str]) -> None:
    """Drop the consumed tombstone files, then the dir once it is empty."""
    tdir = st.path(st.tombstones)
    for f in files:
        if fs.exists(os.path.join(tdir, f)):
            fs.rmtree(os.path.join(tdir, f))
    if fs.isdir(tdir) and not fs.listdir(tdir):
        fs.rmtree(tdir)


def _roll_swap_forward(fs, st: Store, table_dir: str, meta: dict) -> None:
    unit_dir = os.path.join(table_dir, meta["unit"])
    staging = os.path.join(table_dir, meta["staging"])
    for f in meta["old_files"]:
        fs.rmtree(os.path.join(unit_dir, f))
        crc = os.path.join(unit_dir, f".{f}.crc")  # Hadoop local checksum
        if fs.exists(crc):
            fs.rmtree(crc)
    for f in meta["files"]:
        dst = os.path.join(unit_dir, f"{meta['tag']}-{f}")
        if fs.exists(dst):
            fs.rmtree(os.path.join(staging, f))
        elif fs.exists(os.path.join(staging, f)):
            fs.rename(os.path.join(staging, f), dst)
    fs.rmtree(staging)
    _drop_tombstones(fs, st, meta["tomb_files"])
    fs.rmtree(os.path.join(table_dir, f"{SWAP_PREFIX}{meta['tag']}.json"))


def _recover_appends(fs, st: Store, dirs: list[str], out: dict) -> None:
    if fs.isdir(st.root):
        for entry in sorted(fs.listdir(st.root)):
            if entry.startswith(MULTI_MARKER_PREFIX) and entry.endswith(".json"):
                marker = os.path.join(st.root, entry)
                meta = json.loads(fs.read_bytes(marker).decode())
                for rel, files in meta["tables"]:
                    _land_files(fs, os.path.join(st.root, rel), meta["tag"], files)
                fs.rmtree(marker)
                out["completed"].append(meta["tag"])
    for d in dirs:
        if not fs.isdir(d):
            continue
        entries = sorted(fs.listdir(d))
        marked = set()
        for entry in entries:
            if (
                entry.startswith(MARKER_PREFIX)
                and not entry.startswith(MULTI_MARKER_PREFIX)
                and entry.endswith(".json")
            ):
                marker = os.path.join(d, entry)
                meta = json.loads(fs.read_bytes(marker).decode())
                _land_files(fs, d, meta["tag"], meta["files"])
                fs.rmtree(marker)
                marked.add(meta["tag"])
                out["completed"].append(meta["tag"])
        for entry in entries:
            if entry.startswith(STAGING_PREFIX) and entry[len(STAGING_PREFIX):] not in marked:
                fs.rmtree(os.path.join(d, entry))
                out["removed"].append(os.path.join(d, entry))


def _replay_swaps(fs, st: Store, table_dir: str, out: dict) -> None:
    if not fs.isdir(table_dir):
        return
    entries = sorted(fs.listdir(table_dir))
    marked = set()
    for entry in entries:
        if entry.startswith(SWAP_PREFIX) and entry.endswith(".json"):
            meta = json.loads(fs.read_bytes(os.path.join(table_dir, entry)).decode())
            _roll_swap_forward(fs, st, table_dir, meta)
            marked.add(meta["tag"])
            out["completed"].append(meta["tag"])
    for entry in entries:
        if entry.startswith(COMPACT_PREFIX) and entry[len(COMPACT_PREFIX):] not in marked:
            fs.rmtree(os.path.join(table_dir, entry))
            out["removed"].append(os.path.join(table_dir, entry))


def _recover(fs, st: Store) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {"completed": [], "removed": []}
    tables = [st.path(rel) for rel in st.tables]
    tombs = [st.path(st.tombstones)] if st.tombstones else []
    _recover_appends(fs, st, tables + tombs, out)
    for table_dir in tables:
        _replay_swaps(fs, st, table_dir, out)
    return out


def recover(st: Store, fs=None) -> dict[str, list[str]]:
    """Heal the store after a crash at any point (module docstring): roll
    committed appends and swaps forward, drop marker-less staging.
    Idempotent. Runs under the store's writer lease like every mutation,
    so a live writer's staging is never taken for debris: a writer that
    crashed strands its lease, which is broken
    (``streaming.fs.break_writer_lease``) once the writer is known dead.
    Returns {"completed": [commit tags], "removed": [paths]}."""
    fs = fs or mfs.LOCAL_FS
    with mfs.leased(fs, st.lease):
        return _recover(fs, st)


def compact(
    spark,
    st: Store,
    fs=None,
    target_files: int = 1,
    max_files: int | None = None,
    purge: bool = False,
    id_col: str = "vec_id",
    lease_owner: str | None = None,
) -> dict:
    """Rewrite each unit holding more than ``max_files`` data files (every
    unit when None) into ``target_files`` files, through one swap per unit.
    A cell is coalesced; a flat table is repartitioned instead, keeping its
    read fully parallel. Content never changes without ``purge``, so search
    results are identical before and after. ``purge`` drops
    tombstoned rows (physical erasure): units holding one are
    rewritten whatever their file count, and the consumed tombstones are
    cleared last. Recovers first, under the store's lease. Returns
    {"rewritten": {table: {unit: files}}, "files_before", "purged_rows",
    "tombstones_cleared"}."""
    fs = fs or mfs.LOCAL_FS
    id_col = st.id_col or id_col
    with mfs.leased(fs, st.lease, lease_owner):
        _recover(fs, st)
        tomb_files = _data_files(fs, st.path(st.tombstones)) if purge else []
        # duplicate ids change no semi or anti join: no distinct
        ids = (
            spark.read.parquet(st.path(st.tombstones)).select(id_col)
            if tomb_files else None
        )
        plan = []  # (table, unit, its files, drops tombstoned rows)
        for rel in st.tables:
            found = units(st, rel, fs)
            force = set(found) if ids is not None else set()
            if force and st.cells:
                # one id-and-cell-column scan observes the cells to purge
                cell_col = next(iter(found)).split("=", 1)[0]
                force = {
                    f"{cell_col}={c}"
                    for c in observed(
                        spark.read.parquet(st.path(rel))
                        .join(F.broadcast(ids), id_col, "semi")
                        .select(cell_col),
                        F.collect_set(cell_col),
                    )[0]
                }
            plan += [
                (rel, unit, files, unit in force) for unit, files in found.items()
                if max_files is None or len(files) > max_files or unit in force
            ]
        out = {
            "rewritten": {rel: {} for rel in st.tables},
            "files_before": sum(len(p[2]) for p in plan),
            "purged_rows": 0,
            "tombstones_cleared": bool(tomb_files),
        }
        for i, (rel, unit, olds, purging) in enumerate(plan):
            table_dir = st.path(rel)
            # a cell dir's files hold the non-partition columns; the cell
            # value comes back from the dir name on read
            df = spark.read.parquet(os.path.join(table_dir, unit))
            if purging:
                n_before = df.count()  # parquet footers, no data scan
                df = df.join(F.broadcast(ids), id_col, "left_anti")
            df, obs = counted(df)
            df = df.coalesce(target_files) if st.cells else df.repartition(target_files)
            tag = uuid.uuid4().hex[:8]
            staging = os.path.join(table_dir, COMPACT_PREFIX + tag)
            df.write.parquet(staging)
            if purging:
                out["purged_rows"] += n_before - int(obs.get["n"])
            meta = {
                "tag": tag,
                "unit": unit,
                "staging": COMPACT_PREFIX + tag,
                "files": _data_files(fs, staging),
                "old_files": olds,
                "tomb_files": tomb_files if i == len(plan) - 1 else [],
            }
            fs.put_atomic(
                os.path.join(table_dir, f"{SWAP_PREFIX}{tag}.json"),
                json.dumps(meta).encode(),
            )  # commit point
            _roll_swap_forward(fs, st, table_dir, meta)
            out["rewritten"][rel][unit] = len(meta["files"])
        if tomb_files and not plan:
            _drop_tombstones(fs, st, tomb_files)
        return out


def stats(st: Store, fs=None) -> dict:
    """Committed cell and file counts per table, the crash debris (staging,
    unprocessed markers) that calls for ``recover``, tombstone files and
    the lease state. Bookkeeping I/O only; no data file is read."""
    fs = fs or mfs.LOCAL_FS

    def n(entries, *prefixes):
        return sum(1 for e in entries if e.startswith(prefixes))

    out: dict = {
        "lease": mfs.lease_info(fs, st.lease),
        "multi_append_markers": n(
            fs.listdir(st.root) if fs.isdir(st.root) else [], MULTI_MARKER_PREFIX
        ),
        "tombstone_files": (
            len(_data_files(fs, st.path(st.tombstones))) if st.tombstones else 0
        ),
    }
    for rel in st.tables:
        table_dir = st.path(rel)
        counts = [len(f) for f in units(st, rel, fs).values()]
        entries = fs.listdir(table_dir) if fs.isdir(table_dir) else []
        out[rel] = {
            "cells": len(counts),
            "data_files": sum(counts),
            "max_files_per_cell": max(counts, default=0),
            "append_staging_dirs": n(entries, STAGING_PREFIX),
            "append_markers": n(entries, MARKER_PREFIX),
            "compact_staging_dirs": n(entries, COMPACT_PREFIX),
            "swap_markers": n(entries, SWAP_PREFIX),
        }
    return out


def tombstoned_rows(spark, st: Store, fs=None, id_col: str = "vec_id") -> int:
    """Tombstoned rows still on disk across the data tables: the purge debt,
    0 after ``compact(purge=True)``. Reads the id column only."""
    tombs = read_tombstones(spark, st, fs)
    if tombs is None:
        return 0
    id_col = st.id_col or id_col
    ids = F.broadcast(tombs.select(id_col))
    return sum(
        spark.read.parquet(st.path(rel)).join(ids, id_col, "semi").count()
        for rel in st.tables
    )
