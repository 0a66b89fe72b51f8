"""End-to-end takedown orchestration with durable requests.

One erasure request, every store that could surface the content. The pieces
exist individually — merge-table DELETE (streaming.events), commit-log
delete records (read_commit_changes), ANN-index tombstones (similarity /
clustering), signature-table tombstones (dedup) — and their pairwise
compositions are pinned in tests. This module is the operator a deployment
actually schedules: it routes ONE request through all of them and reports
what each store did, so an id can never be erased from the corpus but keep
matching crawl increments or surfacing from an index.

Durability: the request is recorded UNDER THE CORPUS
TABLE (``<corpus>/_takedown/<request_id>.json``) BEFORE anything mutates,
and removed only after every listed store has its tombstones. A crash at
any point therefore leaves either nothing (pre-record) or a record that
``recover_takedowns`` completes: it re-derives the delete set from the
commit log (the exact delete commit when the record carries its id; the
pinned-snapshot CDC read otherwise) and re-runs the tombstone fan-out —
tombstone appends are idempotent, so recovery converges no matter how much
of the fan-out already ran. The ephemeral snapshot pin that anchors the CDC
since-point lives exactly as long as its record (record put -> pin ->
delete -> fan-out -> record removed -> pin dropped), so
``sweep_takedown_pins`` can tell a LIVE takedown's pin (its record exists —
spared) from one stranded by a crash AFTER propagation completed (record
gone — safe to drop), so no live pin is raced and no age heuristic is
needed.

Run ``recover_takedowns`` at restart healing, where the stores'
``index_commit.recover`` runs, BEFORE resuming other writers to the corpus: a record
without a recorded delete-commit id (the crash hit before the delete
committed, or before the stamp landed) falls back to the pinned-state CDC
read, which is exact only while no LATER commit has landed on the table.
With the stamp present — the common case, it lands in the same call as the
delete — recovery is exact regardless of later traffic.

Scale shape: the corpus DELETE is bucket-span / pruning-pass I/O, the CDC
read is O(delta) (exactly the delete records the commit captured), every
tombstone append is O(batch), and the request record is one tiny JSON.
Nothing reads the corpus or any index's data files. Physical purge stays a
scheduled job (``index_commit.compact(purge=True)`` — see DEPLOYMENT.md's
maintenance table); this operator is the request-time half.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.streaming.fs import (
    TAKEDOWN_DELETE_COMMIT_FIELD as _DELETE_COMMIT,
    TAKEDOWN_REQUEST_DIR as _REQUEST_DIR,
)

_EPHEMERAL_PREFIX = "takedown-"
_STORES_FILE = "_stores.json"
# kind -> the takedown/verify parameter it feeds
STORE_KINDS = ("ivf", "ivfpq", "signature", "table")


def _stores_path(corpus: str) -> str:
    return os.path.join(corpus, _STORES_FILE)


def _load_stores(corpus: str, fs) -> dict:
    try:
        return json.loads(fs.read_bytes(_stores_path(corpus)).decode())
    except FileNotFoundError:
        return {"version": 1, "stores": []}


def _mutate_stores(corpus: str, fs, mutate) -> dict:
    """Read-modify-write the corpus' store registry. On a CAS store the
    update is conditional on the generation read (concurrent registrations
    from two hosts both land — lost-update-free); on plain stores it is a
    put_atomic under the caller's operational single-registrar discipline
    (the same tier the writer lease falls back to)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    path = _stores_path(corpus)
    if getattr(fs, "supports_cas", False):
        for _ in range(16):
            try:
                raw, etag = fs.read_with_etag(path)
                doc, have = json.loads(raw.decode()), True
            except FileNotFoundError:
                doc, etag, have = {"version": 1, "stores": []}, None, False
            new = mutate(doc)
            data = json.dumps(new).encode()
            ok = (
                fs.put_if_match(path, data, etag)
                if have
                else fs.put_if_absent(path, data)
            )
            if ok:
                return new
        raise mfs.ConcurrentWriterError(
            f"store registry at {path}: 16 consecutive CAS losses — "
            "registrations are racing continuously; retry"
        )
    new = mutate(_load_stores(corpus, fs))
    data = json.dumps(new).encode()
    fs.put_atomic(path, data)
    # post-write read-back: on a plain filesystem this
    # is last-writer-wins — two concurrent registrations can silently lose
    # one. The single-registrar discipline is the operational contract;
    # this makes a violation OBSERVABLE instead of silent: if what landed
    # is not what we wrote, a concurrent writer interleaved.
    try:
        landed = fs.read_bytes(path)
    except FileNotFoundError:  # pragma: no cover - racing delete
        landed = None
    if landed != data:
        raise mfs.ConcurrentWriterError(
            f"store registry at {path}: read-back after put_atomic does not "
            "match what was written — a concurrent registrar interleaved "
            "(the non-CAS path assumes a single registrar). Re-run the "
            "registration; consider a CAS-capable store for multi-host "
            "registration."
        )
    return new


def _store_form(corpus: str, path: str) -> str:
    """Storage form of a store path inside ``_stores.json``: stores
    located UNDER or NEXT TO the corpus (the co-located layouts every
    test and deployment recipe uses) are recorded
    corpus-RELATIVE, so a corpus directory that is later copied or
    relocated (the clone-before-takedown pattern) carries a registry that
    resolves to the CLONE's co-located stores, not the original's.
    Anything further away stays absolute — a truly remote store does not
    move with the corpus."""
    rel = os.path.relpath(os.path.normpath(path), os.path.normpath(corpus))
    # under the corpus (no '..') or next to it (exactly one '..' level)
    parts = rel.split(os.sep)
    if parts[0] != ".." or (len(parts) > 1 and parts[1] != ".."):
        return rel
    return os.path.normpath(path)


def _resolve_store_path(corpus: str, p: str) -> str:
    return p if os.path.isabs(p) else os.path.normpath(os.path.join(corpus, p))


def register_store(
    corpus: str, path: str, kind: str, fs=None
) -> dict[str, tuple[str, ...]]:
    """Record a derived store under the corpus itself:
    ``<corpus>/_stores.json`` (the ``_takedown/`` durability
    precedent) becomes the single source of truth for WHICH stores hold
    content derived from this corpus, so an erasure can never silently miss
    one. ``kind``: ``'ivf'`` / ``'ivfpq'`` (ANN indexes), ``'signature'``
    (LSH signature tables), ``'table'`` (any other parquet derivation keyed
    by the corpus id — audited by takedown_verify, listed for the caller by
    takedown since only the caller knows how to mutate it).

    Once registered, ``takedown`` / ``takedown_verify`` called with NO
    store arguments fan out to / audit exactly the registry, and a
    caller-supplied list that OMITS a registered store fails loudly, so a
    forgotten index cannot silently escape either the erasure or the
    zero-residual proof. Idempotent; CAS-safe read-modify-write on
    stores that support it. Returns the registry after the update.

    Stores located under or next to the corpus are recorded
    corpus-RELATIVE and resolve against the corpus path at read time (a
    cloned/relocated corpus' registry points at ITS co-located stores, not
    the original's); remote stores stay absolute.
    Prefer letting the BUILDERS register for you: build_ivf_index /
    build_ivfpq_index / pq_build_index / write_signature_table* all take
    ``corpus=`` and call this after their write commits."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    fs = fs or mfs.LOCAL_FS
    if kind not in STORE_KINDS:
        raise ValueError(
            f"register_store: kind must be one of {STORE_KINDS}, got {kind!r}"
        )
    stored = _store_form(corpus, path)
    resolved = _resolve_store_path(corpus, stored)

    def _add(doc: dict) -> dict:
        def _same(s: dict) -> bool:
            return _resolve_store_path(corpus, s["path"]) == resolved

        stores = [s for s in doc.get("stores", []) if not _same(s)]
        prev = [s for s in doc.get("stores", []) if _same(s)]
        if prev and prev[0]["kind"] != kind:
            raise ValueError(
                f"register_store: {resolved} is already registered as kind "
                f"{prev[0]['kind']!r}; unregister it first to re-kind"
            )
        stores.append(
            prev[0] if prev else
            {"path": stored, "kind": kind, "registered_at": time.time()}
        )
        stores.sort(key=lambda s: s["path"])
        return {**doc, "stores": stores}

    return _as_kind_map(corpus, _mutate_stores(corpus, fs, _add))


def unregister_store(corpus: str, path: str, fs=None) -> bool:
    """Remove a store from the corpus' registry (the store was rebuilt
    elsewhere, or retired and deleted). Returns whether it was present.
    NOT the path for a store that still exists — unregistering a live
    store re-opens the silent-escape hole register_store closes."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    fs = fs or mfs.LOCAL_FS
    resolved = _resolve_store_path(corpus, os.path.normpath(path))
    present = []

    def _drop(doc: dict) -> dict:
        stores = doc.get("stores", [])
        present.clear()
        present.extend(
            s for s in stores
            if _resolve_store_path(corpus, s["path"]) == resolved
        )
        return {
            **doc,
            "stores": [
                s for s in stores
                if _resolve_store_path(corpus, s["path"]) != resolved
            ],
        }

    _mutate_stores(corpus, fs, _drop)
    return bool(present)


def _as_kind_map(corpus: str, doc: dict) -> dict[str, tuple[str, ...]]:
    """Registry document -> {kind: (absolute paths...)}. Relative entries
    (co-located stores) resolve against THIS corpus path, so a relocated
    corpus' registry points at its own co-located stores."""
    out: dict[str, tuple[str, ...]] = {k: () for k in STORE_KINDS}
    for s in doc.get("stores", []):
        if s["kind"] not in out:
            # ValueError with the offending kind and file, not a bare
            # KeyError crashing every takedown call —
            # a hand-edited registry or one written by a newer version
            # must be diagnosable.
            raise ValueError(
                f"store registry {_stores_path(corpus)}: unknown store "
                f"kind {s['kind']!r} for {s['path']!r} (known kinds: "
                f"{STORE_KINDS}) — the file was hand-edited or written by "
                "a newer engine version"
            )
        out[s["kind"]] = (*out[s["kind"]], _resolve_store_path(corpus, s["path"]))
    return out


def registered_stores(corpus: str, fs=None) -> dict[str, tuple[str, ...]]:
    """The corpus' derived-store registry as ``{kind: (paths...)}`` —
    every kind present (empty tuple when none registered). Paths are
    returned ABSOLUTE (relative entries resolved against ``corpus``)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    return _as_kind_map(corpus, _load_stores(corpus, fs or mfs.LOCAL_FS))


def _resolve_stores(
    corpus: str,
    fs,
    op: str,
    ivf_indexes,
    ivfpq_indexes,
    signature_tables,
    extra_tables=None,
) -> dict[str, tuple[str, ...]]:
    """Default each store list to the corpus registry (``None`` = "use the
    registry"); validate a caller-supplied list against it. Supersets are
    fine (an unregistered ad-hoc store can still be included), but OMITTING
    a registered store raises — the registry exists so the erasure/audit
    can never quietly cover less than everything registered. An explicit
    empty tuple is a caller-supplied list like any other: it passes only
    while nothing of that kind is registered."""
    reg = registered_stores(corpus, fs)
    supplied = {
        "ivf": ivf_indexes,
        "ivfpq": ivfpq_indexes,
        "signature": signature_tables,
        "table": extra_tables,
    }
    out: dict[str, tuple[str, ...]] = {}
    for kind, arg in supplied.items():
        if arg is None:
            out[kind] = reg[kind]
            continue
        given = tuple(os.path.normpath(p) for p in arg)
        missing = [p for p in reg[kind] if p not in given]
        if missing:
            raise ValueError(
                f"{op}: the supplied {kind} store list omits registered "
                f"store(s) {missing} — a forgotten store would silently "
                "escape the erasure/audit. Include them, pass no list to "
                "use the registry, or unregister_store() a store that was "
                "genuinely retired."
            )
        out[kind] = given
    return out


def _request_dir(corpus: str) -> str:
    return os.path.join(corpus, _REQUEST_DIR)


def _request_path(corpus: str, request_id: str) -> str:
    return os.path.join(_request_dir(corpus), request_id + ".json")


def _list_requests(corpus: str, fs) -> list[dict]:
    d = _request_dir(corpus)
    if not fs.isdir(d):
        return []
    out = []
    for f in sorted(fs.listdir(d)):
        if f.endswith(".json"):
            out.append(json.loads(fs.read_bytes(os.path.join(d, f)).decode()))
    # oldest first BY THE RECORDED CLOCK — filenames are uuid hex, so a
    # filename sort is random order (the recover docstring promises
    # oldest-first, and the no-stamp CDC path's exactness argument
    # reasons about what committed since the OLDEST crash)
    out.sort(key=lambda rec: rec.get("created_at") or 0.0)
    return out


def _propagate(
    spark: SparkSession,
    gone_rows: list,
    id_col: str,
    stores: dict[str, tuple[str, ...]],
    fs,
    lease_owner: str | None,
) -> dict[str, int]:
    """Tombstone the delete set in every listed store of each kind that
    keeps tombstones (index_commit.write_tombstones): idempotent, so both
    the happy path and crash recovery drive the same fan-out. Returns
    {store path: ids tombstoned}."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import index_commit as ic

    ids = spark.createDataFrame(gone_rows) if gone_rows else None
    out: dict[str, int] = {}
    for kind in ic.TAKEDOWN_KINDS:
        for path in stores.get(kind, ()):
            out[path] = 0 if ids is None else ic.write_tombstones(
                ic.store(kind, path), ids, id_col, fs, lease_owner
            )
    return out


def sweep_takedown_pins(target: str, fs=None) -> list[str]:
    """Drop the ephemeral ``takedown-*`` snapshot pins that no LIVE
    request record references — stranded, they pin the pre-delete store
    versions (including the erased rows) against vacuum forever, quietly
    defeating the erasure. A pin whose record still exists under
    ``_takedown/`` belongs to an in-flight or crashed-but-recoverable
    takedown (the record is written BEFORE the pin and removed BEFORE the
    pin is dropped) and is always spared — so this sweep can run as
    routine maintenance on a host that didn't issue the takedown without
    racing a live one. Run ``recover_takedowns`` first:
    it completes crashed requests, removes their records, and drops their
    pins, leaving this sweep only the record-less debris of crashes in
    the final drop itself. Named (non-``takedown-``) snapshots are never
    touched. Idempotent; returns the dropped tags."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    fs = fs or mfs.LOCAL_FS
    # READ ORDER IS THE SAFETY ARGUMENT: the writer's order is
    # record-then-pin, so the sweep must read snapshots FIRST and records
    # SECOND — any pin in the snapshot listing was written AFTER its
    # record, so the later record read can only see MORE records, never
    # miss a live pin's. A records-first order would race a takedown
    # starting between the two reads: its pin listed, its record not, the
    # sweep would drop a LIVE pin mid-takedown, and recover_takedowns
    # would misread the crash as pre-pin and delete the record, silently
    # losing propagation.
    tags = list(strm.list_snapshots(target, fs))
    live = {rec["tag"] for rec in _list_requests(target, fs)}
    dropped = []
    for tag in tags:
        if tag.startswith(_EPHEMERAL_PREFIX) and tag not in live:
            strm.drop_snapshot(target, tag, fs=fs)
            dropped.append(tag)
    return dropped


def recover_takedowns(
    spark: SparkSession,
    corpus: str,
    fs=None,
    lease_owner: str | None = None,
) -> list[dict]:
    """Complete every takedown whose process crashed between the durable
    request record and the final cleanup: without it, a crash after the
    corpus DELETE committed but before the tombstone fan-out would lose
    propagation for good (re-running takedown finds nothing left to
    delete).

    Per stranded record, oldest first:

    - pin missing -> the crash hit before the snapshot (so before the
      delete): nothing mutated; drop the record.
    - record carries the delete's commit id -> read EXACTLY that commit's
      delta (``changes/<id>/delta``) for the delete rows. If a
      ``vacuum(changes_keep=N)`` already reclaimed it, raise loudly —
      the erasure obligation cannot be silently dropped; tombstone the
      stores manually from the request's source list, then remove the
      record. (Operationally: retention must outlive recovery, the same
      contract Delta's CDF retention carries.)
    - no commit id (crash before the delete committed, or before the
      stamp landed) -> the pinned-snapshot CDC read
      (``read_commit_changes(since=tag)``, state-diff fallback) supplies
      the delete set. Exact while nothing else has committed since the
      crash — hence the module contract: run this at restart BEFORE
      resuming other writers.

    Then re-run the idempotent tombstone fan-out to the record's stores,
    remove the record, and drop the pin. Returns one summary dict per
    record handled."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    fs = fs or mfs.LOCAL_FS
    out: list[dict] = []
    snapshots = set(strm.list_snapshots(corpus, fs))
    for rec in _list_requests(corpus, fs):
        rid, tag, id_col = rec["id"], rec["tag"], rec["id_col"]
        rpath = _request_path(corpus, rid)
        if tag not in snapshots:
            fs.rmtree(rpath)
            out.append({"id": rid, "action": "dropped_pre_pin", "stores": {}})
            continue
        commit_id = rec.get(_DELETE_COMMIT)
        if commit_id:
            # resolve through the scrub pointer: an erased-and-
            # scrubbed delta still carries the key-only delete records —
            # exactly the delete set recovery needs
            delta_dir = strm._delta_dir(corpus, commit_id, fs)
            if not fs.isdir(delta_dir):
                raise ValueError(
                    f"takedown {rid} at {corpus}: its delete commit "
                    f"{commit_id}'s delta was vacuumed (changes_keep "
                    "retention) before propagation completed — the delete "
                    "set is unrecoverable from the log. Tombstone the "
                    "request's stores manually from the original source "
                    "list, then remove "
                    f"{rpath} and drop snapshot {tag!r}."
                )
            gone = (
                spark.read.parquet(delta_dir)
                .filter(F.col("_change_type") == "delete")
                .select(id_col)
                .distinct()
            )
        else:
            try:
                gone = strm.read_commit_changes(spark, corpus, since=tag, fs=fs)
            except ValueError:
                gone = strm.read_changes(spark, corpus, since=tag, fs=fs)
            gone = (
                gone.filter(F.col("_change_type") == "delete")
                .select(id_col)
                .distinct()
            )
        gone_rows = gone.collect()
        stores = _propagate(
            spark,
            gone_rows,
            id_col,
            {
                "ivf": tuple(rec.get("ivf_indexes") or ()),
                "ivfpq": tuple(rec.get("ivfpq_indexes") or ()),
                "signature": tuple(rec.get("signature_tables") or ()),
            },
            fs,
            lease_owner,
        )
        fs.rmtree(rpath)  # obligation met — BEFORE the pin drop (see sweep)
        strm.drop_snapshot(corpus, tag, fs=fs)
        out.append(
            {
                "id": rid,
                "action": "propagated",
                "corpus_deleted": len(gone_rows),
                "stores": stores,
            }
        )
    return out


def takedown_verify(
    spark: SparkSession,
    corpus: str,
    keys: DataFrame,
    id_col: str = "doc_id",
    ivf_indexes: tuple[str, ...] | None = None,
    ivfpq_indexes: tuple[str, ...] | None = None,
    signature_tables: tuple[str, ...] | None = None,
    extra_tables: tuple[str, ...] | None = None,
    fs=None,
) -> list[dict]:
    """ONE audit across the corpus table AND every derived store (the
    erasure deadline's gap): ``erasure.where_is`` proves the
    merge table clean (live state, superseded versions, snapshot pins,
    commit-log deltas), but an erased id's DERIVED footprints — vectors
    and PQ codes in ANN indexes, stored MinHash signatures in LSH
    signature tables — were only visible via per-store gauges. A GDPR
    deadline needs one call that proves the id exists NOWHERE.

    Returns one dict per residual location, ``{"store", "kind", "ref",
    "n_rows"}`` — empty list = zero residual everywhere, the deadline
    proof. Corpus hits come straight from ``where_is`` (kinds
    live/version/snapshot/changes); store hits scan the COMMITTED data
    files raw (dot-staging is invisible to Spark's listing; tombstones are
    deliberately NOT applied — a tombstoned-but-unpurged row is still
    retained content on disk until ``index_commit.compact(purge=True)``
    runs, exactly what this audit must surface). Tombstone files
    themselves hold only the ids (key-only erasure EVIDENCE, the analog of
    the commit log's key-only delete records) and never count. Store
    kinds: ``index_vectors`` (IVF / IVF-PQ vectors tables),
    ``index_codes`` (IVF-PQ codes), ``signature_rows`` (LSH signature
    tables), ``table_rows`` (caller-supplied ``extra_tables`` — any other
    parquet derivation keyed by ``id_col``, e.g. engine-hash fixture
    tables).

    Scale shape: each store scan is ONE column-pruned pass (the semi join
    needs only ``id_col``, so parquet reads a single column) with the
    request's ids on the broadcast side; the corpus half inherits
    where_is' bucket pruning. No store's read API (and thus no tombstone
    anti-join) is in the loop — raw committed bytes are the audit's
    ground truth.

    Store lists default to the corpus' persisted registry
    (``register_store``): pass nothing and the audit covers EVERY
    registered store; a supplied list that omits a registered store
    raises instead of producing a proof that quietly covered less."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import erasure
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    fs = fs or mfs.LOCAL_FS
    resolved = _resolve_stores(
        corpus, fs, "takedown_verify",
        ivf_indexes, ivfpq_indexes, signature_tables, extra_tables,
    )
    ivf_indexes = resolved["ivf"]
    ivfpq_indexes = resolved["ivfpq"]
    signature_tables = resolved["signature"]
    extra_tables = resolved["table"]
    out: list[dict] = []
    for hit in erasure.where_is(spark, corpus, keys, fs):
        out.append({"store": corpus, **hit})

    kdf = keys.select(id_col).distinct()

    def _scan(table_dir: str, store: str, kind: str) -> None:
        if not fs.isdir(table_dir):
            return
        try:
            df = spark.read.parquet(table_dir)
        except Exception as exc:  # empty dir (all rows purged) is clean
            if "PATH_NOT_FOUND" in str(exc) or "UNABLE_TO_INFER_SCHEMA" in str(exc):
                return
            raise
        if id_col not in df.columns:
            raise ValueError(
                f"takedown_verify: {table_dir} has no {id_col!r} column — "
                f"wrong table for this audit (columns: {df.columns})"
            )
        n = df.join(F.broadcast(kdf), id_col, "left_semi").count()
        if n:
            ref = os.path.relpath(table_dir, store) if table_dir != store else "."
            out.append({"store": store, "kind": kind, "ref": ref, "n_rows": n})

    for path in ivfpq_indexes:
        _scan(os.path.join(path, "vectors"), path, "index_vectors")
        _scan(os.path.join(path, "codes"), path, "index_codes")
    for path in ivf_indexes:
        _scan(os.path.join(path, "vectors"), path, "index_vectors")
    for path in signature_tables:
        _scan(path, path, "signature_rows")
    for path in extra_tables:
        _scan(path, path, "table_rows")
    return out


def takedown(
    spark: SparkSession,
    corpus: str,
    keys: DataFrame | None = None,
    predicate: str | None = None,
    id_col: str = "doc_id",
    ivf_indexes: tuple[str, ...] | None = None,
    ivfpq_indexes: tuple[str, ...] | None = None,
    signature_tables: tuple[str, ...] | None = None,
    fs=None,
    lease_owner: str | None = None,
) -> dict:
    """Erase documents everywhere, driven by the corpus table's own commit
    log: DELETE from the merge gold table at ``corpus`` (``keys`` mode or
    ``predicate`` mode — exactly delete_from_merge_table's contract),
    read back the delete records the commit captured, and tombstone those
    ids in every listed IVF index, IVF-PQ index, and LSH signature table.

    Driving propagation from the COMMIT LOG (not the caller's key list)
    is deliberate: predicate-mode deletes only learn which rows matched
    during the delete itself, and even keys-mode callers can pass ids the
    corpus never held — the log records what was ACTUALLY removed, so the
    downstream stores tombstone exactly that set (the x3_index_takedown /
    x2_sig_takedown composition, now one call). An empty delete (nothing
    matched) propagates nothing and reports zeros.

    Crash-durable: a request record lands under
    ``<corpus>/_takedown/`` BEFORE the pin and the delete, is stamped with
    the delete's commit id right after the delete commits (verified
    against the pre-delete head via the commit chain, so a racing writer
    can never be mis-attributed), and is removed only after every store's
    tombstones landed. A crash anywhere in between leaves a record that
    ``recover_takedowns`` completes exactly. The pre-delete state is
    pinned under an ephemeral snapshot for the CDC read; the delete
    records are collected into a small local list (bounded by the request
    size), so the tombstone appends don't re-read the log per store.
    Returns ``{"corpus_deleted": n, "stores": {path: tombstoned}}``.

    Store lists default to the corpus' persisted registry
    (``register_store``): a bare ``takedown(spark, corpus, keys=...)``
    fans out to every registered IVF / IVF-PQ index and signature table,
    and a caller-supplied list that omits a registered store raises.
    Registered ``'table'`` stores (arbitrary derivations only the caller
    knows how to mutate) are NOT touched here — they are the audit
    surface ``takedown_verify`` covers; the result names them under
    ``"manual_tables"`` so the operator sees the remaining obligation,
    and a residual there shows up in the zero-residual proof until the
    owning pipeline erases it."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    fs = fs or mfs.LOCAL_FS
    # validate BEFORE the first durable write: a plain
    # caller error after the record/pin landed would strand debris that
    # blocks vacuum until recovery runs — the same argument check
    # delete_from_merge_table makes, made early
    if (keys is None) == (predicate is None):
        raise ValueError("takedown: pass exactly one of keys= or predicate=")
    resolved = _resolve_stores(
        corpus, fs, "takedown", ivf_indexes, ivfpq_indexes, signature_tables
    )
    ivf_indexes = resolved["ivf"]
    ivfpq_indexes = resolved["ivfpq"]
    signature_tables = resolved["signature"]
    man = strm._load_manifest(corpus, fs)
    if man is None:
        raise ValueError(f"no committed corpus table at {corpus}")
    # the id namespace MUST be a merge key of the corpus:
    # crash recovery may read the delete set back from a delta that
    # erasure has since SCRUBBED — the scrub keeps only the key columns
    # on the erased keys' records, so a non-key id_col would come back
    # NULL and propagation would silently vanish
    if id_col not in man["params"]["keys"]:
        raise ValueError(
            f"takedown: id_col {id_col!r} is not one of the corpus "
            f"table's merge keys {man['params']['keys']} — commit-log-driven "
            "propagation (and its crash recovery through possibly-"
            "scrubbed deltas) needs the id to be a key column"
        )
    request_id = uuid.uuid4().hex[:12]
    # ephemeral, collision-free tag (dot prefixes are reserved by the
    # snapshot-tag validator, so namespace by name instead)
    tag = f"{_EPHEMERAL_PREFIX}{request_id}"
    rec = {
        "id": request_id,
        "tag": tag,
        "id_col": id_col,
        "ivf_indexes": list(ivf_indexes),
        "ivfpq_indexes": list(ivfpq_indexes),
        "signature_tables": list(signature_tables),
        "created_at": time.time(),
        _DELETE_COMMIT: None,
    }
    # durable intent FIRST: from here, a crash at any point leaves a
    # record recover_takedowns can complete (or safely drop, pre-pin)
    fs.put_atomic(_request_path(corpus, request_id), json.dumps(rec).encode())
    pinned = strm.snapshot_merge_table(corpus, tag, fs=fs, lease_owner=lease_owner)
    pre_head = pinned["commit"]["id"]
    strm.delete_from_merge_table(
        spark, corpus, keys=keys, predicate=predicate, fs=fs,
        lease_owner=lease_owner,
    )
    # stamp the delete's commit id into the record so recovery reads
    # EXACTLY its delta, immune to later traffic. Attribution check: the
    # head moved, the new head is a delete commit, and its parent is the
    # head we read — with writers lease-serialized that is our delete; if
    # anything interleaved, leave the stamp off (recovery then uses the
    # pinned-state CDC read under its restart-ordering contract).
    head = strm._load_manifest(corpus, fs)["commit"]["id"]
    if head != pre_head:
        try:
            crec = json.loads(
                fs.read_bytes(
                    os.path.join(corpus, strm._CHANGES_DIR, head, "_commit.json")
                ).decode()
            )
        except FileNotFoundError:
            crec = {}
        if crec.get("kind") == "delete" and crec.get("parent") == pre_head:
            rec[_DELETE_COMMIT] = head
            fs.put_atomic(
                _request_path(corpus, request_id), json.dumps(rec).encode()
            )
    # read the delete set: EXACTLY the stamped commit's delta when the
    # stamp landed (the recover_takedowns path), else the pinned-state
    # CDC read with the always-correct state-diff fallback
    if rec[_DELETE_COMMIT]:
        delta_dir = strm._delta_dir(corpus, rec[_DELETE_COMMIT], fs)
        if not fs.isdir(delta_dir):
            # a racing vacuum(changes_keep=N) reclaimed the just-written
            # delta — same actionable guidance as recover_takedowns, not
            # a raw Spark path error
            raise ValueError(
                f"takedown {request_id} at {corpus}: its delete commit "
                f"{rec[_DELETE_COMMIT]}'s delta was vacuumed before "
                "propagation — tombstone the request's stores manually "
                f"from the source list, then remove "
                f"{_request_path(corpus, request_id)} and drop snapshot "
                f"{tag!r}."
            )
        gone = spark.read.parquet(delta_dir)
    else:
        try:
            gone = strm.read_commit_changes(spark, corpus, since=tag, fs=fs)
        except ValueError:
            gone = strm.read_changes(spark, corpus, since=tag, fs=fs)
    gone = (
        gone.filter(F.col("_change_type") == "delete")
        .select(id_col)
        .distinct()
    )
    # bounded by the request size — pin it once so each store's
    # tombstone append doesn't re-walk the log
    gone_rows = gone.collect()
    stores = _propagate(spark, gone_rows, id_col, resolved, fs, lease_owner)
    # obligation met: record first, THEN the pin (sweep_takedown_pins
    # treats a record-less pin as safely droppable debris)
    fs.rmtree(_request_path(corpus, request_id))
    strm.drop_snapshot(corpus, tag, fs=fs)
    out = {"corpus_deleted": len(gone_rows), "stores": stores}
    if resolved["table"]:
        # registered derivations this call CANNOT mutate (only their
        # owning pipeline can): name them so the operator sees the
        # remaining erasure obligation takedown_verify will keep flagging
        out["manual_tables"] = list(resolved["table"])
    return out
