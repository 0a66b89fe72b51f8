"""SNK-4: upsert/merge sink, plain-Spark variant (SURVEY.md §2.1, §7.4).

Reference semantics (load.py:128-154 + UNIQUE constraint schema.sql:30):
per natural key, last write wins; unmatched incoming rows are inserted,
matched rows are replaced by the staged row. (Column-level semantics like
"keep created_at, refresh updated_at" — schema.sql:63-82 trigger — use the
coalesce-per-column variant, operators.joins.merge_routing/JOIN-6.)

Spark-first design: no per-row SELECT→UPDATE loop. One shuffle:
  staged ∪ current → window row_number over (key ORDER BY priority) → keep 1.
This is exactly what Delta's MERGE compiles to for whole-row updates; we keep
the plain-DataFrame form so the engine has no storage-format dependency.
Determinism (SURVEY §7.4): ordering is (is_incoming DESC, source_priority,
tiebreaker) — fully specified, so "last write wins" is reproducible.

At 100 TB: the window shuffles on the natural key — same shuffle a MERGE
would need; AQE handles skewed tickers. For repeated merges into a bucketed
table, bucket both sides by the key to make the shuffle a local sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


INCOMING = "__is_incoming"


def merge_winners(
    current: DataFrame,
    staged: DataFrame,
    keys: list[str],
    order_cols: list | None = None,
    preimage: str | None = None,
) -> DataFrame:
    """The one merge window: current ∪ staged (by name, missing columns
    null-filled), each row tagged ``INCOMING`` (1 for a staged row),
    partitioned by ``keys`` and ordered by ``INCOMING`` then ``order_cols``,
    all descending. Rank 1 is the row the merge keeps: the top staged row
    when the key has one — so duplicate staged keys need no dedup of their
    own — else the current row. Returns the winners with ``INCOMING`` kept.

    ``preimage`` names a struct column added to each winner holding the
    key's current row (null for a key only the staged side has), computed
    in the same window, so a caller gets each key's old and new rows side
    by side without a join."""
    tagged = current.withColumn(INCOMING, F.lit(0)).unionByName(
        staged.withColumn(INCOMING, F.lit(1)), allowMissingColumns=True
    )
    w = Window.partitionBy(*keys).orderBy(
        F.desc(INCOMING), *[F.desc(c) for c in (order_cols or [])]
    )
    if preimage is not None:
        # current rows sort after every staged row of their key, so the
        # last row of the key's whole frame is its committed row when it
        # has one. Plain columns as the window's inputs: an expression
        # input (a struct of the row) would be projected ahead of the
        # window's shuffle and shuffled as a second copy of the row
        whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        cols = [c for c in tagged.columns if c != INCOMING]
        tagged = tagged.withColumn(preimage, F.when(
            F.last(INCOMING).over(whole) == 0,
            F.struct(*[F.last(c).over(whole).alias(c) for c in cols]),
        ))
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    current: DataFrame,
    staged: DataFrame,
    keys: list[str],
    order_cols: list | None = None,
) -> DataFrame:
    """Return current MERGE staged ON keys (staged wins; ties broken by
    ``order_cols`` descending, then arbitrary-but-deterministic): the
    winners of ``merge_winners``."""
    return merge_winners(current, staged, keys, order_cols).drop(INCOMING)


def merge_with_audit(
    current: DataFrame,
    staged: DataFrame,
    keys: list[str],
    now,
) -> DataFrame:
    """MERGE with the reference's audit-column trigger policy
    (schema.sql:63-82: ``update_modified_column`` BEFORE UPDATE trigger +
    column DEFAULTs on insert):

    - matched keys: staged measure values win, ``created_at`` is PRESERVED
      from current, ``updated_at`` is stamped ``now`` (the trigger);
    - staged-only keys (INSERT): ``created_at`` = ``updated_at`` = ``now``
      (column defaults);
    - current-only keys: row unchanged, both timestamps untouched.

    ``current`` must carry ``created_at``/``updated_at``; ``staged`` carries
    the key + measure columns only. ``now`` is a Column — pass
    ``F.current_timestamp()`` in production or a literal for deterministic
    tests/oracles. One full-outer shuffle on the natural key, same as
    merge_upsert."""
    audit = ("created_at", "updated_at")
    value_cols = [c for c in current.columns if c not in keys and c not in audit]
    cur = current.withColumn("__cur", F.lit(1)).alias("c")
    stg = staged.withColumn("__stg", F.lit(1)).alias("s")
    cond = [F.col(f"c.{k}") == F.col(f"s.{k}") for k in keys]
    joined = cur.join(stg, cond, "full_outer")
    in_cur = F.col("c.__cur").isNotNull()
    in_stg = F.col("s.__stg").isNotNull()
    out_cols = [F.coalesce(F.col(f"c.{k}"), F.col(f"s.{k}")).alias(k) for k in keys]
    for v in value_cols:
        staged_v = F.col(f"s.{v}") if v in staged.columns else F.lit(None)
        out_cols.append(F.when(in_stg, staged_v).otherwise(F.col(f"c.{v}")).alias(v))
    out_cols.append(F.when(in_cur, F.col("c.created_at")).otherwise(now).alias("created_at"))
    out_cols.append(F.when(in_stg, now).otherwise(F.col("c.updated_at")).alias("updated_at"))
    return joined.select(*out_cols)


def insert_if_absent(existing: DataFrame, incoming: DataFrame, keys: list[str]) -> DataFrame:
    """SET-1 / JOIN-2: ON CONFLICT DO NOTHING (reference schema.sql:57-61,
    load.py:65-74) — anti-join the incoming rows, append survivors."""
    new_rows = incoming.join(existing.select(*keys).distinct(), on=keys, how="left_anti")
    return existing.unionByName(new_rows, allowMissingColumns=True)
