"""Incremental / changelog processing: Iceberg-style MERGE semantics
re-expressed over plain DataFrames.

A 100-TB ingestion pipeline rarely recomputes from scratch: it keeps a
compacted *snapshot* (one current row per key) and folds in append-only
*delta* batches.  Two primitives cover the common shapes:

- ``latest_state``: compact an append-only update log to one row per
  key by a total sequence order (MERGE ... WHEN MATCHED UPDATE with
  last-writer-wins).  One shuffle on the key, WindowGroupLimit-ranked —
  no driver involvement, skew handled by AQE.
- ``merge_latest``: incremental maintenance — fold a new delta batch
  into an existing snapshot WITHOUT touching the historical log.  The
  invariant ``merge_latest(latest_state(log<=k), log>k) ==
  latest_state(log)`` is what the ``iceberg_style_incremental`` gate
  query certifies against a plain-SQL oracle.

Both are pure DataFrame ops (row_number over a key window); the only
shuffle key is the merge key, so the plan is the same at sf0.01 and at
1000 executors.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_state(updates: DataFrame, key_cols: Sequence[str],
                 seq_cols: Sequence[str]) -> DataFrame:
    """One row per key: the update with the highest (seq_cols) tuple.
    ``seq_cols`` must be a total order within each key (pass a unique
    id as the last element to break timestamp ties deterministically)."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in seq_cols])
    return (updates.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def merge_latest(snapshot: DataFrame, delta: DataFrame,
                 key_cols: Sequence[str],
                 seq_cols: Sequence[str]) -> DataFrame:
    """Fold an append-only delta batch into a compacted snapshot:
    last-writer-wins per key across (snapshot ∪ delta).  The delta is
    compacted first so the union carries at most two rows per key into
    the final rank — the snapshot side is never re-scanned wider than
    one row per key."""
    d = latest_state(delta, key_cols, seq_cols)
    return latest_state(snapshot.unionByName(d), key_cols, seq_cols)
