"""Exactly-once Structured Streaming sink into the snapshot table — T193.

Iceberg's streaming write (``writeStream.format("iceberg")``) commits one
table snapshot per micro-batch and survives replays because the batch id
is recorded IN the commit: on restart, Spark re-delivers the last
uncommitted-in-checkpoint batch, the sink sees its id already in the
table's own history, and skips — the table never double-ingests even when
the streaming checkpoint and the table commit race a crash.  This module
is that contract for ``sources/snapshots.py``:

* each micro-batch becomes one ``append`` snapshot whose manifest summary
  carries ``{"streaming_batch_id": N, "stream_id": ...}`` (Iceberg's
  snapshot summary map);
* replay detection reads the table's OWN manifest log (scoped per
  stream_id so independent streams can share a table) — the guard commits
  atomically with the data it guards: the id lives inside the committed
  manifest itself, no sidecar;
* a :class:`CommitConflictError` from a concurrent writer is re-raised so
  the streaming query retries the batch (it is NOT marked committed).

At 10¹²-doc scale the check is O(snapshots) driver-side metadata — and
each manifest is read only for its summary; compose with
``expire_snapshots`` (refs pin audit points) to bound the log.

Reference analogue: none (single-file reference); this closes the loop on
the north rule's "Iceberg table" framing — the table is now both source
(time travel, incremental scan) and exactly-once streaming sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.snapshots import append_snapshot, snapshot_log


def committed_batch_ids(root: str, stream_id: str) -> set[int]:
    """Batch ids this *stream_id* has already committed into the table."""
    out: set[int] = set()
    try:
        log = snapshot_log(root)
    except FileNotFoundError:
        return out  # table not initialized yet: nothing committed
    for man in log:
        props = man.get("summary", {}).get("properties", {})
        if props.get("stream_id") == stream_id and (
            "streaming_batch_id" in props
        ):
            out.add(int(props["streaming_batch_id"]))
    return out


def snapshot_append_batch(
    batch_df: DataFrame, batch_id: int, root: str, stream_id: str = "default"
) -> int | None:
    """``foreachBatch`` body: append *batch_df* as one table snapshot,
    exactly once per (stream_id, batch_id).  Returns the new snapshot id,
    or None when the batch was already committed (replay after a crash
    between table commit and checkpoint commit)."""
    if batch_id in committed_batch_ids(root, stream_id):
        return None
    return append_snapshot(
        batch_df,
        root,
        properties={"streaming_batch_id": int(batch_id),
                    "stream_id": stream_id},
    )


def snapshot_sink(root: str, stream_id: str = "default"):
    """The ``foreachBatch`` callable: ``writeStream.foreachBatch(
    snapshot_sink(root))``."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_append_batch(batch_df, batch_id, root, stream_id)

    return _sink


def _one_row_per_key(
    batch_df: DataFrame, batch_id: int, key_col: str, order_col: str | None
) -> DataFrame:
    """Reduce a CDC micro-batch to one row per key.  With *order_col* (an
    event-time / LSN column): the latest version per key as ONE
    map-combinable aggregation, no window — max over a struct ordered
    (order_col, remaining cols), a TOTAL order, so ties on order_col break
    deterministically by the remaining columns (max_by would pick
    arbitrarily on ties); the version column stays in the table (CDC
    consumers audit it).  Without it, source keys must be unique and the
    batch fails loudly otherwise — silently merging duplicate keys would
    write BOTH rows and corrupt the upsert contract."""
    from pyspark.sql import functions as F

    if order_col is not None:
        rest = [c for c in batch_df.columns if c not in (key_col, order_col)]
        latest = batch_df.groupBy(key_col).agg(
            F.max(F.struct(order_col, *rest)).alias("_row")
        )
        return latest.select(
            key_col,
            *[F.col(f"_row.{c}").alias(c) for c in batch_df.columns
              if c != key_col],
        )
    dup = batch_df.groupBy(key_col).count().filter(F.col("count") > 1)
    if dup.limit(1).count() > 0:
        raise ValueError(
            f"batch {batch_id} has duplicate {key_col!r} values and no "
            f"order_col — an upsert needs one row per key (pass "
            f"order_col to keep the latest version per key)"
        )
    return batch_df


def snapshot_upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    key_col: str,
    stream_id: str = "default",
    order_col: str | None = None,
) -> int | None:
    """``foreachBatch`` body for a CDC-style UPSERT stream (T203): each
    micro-batch MERGEs into the table by *key_col* — matched keys update,
    new keys insert — exactly once per (stream_id, batch_id), with the
    same in-manifest replay guard as the append sink.

    A CDC micro-batch often carries SEVERAL versions of one key; pass
    *order_col* (an event-time / LSN column) to keep only the latest
    version per key before merging (``max_by`` over the whole row — one
    map-combinable aggregation, no window).  Without it, source keys must
    be unique and the batch fails loudly otherwise — silently merging
    duplicate keys would write BOTH rows and corrupt the upsert contract.

    The first batch on an empty table bootstraps with an append (MERGE
    needs a parent); replayed batches return None; a concurrent writer's
    CommitConflictError propagates so the streaming query retries.  The
    100-TB property is merge_into's: a batch touching 0.1% of keys
    rewrites ~0.1% of files, never the table."""
    from pyspark.sql import functions as F

    from ..sources.snapshots import current_snapshot_id, merge_into

    if batch_id in committed_batch_ids(root, stream_id):
        return None
    props = {"streaming_batch_id": int(batch_id), "stream_id": stream_id}
    batch_df = _one_row_per_key(batch_df, batch_id, key_col, order_col)
    try:
        cur = current_snapshot_id(root)
    except Exception:
        cur = None
    if cur is None:
        return append_snapshot(batch_df, root, properties=props)
    return merge_into(
        batch_df.sparkSession, root, batch_df, key_col, properties=props
    )


def snapshot_upsert_eq_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    key_col: str,
    stream_id: str = "default",
    order_col: str | None = None,
) -> int | None:
    """``foreachBatch`` body for the MERGE-ON-READ CDC upsert sink
    (T209): each micro-batch lands via :func:`~..sources.snapshots.
    upsert_eq` as ONE equality-delete + append commit.

    This is the Flink→Iceberg v2 upsert topology, and the one that
    actually survives a steady update stream at 10¹²-doc scale: the COW
    sink (:func:`snapshot_upsert_batch` / merge_into) rewrites every data
    file a batch's keys touch — a uniform key stream eventually rewrites
    the whole table every few hours — while this sink's write cost is
    O(batch) FOREVER (only the batch's data files and an eqdel key file),
    deferring reconciliation to read-time broadcast anti-joins and the
    routine compaction that re-sequences files and purges the entries.
    Pair it with :func:`~..sources.snapshots.rewrite_data_files` (or the
    table-maintenance job) on the cadence that keeps read amplification
    acceptable — exactly Iceberg's documented v2 operating model.

    Same exactly-once in-manifest replay guard and the same one-row-per-
    key reduction (*order_col* keeps the latest version) as the COW sink;
    replayed batches return None; CommitConflictError propagates so the
    streaming query retries."""
    from ..sources.snapshots import upsert_eq

    if batch_id in committed_batch_ids(root, stream_id):
        return None
    props = {"streaming_batch_id": int(batch_id), "stream_id": stream_id}
    batch_df = _one_row_per_key(batch_df, batch_id, key_col, order_col)
    return upsert_eq(
        batch_df.sparkSession, root, batch_df, [key_col], properties=props
    )


def snapshot_upsert_eq_sink(
    root: str,
    key_col: str,
    stream_id: str = "default",
    order_col: str | None = None,
):
    """The ``foreachBatch`` callable for the merge-on-read upsert sink:
    ``writeStream.foreachBatch(snapshot_upsert_eq_sink(root, "doc_id"))``."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_upsert_eq_batch(
            batch_df, batch_id, root, key_col, stream_id, order_col
        )

    return _sink


def snapshot_upsert_sink(
    root: str,
    key_col: str,
    stream_id: str = "default",
    order_col: str | None = None,
):
    """The ``foreachBatch`` callable for the upsert sink:
    ``writeStream.foreachBatch(snapshot_upsert_sink(root, "doc_id"))``."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_upsert_batch(
            batch_df, batch_id, root, key_col, stream_id, order_col
        )

    return _sink
