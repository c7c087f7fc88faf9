"""Idempotent streaming sinks via ``foreachBatch`` — the engine-side form
of the reference's at-least-once + replay posture (a failed batch is
re-covered by the next poll, ``CO-README:512-525``; give-up path
``ChargeOverSourceTask.java:346-368``).

``foreachBatch`` hands each micro-batch a batch DataFrame + a monotonically
increasing epoch id. Exactly-once = at-least-once delivery (checkpoint
replays the batch after a crash) × idempotent apply (keyed on epoch id, so
a replayed batch overwrites instead of duplicating). Used with the merge
operator, this is the streaming CDC → SCD-1 table maintenance loop.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "epoch_partitioned_writer",
    "run_foreach_batch",
    "scd1_state_writer",
    "scd2_state_writer",
    "additive_agg_state_writer",
    "prune_state_versions",
]


def epoch_partitioned_writer(path: str) -> Callable[[DataFrame, int], None]:
    """Idempotent parquet apply: each epoch overwrites ITS OWN partition
    directory (``_epoch=<id>``), so replaying an epoch after a crash
    rewrites the same files instead of appending duplicates."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("_epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(path)
        )

    return apply


def run_foreach_batch(
    stream_df: DataFrame,
    apply: Callable[[DataFrame, int], None],
    checkpoint: str,
    timeout_s: int = 300,
) -> None:
    """Drain a bounded stream through ``foreachBatch`` with a checkpoint
    (AvailableNow trigger). Raises if the drain does not finish within
    ``timeout_s`` — a silent partial drain would hand the caller an
    incomplete sink (wrong values instead of a loud failure)."""
    q = (
        stream_df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_s)
    if not finished:
        try:
            q.stop()
        finally:
            raise TimeoutError(
                f"foreachBatch drain did not finish within {timeout_s}s "
                f"(checkpoint={checkpoint}); sink state is incomplete"
            )


class _VersionedState:
    """The versioned state directory behind the SCD-1, SCD-2 and
    additive-aggregate writers: one ``v=<epoch>`` parquet directory per
    epoch under ``root``.

    An epoch's previous state is the HIGHEST existing version below it —
    epoch ids are not guaranteed contiguous (checkpoint reuse across
    runs, a restart that skipped an empty batch), so assuming
    ``v=<epoch-1>`` would silently discard all prior state on a gap. An
    epoch > 0 with NO prior version means the checkpoint and the state
    dir are out of sync: error, don't quietly rebuild from one batch.
    Writes overwrite the epoch's own directory, so a replayed epoch is
    idempotent."""

    def __init__(self, root: str, writer: str):
        self.root = root
        self.writer = writer

    def versions(self) -> list[int]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            int(m.group(1))
            for d in os.listdir(self.root)
            if (m := re.fullmatch(r"v=(\d+)", d))
        )

    def path(self, version: int) -> str:
        return os.path.join(self.root, f"v={version}")

    def prior(self, spark, epoch_id: int) -> DataFrame | None:
        """The state ``epoch_id`` builds on; None only for a first epoch 0."""
        prior = [v for v in self.versions() if v < epoch_id]
        if prior:
            return spark.read.parquet(self.path(prior[-1]))
        if epoch_id > 0:
            raise RuntimeError(
                f"{self.writer}: epoch {epoch_id} has no prior state version "
                f"under {self.root} — checkpoint/state mismatch (refusing to "
                "silently reset the state)"
            )
        return None

    def latest(self, spark) -> DataFrame:
        return spark.read.parquet(self.path(self.versions()[-1]))

    def write(self, df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(self.path(epoch_id))


def scd1_state_writer(
    state_root: str,
    key_cols: list[str],
    order_cols: list[str],
    tombstone_col: str | None = None,
):
    """foreachBatch apply maintaining an SCD-1 (latest-wins) state table
    under ``state_root`` — the streaming CDC → dimension-table loop.

    Each epoch writes a NEW state version directory (``v=<epoch>``) built
    by compacting (previous version ∪ this batch) per key on the
    ``order_cols`` struct — so the winner is decided by the CHANGE's own
    ordering columns (ts + tiebreak), not by micro-batch arrival order:
    late/out-of-order batches cannot regress a key (the contract
    ``tests/test_streaming_scd1.py`` pins by applying batches in reverse).
    Tombstone rows (``tombstone_col`` true) persist in state to suppress
    older late-arriving upserts and are filtered on read.

    Replay-idempotent: a crashed epoch re-runs against the same previous
    version and overwrites its own directory. State shuffles are keyed
    and state-sized — per-epoch cost is |state| + |batch|, independent of
    history length. (At 100 TB the previous-version rescan per epoch is
    the cost of plain parquet; swapping the state store for a
    merge-on-read table format removes it without changing this loop.)

    Returns (apply_fn, read_final_fn).
    """
    from ..operators.cdc import compact_latest

    state = _VersionedState(state_root, "scd1_state_writer")

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        changes = batch_df.withColumn("_ord", F.struct(*order_cols))
        prev = state.prior(batch_df.sparkSession, epoch_id)
        merged = changes if prev is None else prev.unionByName(changes)
        state.write(compact_latest(merged, key_cols, "_ord"), epoch_id)

    def read_final(spark) -> DataFrame:
        final = state.latest(spark)
        if tombstone_col is not None:
            final = final.filter(~F.coalesce(F.col(tombstone_col), F.lit(False)))
        return final.drop("_ord")

    return apply, read_final


def scd2_state_writer(
    state_root: str,
    key_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
):
    """foreachBatch apply maintaining an SCD-2 VERSIONED-HISTORY table
    under ``state_root`` — the streaming counterpart of
    ``operators/cdc.py::scd2_history``, completing the streaming CDC
    family next to :func:`scd1_state_writer` (latest-wins keeps one row
    per key; this keeps every version with its [valid_from, valid_to)
    interval).

    Incremental maintenance per epoch: every history row IS its change
    row (valid_from = the change's ts), so the chain for a key can be
    rebuilt from state alone. Keys untouched by the batch carry their
    rows through an anti join; touched keys take (their existing change
    rows ∪ the batch's rows), dedup on (key, ts, tiebreak) — replayed
    changes collapse — and ONE lead-window pass re-derives
    valid_to/is_current. Out-of-order batches are handled by
    construction: a late change splices into the key's chain wherever
    its ts falls, because the whole chain is re-sorted, and only
    batch-touched keys ever re-chain — per-epoch shuffle cost is
    |touched keys' history| + |batch|, independent of history depth on
    untouched keys. The batch-key relation is batch-sized and
    broadcast into both the anti and semi join.

    Same versioned-directory device as :func:`scd1_state_writer`
    (v=<epoch> dirs, highest-prior-version resolution, error on a
    missing prior — replay-idempotent, gap-tolerant).

    Returns (apply_fn, read_final_fn).
    """
    from ..operators.cdc import scd2_history

    _derived = ["valid_from", "valid_to", "is_current"]
    state = _VersionedState(state_root, "scd2_state_writer")

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        prev = state.prior(batch_df.sparkSession, epoch_id)
        if prev is None:
            untouched = None
            changes = batch_df
        else:
            bkeys = batch_df.select(*key_cols).distinct()
            untouched = prev.join(F.broadcast(bkeys), key_cols, "left_anti")
            touched_changes = prev.join(
                F.broadcast(bkeys), key_cols, "left_semi"
            ).drop(*_derived)
            changes = touched_changes.unionByName(batch_df)
        rebuilt = scd2_history(
            changes.dropDuplicates(key_cols + [ts_col, tiebreak_col]),
            key_cols,
            ts_col,
            tiebreak_col=tiebreak_col,
        )
        state.write(
            rebuilt if untouched is None else untouched.unionByName(rebuilt),
            epoch_id,
        )

    return apply, state.latest


def additive_agg_state_writer(
    state_root: str,
    key_cols: list[str],
    sum_cols: dict[str, str],
):
    """foreachBatch apply maintaining an ADDITIVE-AGGREGATE summary table
    (count + exact decimal sums per key) under ``state_root`` — the
    streaming continuous-aggregate refresh loop (TimescaleDB caggs,
    Materialize-style additive views): the streaming twin of the batch
    ``ivm_orders_summary`` delta merge.

    Per epoch: aggregate ONLY the batch to per-key partial states, then
    full-outer merge with the previous version — count+count, sum+sum.
    Because the sums are exact decimals the merge is associative and
    commutative, so any batch arrival order yields a state bit-identical
    to the full recompute. Per-epoch cost: |batch| scan + a key-sized
    merge join; independent of total history. Same versioned-directory
    device as the SCD writers (v=<epoch>, highest-prior resolution,
    error on missing prior, replay-idempotent overwrite).

    ``sum_cols`` maps output column name -> source column; each is
    accumulated as DECIMAL(28,2). An ``n_rows`` count is always kept.

    Returns (apply_fn, read_final_fn).
    """
    from ..functions.exact import dec2 as _dec2

    state = _VersionedState(state_root, "additive_agg_state_writer")

    def _partial(df: DataFrame) -> DataFrame:
        return df.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum(_dec2(src)).cast("decimal(28,2)").alias(out)
                for out, src in sum_cols.items()
            ],
        )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        delta = _partial(batch_df)
        prev = state.prior(batch_df.sparkSession, epoch_id)
        if prev is None:
            state.write(delta, epoch_id)
            return
        zero = F.lit(0).cast("decimal(28,2)")
        merged = prev.alias("p").join(
            delta.alias("d"), key_cols, "full_outer"
        ).select(
            *key_cols,
            (
                F.coalesce(F.col("p.n_rows"), F.lit(0))
                + F.coalesce(F.col("d.n_rows"), F.lit(0))
            ).alias("n_rows"),
            *[
                (
                    F.coalesce(F.col(f"p.{out}"), zero)
                    + F.coalesce(F.col(f"d.{out}"), zero)
                ).cast("decimal(28,2)").alias(out)
                for out in sum_cols
            ],
        )
        state.write(merged, epoch_id)

    return apply, state.latest


def prune_state_versions(state_root: str, keep_last: int = 2) -> list[int]:
    """Vacuum old ``v=<epoch>`` directories under a versioned state root
    (the SCD-1/SCD-2/additive-aggregate writers append one per epoch and
    never delete — unbounded growth is the operational failure mode of
    every multi-version store, hence Delta VACUUM / Iceberg
    expire_snapshots; this is the plain-parquet form).

    Keeps the ``keep_last`` highest versions: the newest is the live
    state, the ones behind it are the replay targets a crashed epoch
    resolves to (the writers pick max(version < epoch), so keeping >= 2
    preserves replay-idempotence for the in-flight epoch). Refuses
    keep_last < 2 for exactly that reason. Returns the pruned version
    numbers."""
    if keep_last < 2:
        raise ValueError(
            "prune_state_versions: keep_last must be >= 2 — the previous "
            "version is the replay target of the in-flight epoch"
        )
    state = _VersionedState(state_root, "prune_state_versions")
    doomed = state.versions()[:-keep_last]
    for v in doomed:
        shutil.rmtree(state.path(v), ignore_errors=True)
    return doomed
