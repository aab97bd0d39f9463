"""Streaming engagement profile: DAU / trailing-7-day WAU maintained
incrementally across micro-batches — the streaming-grain twin of the
batch ``dau_wau_engagement`` query (plans/streaming_events.py), built from the same
pieces the reference's pipeline uses at daily grain
(Load-gcs-to-bq/main.py:71-84 append + the stored procedures'
delete-and-recompute of the current day): exactly-once presence ingest +
idempotent day-scoped recompute of exactly the output days a batch can
change.

Why not a stateful streaming aggregation: a trailing-7-day DISTINCT
count keeps per-user state for 7 days; the
applyInPandasWithState/transformWithState route carries that state in
the checkpoint, is protobuf-gated in this environment, and recovers by
replaying state — while this table-backed design recovers by
RECOMPUTING from the presence table, which is already exactly-once.
The batch body is three bounded steps:

1. presence ingest — the batch's distinct (user_id, d) rows (a row
   with a NULL user or day is on no calendar day and is dropped), the
   NULL-safe ``operators.incremental.novel`` anti-join against the
   presence table, and ``TxLogTable.append_once`` under an (app_id,
   batch_id) txn key — the streaming/ingest_dedup.py steps at (user,
   day) grain: crash replays are commit-level no-ops.
2. affected-day bounds from the BATCH's own min/max day — not from the
   post-anti-join novelty: if a crash lands between the presence append
   and the profile refresh, the replayed batch sees zero novel presence
   rows but must still refresh the profile days it touched. Using the
   batch bounds makes the refresh self-healing.
3. day-scoped recompute: output days a presence day p can change are
   [p, p+6], so the batch affects [min_d, max_d+6]; computing WAU for
   day d needs presence back to d-6, so the input slice is
   [min_d-6, max_d+6]. The slice runs through the SAME
   operators/temporal.py daily_engagement used by the batch query (the
   two grains cannot drift), and lands as one atomic
   ``replace_range`` commit — idempotent at the value level, so replays
   and overlapping batches converge to the batch query's answer. The
   rewrite set comes from commit-log footer stats (the Delta
   data-skipping analog), never a table-scan job.

Scale: the presence table is O(users x active days) — the day-deduped
relation every engagement system materializes anyway; the per-batch
recompute reads only the affected day slice (partition-prunable by d at
scale) and the anti-join ships (user_id, d) pairs, never event payloads.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import store
from ..operators.incremental import novel
from ..operators.temporal import daily_engagement
from ..sources.txlog import TxLogTable

#: trailing window width in days (the batch query's 7)
_WINDOW_DAYS = 7


def engagement_sink(
    presence: TxLogTable,
    profile: TxLogTable,
    app_id: str,
    day_grain_input: bool = False,
    novelty_files: int | None = None,
):
    """A ``foreachBatch`` body maintaining (d, dau, wau, stickiness)
    incrementally. See the module docstring for the three-step design
    and its crash-replay reasoning.

    ``day_grain_input`` is a CONTRACT flag: the upstream already
    delivers (user_id, day)-deduped rows (an ingest-dedup stage, or a
    staged replay of a deduped relation), so the sink skips its own
    per-batch ``distinct`` — one whole shuffle per batch. The presence
    table's correctness depends on the contract holding; leave False
    for raw event streams. It is a SMALL-BATCH tool like
    ``novelty_files``: the distinct's shuffle also pre-partitions the
    batch on the anti-join keys and normalizes the cached batch
    layout, and at decade scale skipping it measured the whole batch
    loop ~2.4x slower (sf10 same-hour A/B, BASELINE.md round-13) —
    leave False for large batches even when the contract holds.

    ``novelty_files`` is a per-stream SIZING hint (the conf analog of
    sizing shuffle width to batch volume): coalesce the novelty delta
    to this many files before the append. In the small-batch regime,
    1 writes the delta as a single file and skips the staged-write
    compaction merge the txlog would otherwise pay per commit; at
    scale leave None — a large delta wants its natural write
    parallelism and the compaction bound makes the merge a no-op
    anyway."""

    def _read_presence(spark, template: DataFrame) -> DataFrame:
        # a missing table (first batch) is "no presence", not a crash;
        # a table whose rows were all deleted already reads as an empty
        # typed frame (TxLogTable.read)
        if not presence.exists():
            return store.rows(template.sparkSession, [], template.schema)
        return presence.read(spark).select("user_id", "d")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # a row with no user or no day is no one's presence on any day
        new = batch_df.select("user_id", F.to_date("ts").alias("d")).filter(
            F.col("user_id").isNotNull() & F.col("d").isNotNull()
        )
        if not day_grain_input:
            new = new.distinct()
        new = new.persist()
        # batch-day bounds BEFORE the anti-join (self-healing replays);
        # one bounded driver-side row (also materializes the persisted
        # batch relation the novelty join and the slice reuse)
        b = new.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).first()
        # ONE presence snapshot per batch: the pre-append read serves
        # both the novelty anti-join and (unioned with the delta) the
        # recompute slice — the round-11 shape re-read the whole table
        # after the append, paying a second listing + footer + scan of
        # a file set that is by construction pre ∪ novel.
        pre = _read_presence(spark, new)
        fresh = novel(new, pre, ["user_id", "d"])
        if novelty_files:
            fresh = fresh.coalesce(novelty_files)
        fresh = fresh.persist()
        # empty batches still commit so the txn map stays monotone
        committed = presence.append_once(fresh, app_id, batch_id)
        try:
            if b is None or b["lo"] is None:
                return
            out_lo = b["lo"]
            out_hi = b["hi"] + dt.timedelta(days=_WINDOW_DAYS - 1)
            in_lo = b["lo"] - dt.timedelta(days=_WINDOW_DAYS - 1)
            # post-append presence == pre ∪ fresh when the append
            # COMMITTED (it adds exactly the fresh rows). On a replayed
            # txn-skipped append nothing landed, so the table truth is
            # pre alone — fresh may be non-empty there if the originally
            # appended rows were deleted since (retention between crash
            # and replay; the fully-deleted-presence regression test),
            # and unioning it in would resurrect rows the table no
            # longer holds. Either way: no second table read needed.
            post = pre.unionByName(fresh) if committed else pre
            sl = post.filter(
                (F.col("d") >= F.lit(in_lo)) & (F.col("d") <= F.lit(out_hi))
            )
            prof = daily_engagement(
                sl.select("user_id", "d"), window_days=_WINDOW_DAYS
            ).filter(
                (F.col("d") >= F.lit(out_lo)) & (F.col("d") <= F.lit(out_hi))
            )
            # one commit, one staged write (survivors + replacement
            # rows together), rewrite candidates from commit-log footer
            # stats — no touched-file scan job (sources/txlog.py
            # replace_range)
            profile.replace_range(spark, "d", out_lo, out_hi, prof)
        finally:
            new.unpersist()
            fresh.unpersist()

    return _sink
