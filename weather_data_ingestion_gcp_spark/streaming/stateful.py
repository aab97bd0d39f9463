"""Custom stateful streaming operator via applyInPandasWithState.

The reference has no stateful stream processing (its only "state" is the
daily table it rewrites per event — T4); this is the beyond-reference
extension point SURVEY.md §2.7/§2.8 calls for: arbitrary per-key state kept
by the engine across micro-batches, checkpointed with the query.

``user_running_stats`` maintains per-user running totals (events seen,
value sum) across batches — the archetype of incremental feature
computation over an event stream. Arrow-batched per group; state is a
single tuple per key, so memory is O(active keys), not O(events).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.sketch import mg_update

#: (n_events_total, value_total, emit_seq)
_STATE_SCHEMA = "n BIGINT, total DOUBLE, seq BIGINT"
_OUTPUT_SCHEMA = "user_id BIGINT, n_events BIGINT, value_total DOUBLE, emit_seq BIGINT"


def _update(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total, seq = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    seq += 1
    state.update((n, total, seq))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "value_total": [round(total, 6)],
            "emit_seq": [seq],
        }
    )


def user_running_stats(events: DataFrame) -> DataFrame:
    """events stream (user_id, ts, value, ...) -> per-user running totals,
    one row per (user, trigger) in update mode.

    Sink note: pair with foreachBatch or a real sink for restartability —
    the in-memory sink refuses checkpoint recovery (state itself resumes
    fine across query restarts; verified)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 arbitrary-state v2 API)
# ---------------------------------------------------------------------------

try:  # the v2 stateful API needs pyspark >= 4.0 AND the protobuf package
    # (its state-store protocol speaks protobuf to a driver-side server;
    # absent protobuf the streaming runner crashes at init, so gate here)
    import google.protobuf  # noqa: F401

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserActivityProcessor(StatefulProcessor):
        """Per-user activity profile with TYPED state variables — the
        capability step beyond applyInPandasWithState's single state
        tuple: independent state slots (running counter + per-type map)
        that the state store tracks, checkpoints, and restores
        individually.

        State:
          - ``totals``  ValueState (n BIGINT, total DOUBLE)
          - ``by_type`` MapState  event_type -> count
        Emits one profile row per updated user per micro-batch."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getValueState("totals", "n BIGINT, total DOUBLE")
            self.by_type = handle.getMapState(
                "by_type", "event_type STRING", "c BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n, total = self.totals.get() if self.totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                for et, c in pdf.groupby("event_type").size().items():
                    prev = (
                        self.by_type.getValue((et,))[0]
                        if self.by_type.containsKey((et,))
                        else 0
                    )
                    self.by_type.updateValue((et,), (prev + int(c),))
            self.totals.update((n, total))
            n_types = sum(1 for _ in self.by_type.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "value_total": [round(total, 6)],
                    "n_event_types": [n_types],
                }
            )

        def close(self) -> None:
            pass

    def user_activity_profile(events: DataFrame) -> DataFrame:
        """events stream (user_id, event_type, value) -> per-user profile
        via the v2 arbitrary-state API (transformWithStateInPandas)."""
        return events.groupBy("user_id").transformWithStateInPandas(
            UserActivityProcessor(),
            outputStructType=(
                "user_id BIGINT, n_events BIGINT, value_total DOUBLE, "
                "n_event_types BIGINT"
            ),
            outputMode="Update",
            timeMode="None",
        )

except ImportError:  # pragma: no cover - pyspark < 4.0 or no protobuf
    StatefulProcessor = None  # type: ignore[assignment]

    def user_activity_profile(events: DataFrame) -> DataFrame:
        raise NotImplementedError(
            "transformWithStateInPandas requires pyspark >= 4.0 and protobuf"
        )


# ---------------------------------------------------------------------------
# Streaming Misra-Gries heavy-hitter candidates — the stream twin of
# operators.sketch.mg_heavy_hitters, running the same k-counter step
# (sketch.mg_update). Keys are hash-bucketed so every occurrence of a
# word lands in ONE group's state; within the bucket the k-counter
# summary holds the MG guarantee (candidate count >=
# true count - n_bucket/(k+1), every item above n_bucket/(k+1) present).
# State per bucket is two bounded arrays (<= k keys + counts) regardless
# of stream length — the memory contract that makes frequency tracking
# safe on an unbounded stream.
# ---------------------------------------------------------------------------

_MG_STATE_SCHEMA = "ks ARRAY<STRING>, cs ARRAY<BIGINT>, n_seen BIGINT, seq BIGINT"
_MG_OUTPUT_SCHEMA = (
    "bucket INT, w STRING, mg_count BIGINT, n_seen BIGINT, emit_seq BIGINT"
)


def _mg_update_factory(k: int):
    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ks, cs, n_seen, seq = state.get
            counters = dict(zip(ks, cs))
        else:
            counters, n_seen, seq = {}, 0, 0
        for pdf in pdfs:
            n_seen += len(pdf)
            mg_update(counters, pdf["w"], k)
        seq += 1
        state.update((list(counters), [counters[c] for c in counters], n_seen, seq))
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(counters),
                "w": list(counters),
                "mg_count": list(counters.values()),
                "n_seen": [n_seen] * len(counters),
                "emit_seq": [seq] * len(counters),
            }
        )

    return update


def streaming_heavy_hitter_candidates(
    words: DataFrame, n_buckets: int = 8, k: int = 4
) -> DataFrame:
    """word stream (column ``w``) -> per-bucket Misra-Gries candidate summaries, one
    emission per (bucket, trigger) in update mode. Bucketing uses the
    md5-hex hash (portable, partition-invariant) so a word's counts never
    split across states."""
    from pyspark.sql import functions as F

    from ..operators.sampling import hex_int

    bucketed = words.select(
        "w",
        (hex_int(F.md5(F.col("w"))) % n_buckets)
        .cast("int")
        .alias("bucket"),
    )
    return bucketed.groupBy("bucket").applyInPandasWithState(
        _mg_update_factory(k),
        outputStructType=_MG_OUTPUT_SCHEMA,
        stateStructType=_MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
