"""Streaming exactly-once DEDUPLICATING ingest onto the txlog table.

The streaming-grain form of the batch ``incremental_ingest_dedup`` query
(plans/dedup_graph.py), and the reference's ingestion loop (landing file
-> raw table, Load-gcs-to-bq/main.py:71-84) with the two guarantees it
lacks: no double-append on redelivery (its Pub/Sub at-least-once
re-runs the load job) and no duplicate keys in the raw table.

The sink is the three shared micro-batch ingest steps, in order:
``operators.dedup.one_per_key`` (the in-batch winner),
``operators.incremental.novel`` (the NULL-safe anti-join against the
table) and ``TxLogTable.append_once`` (the txn-keyed commit). The
engagement sink (streaming/engagement.py) uses the last two; the landing
stream's ``dedup=True`` (streaming/pipeline.py) uses the first.

Scale note: the per-batch anti-join ships only ``key_cols`` (digest- or
id-sized), never document bodies; at 100 TB the table side of that join
is served by parquet stats + the key columns alone, and the
broadcast-bloom prefilter of ``incremental_ingest_dedup`` drops in
unchanged when the key-distinct relation outgrows a plain anti-join
(build the bloom from the table keys, verify only maybe-members).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.dedup import one_per_key
from ..operators.incremental import novel
from ..sources.txlog import TxLogTable


def dedup_ingest_sink(table: TxLogTable, app_id: str, key_cols: list[str]):
    """A ``foreachBatch`` body: exactly-once deduplicating append.

    Per micro-batch: one row per ``key_cols`` value, the same row on
    every replay (``one_per_key``); then only the keys the table does
    not hold yet, NULL keys included (``novel``); then the append under
    the (app_id, batch_id) txn key, so a crash-replayed batch is a
    commit-level no-op (``append_once``). A replay's anti-join sees its
    own rows already landed, so its result is the same either way.

    Empty post-dedup batches still commit (an empty append) so the txn
    map stays monotone per Delta's batch-id assumption.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        fresh = one_per_key(batch_df, key_cols)
        if table.exists():
            fresh = novel(fresh, table.read(batch_df.sparkSession), key_cols)
        table.append_once(fresh, app_id, batch_id)

    return _sink
