"""Streaming exactly-once DEDUPLICATING ingest onto the txlog table.

The streaming-grain form of the batch ``incremental_ingest_dedup`` query
(plans/dedup_graph.py): each micro-batch of incoming documents is deduped
in-batch, anti-joined against the already-ingested table, and appended
under an (app_id, batch_id) transaction key — so the composition is
exactly-once even across crash replays (the replayed batch re-runs its
dedup against the SAME pre-append snapshot semantics: its append is a
txn no-op, and its anti-join sees its own rows already landed, keeping
the result identical either way).

This is the reference's ingestion loop (landing file -> raw table,
Load-gcs-to-bq/main.py:71-84) upgraded with the two guarantees the
reference lacks: no double-append on redelivery (its Pub/Sub
at-least-once re-runs the load job) and no duplicate keys in the raw
table.

Scale note: the per-batch anti-join ships only ``key_cols`` (digest- or
id-sized), never document bodies; at 100 TB the table side of that join
is served by parquet stats + the key columns alone, and the
broadcast-bloom prefilter of ``incremental_ingest_dedup`` drops in
unchanged when the key-distinct relation outgrows a plain anti-join
(build the bloom from the table keys, verify only maybe-members).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.txlog import TxLogTable


def dedup_ingest_sink(table: TxLogTable, app_id: str, key_cols: list[str]):
    """A ``foreachBatch`` body: exactly-once deduplicating append.

    Per micro-batch:

    1. in-batch exact dedup on ``key_cols``, DETERMINISTIC winner: the
       lexicographically-least row by the orderable non-key columns, with
       a JSON-hash tiebreak over any non-orderable columns (maps) so
       rows that tie on every orderable column still resolve to a stable
       winner. ``dropDuplicates`` alone keeps a partitioning-dependent
       row — a crash replay could then land a different payload than the
       first attempt computed, breaking exactly-once at the VALUE level
       even though the key set matches;
    2. anti-join against the current table snapshot, so keys already
       ingested by ANY earlier batch (or an earlier run) never land
       twice;
    3. idempotent txn append keyed (app_id, batch_id): a crash-replayed
       batch is a commit-level no-op (sources/txlog.py append txn
       protocol), so the sink is exactly-once end-to-end.

    Empty post-dedup batches still commit (an empty append) so the txn
    map stays monotone per Delta's batch-id assumption.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        import functools

        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        from pyspark.sql.window import Window

        def orderable(dt) -> bool:
            # MapType cannot be sorted; arrays/structs are orderable iff
            # their element/field types are
            if isinstance(dt, T.MapType):
                return False
            if isinstance(dt, T.ArrayType):
                return orderable(dt.elementType)
            if isinstance(dt, T.StructType):
                return all(orderable(f.dataType) for f in dt.fields)
            return True

        payload = [f for f in batch_df.schema.fields if f.name not in key_cols]
        others = [f.name for f in payload if orderable(f.dataType)]
        non_orderable = sorted(
            f.name for f in payload if not orderable(f.dataType)
        )
        order_keys = [F.col(c).asc_nulls_first() for c in others]
        if non_orderable:
            # Rows can tie on every ORDERABLE payload column while
            # differing in a non-orderable one (e.g. a map) — row_number
            # over the orderable columns alone would then pick a
            # partitioning-dependent row, and a crash replay could land a
            # different payload (breaking value-level exactly-once). Final
            # tiebreak: a hash of the JSON rendering of the non-orderable
            # columns. Replay recomputes the batch from the same source
            # bytes through the same plan, so each row re-serializes
            # identically and the hash-least winner is stable. (Two
            # SEMANTICALLY equal maps built in different key orders hash
            # differently — that only changes WHICH duplicate wins, never
            # the determinism of the choice.)
            order_keys.append(
                F.xxhash64(
                    F.to_json(F.struct(*[F.col(c) for c in non_orderable]))
                ).asc()
            )
        if order_keys:
            # tiebreak column name must not collide with a payload column
            rn = "_rn"
            while rn in batch_df.columns:
                rn = "_" + rn
            w = Window.partitionBy(*key_cols).orderBy(*order_keys)
            fresh = (
                batch_df.withColumn(rn, F.row_number().over(w))
                .filter(F.col(rn) == 1)
                .drop(rn)
            )
        else:
            # keys-only rows: any row IS the canonical row
            fresh = batch_df.dropDuplicates(key_cols)
        if table.exists():
            existing = (
                table.read(batch_df.sparkSession).select(*key_cols).distinct()
            )
            # NULL-SAFE anti-join: a plain equi anti-join never matches
            # NULL = NULL, so a NULL-keyed row would re-land every batch
            f, e = fresh.alias("f"), existing.alias("e")
            cond = functools.reduce(
                lambda a, b: a & b,
                [
                    F.col(f"f.{k}").eqNullSafe(F.col(f"e.{k}"))
                    for k in key_cols
                ],
            )
            fresh = f.join(e, cond, "left_anti")
        table.append(fresh, txn=(app_id, int(batch_id)))

    return _sink
