"""Transaction-log parquet table (sources/txlog.py): the row-level
DELETE / snapshot-isolation layer that upgrades S12/S13 from
partition-grained (dynamic overwrite + partition drop) to the
BigQuery-faithful row grain (sp_...update...sql:2-5 delete+reinsert;
Cleanup-job row DELETE) — Delta's protocol shape on plain parquet."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from weather_data_ingestion_gcp_spark.jobs import WeatherWarehouse
from weather_data_ingestion_gcp_spark.schemas import WEATHER_SCHEMA
from weather_data_ingestion_gcp_spark.sources.txlog import (
    CommitConflict,
    TxLogTable,
    TxLogTableStorage,
)
from tests.conftest import hourly_rows


def _df(spark, n=10, offset=0):
    return spark.range(offset, offset + n).select(
        F.col("id"), (F.col("id") % 3).alias("k")
    )


def test_append_snapshot_and_time_travel(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    assert not t.exists()
    v0 = t.append(_df(spark, 10))
    v1 = t.append(_df(spark, 5, offset=100))
    assert (v0, v1) == (0, 1)
    assert t.read(spark).count() == 15
    # time travel: version 0 still reads the original 10 rows
    assert t.read(spark, version=v0).count() == 10
    ops = [c["op"] for c in t.history()]
    assert ops == ["append", "append"]


def test_row_level_delete_rewrites_only_touched_files(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, 30))            # files A
    t.append(_df(spark, 30, offset=1000))  # files B — no id < 100 rows
    before = set(t.active_files())
    v = t.delete_where(spark, "id < 10")
    after = set(t.active_files())
    # B's files survive untouched; A's were rewritten
    b_files = {f for f in before if f in after}
    assert b_files, "untouched files should carry forward without rewrite"
    assert t.read(spark).filter("id < 10").count() == 0
    assert t.read(spark).count() == 50
    # time travel still sees the deleted rows
    assert t.read(spark, version=v - 1).count() == 60


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    """SQL DELETE semantics: remove rows where the predicate is TRUE —
    not rows where it is NULL. A NULL-dt row sharing a data file with a
    dropped date must survive the rewrite (NOT(NULL)=NULL would
    otherwise filter it out of the survivor set)."""
    t = TxLogTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02"), (3, None)],
        "id bigint, dt string",
    ).coalesce(1)  # one file: matching + NULL-evaluating rows together
    t.append(df)
    t.delete_where(spark, "dt = '2024-01-01'")
    remaining = {r["id"] for r in t.read(spark).collect()}
    assert remaining == {2, 3}, "NULL-predicate row must not be deleted"


def test_overwrite_partitions_handles_backslash_values(spark, tmp_path):
    """Partition values containing backslashes (even trailing ones) must
    produce a valid delete predicate — Spark SQL string literals treat
    backslash as an escape character."""
    storage = TxLogTableStorage(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a\\"), (2, "b\\'x")], "id bigint, k string"
    )
    storage.append(df, "t", ["k"])
    # replace partition "a\" with a new row; "b\'x" must be untouched
    df2 = spark.createDataFrame([(10, "a\\")], "id bigint, k string")
    storage.overwrite_partitions(df2, "t", ["k"])
    rows = {(r["id"], r["k"]) for r in storage.read(spark, "t").collect()}
    assert rows == {(10, "a\\"), (2, "b\\'x")}


def test_replace_where_is_one_atomic_commit(spark, tmp_path):
    """overwrite_partitions lands as ONE commit (Delta's replaceWhere):
    every historical version shows either the old rows or the new rows
    for the replaced key — never a version with the partition missing."""
    t = TxLogTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "x"), (2, "y")], "id bigint, k string"
    ).coalesce(1)
    t.append(df)
    v_before = t.version()
    new = spark.createDataFrame([(10, "x")], "id bigint, k string")
    v_after = t.replace_where(spark, "k <=> 'x'", new)
    assert v_after == v_before + 1, "replace_where must be a single commit"
    assert [c["op"] for c in t.history()][-1] == "replace_where"
    rows = {(r["id"], r["k"]) for r in t.read(spark).collect()}
    assert rows == {(10, "x"), (2, "y")}
    # every readable version contains k='x' rows — no half-state window
    for v in range(t.version() + 1):
        ks = {r["k"] for r in t.read(spark, version=v).collect()}
        assert "x" in ks and "y" in ks


def test_crashed_writer_leaves_no_torn_commit(spark, tmp_path):
    """Crash-recovery: commit bodies are staged to a tmp file and
    published with an atomic link, so a writer that dies mid-commit
    leaves only an ignorable tmp file — snapshot reads and later
    commits are unaffected (snapshot isolation holds)."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, 10))
    # simulate a writer that crashed after staging its commit body but
    # before publishing: a tmp file (possibly truncated JSON) in _log
    with open(os.path.join(t.log_dir, "tmp-deadbeef"), "w") as f:
        f.write('{"version": 1, "op": "app')  # torn
    assert t.version() == 0  # replay ignores non-version files
    assert t.read(spark).count() == 10
    v = t.append(_df(spark, 5, offset=100))  # next commit lands normally
    assert v == 1
    assert t.read(spark).count() == 15


def test_delete_no_match_is_noop_commit(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, 10))
    v = t.version()
    assert t.delete_where(spark, "id > 999") == v
    assert t.version() == v  # nothing committed


def test_commit_conflict_on_version_race(spark, tmp_path):
    """The O_EXCL arbiter: a writer whose snapshot went stale (another
    writer published its target version between the read and the
    create) must get CommitConflict, and a retry on the fresh snapshot
    must win the next version."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, 5))
    stale = t.version()
    nxt = stale + 1
    with open(os.path.join(t.log_dir, f"{nxt:010d}.json"), "w") as f:
        f.write('{"version": %d, "op": "append", "add": []}' % nxt)
    orig = t.version
    t.version = lambda: stale  # this writer read before the other committed
    try:
        with pytest.raises(CommitConflict):
            t._try_commit({"op": "append", "add": []})
    finally:
        t.version = orig
    # retry on the fresh snapshot wins the following version
    assert t.append(_df(spark, 5)) == nxt + 1


def test_checkpoint_and_vacuum(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, 20))
    t.delete_where(spark, "id < 5")
    t.checkpoint()
    n_before = t.read(spark).count()
    # default retention (7 days): freshly rewritten-away files are
    # younger than the window, so nothing is deleted — the guard that
    # protects files a concurrent writer has staged but not committed
    assert t.vacuum() == []
    removed = t.vacuum(retention_seconds=0)
    assert removed, "the rewritten-away files should be vacuumed"
    assert t.read(spark).count() == n_before  # live data intact
    # active set replays identically from the checkpoint entry
    assert t.read(spark).filter("id < 5").count() == 0


def test_vacuum_retention_spares_staged_uncommitted_files(spark, tmp_path):
    """The interleaving vacuum's retention window exists for: a writer
    stages data files BEFORE committing (write-then-publish), so staged
    files are unreferenced at vacuum time; deleting them would corrupt
    the commit that is about to land."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, 10))
    staged = t._write_data_files(_df(spark, 5, offset=100))  # not committed
    assert t.vacuum() == []  # default retention: staged files survive
    for rel in staged:
        assert os.path.exists(os.path.join(t.root, rel))
    # the in-flight writer can still land its commit on the staged files
    t._try_commit({"op": "append", "add": staged})
    assert t.read(spark).count() == 15


def test_warehouse_runs_on_txlog_binding(spark, tmp_path):
    """The same WeatherWarehouse jobs code runs with row-level-delete
    semantics by swapping the storage binding — the seam contract."""
    storage = TxLogTableStorage(spark, str(tmp_path / "wh"))
    wh = WeatherWarehouse(spark, str(tmp_path / "wh"), storage=storage)
    batch = spark.createDataFrame(hourly_rows(days=2), WEATHER_SCHEMA)
    wh.load_and_transform(batch)
    assert wh.read_daily().count() == 2
    # idempotent re-run: overwrite_partitions deletes+reinserts the same
    # days at row grain — still 2 daily rows, and hourly not duplicated
    wh.load_and_transform(batch)
    daily = wh.read_daily()
    assert daily.count() == 2
    # retention via the seam = row-level delete on the txlog table
    days = sorted({r["dt"] for r in hourly_rows(days=2)})
    dropped = wh.cleanup_hourly(
        retention_days=0, today=days[-1] + dt.timedelta(days=1)
    )
    assert sorted(dropped) == [str(d) for d in days]
    # hourly table now empty (active file set gone): the seam read
    # behaves like the parquet binding — an empty schema-typed frame,
    # so jobs code runs identically on both bindings
    empty = wh.read_hourly()
    assert empty.count() == 0
    assert empty.schema == WEATHER_SCHEMA
    # the raw table API reads the emptied table under its committed
    # schema too
    raw_empty = storage.table("hourly").read(spark)
    assert raw_empty.count() == 0
    assert set(raw_empty.columns) == set(empty.columns)
    # and a schema-less seam read reconstructs types from the log
    seam_empty = storage.read(spark, "hourly")
    assert seam_empty.count() == 0
    assert set(seam_empty.columns) == set(empty.columns)


def test_idempotent_txn_append_survives_checkpoint(spark, tmp_path):
    """The exactly-once contract: a replayed (app_id, batch_id) append is
    a no-op, including after a checkpoint fold (the txn map rides the
    checkpoint entry, Delta's setTransaction semantics)."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, 10), txn=("q1", 0))
    t.append(_df(spark, 10), txn=("q1", 0))  # replay — skipped
    assert t.read(spark).count() == 10
    t.checkpoint()
    t.append(_df(spark, 10), txn=("q1", 0))  # replay after fold — skipped
    assert t.read(spark).count() == 10
    t.append(_df(spark, 7, offset=50), txn=("q1", 1))  # new batch lands
    assert t.read(spark).count() == 17
    assert t.committed_txns() == {"q1": 1}


def test_streaming_foreach_batch_sink_exactly_once(spark, tmp_path):
    """Drive a real file-source stream into the txlog table through a
    foreachBatch sink that calls append_once, then re-invoke the sink
    with the last batch (exactly what Structured Streaming does when
    restarting from a checkpoint whose sink write never acknowledged) —
    the table must not double-count, and the replay reports that its
    commit did not land."""
    from weather_data_ingestion_gcp_spark.sources.landing import (
        stream_landing,
        write_landing_file,
    )

    landing = str(tmp_path / "landing")
    df = spark.createDataFrame(hourly_rows(days=2), WEATHER_SCHEMA)
    write_landing_file(spark, df, landing, stamp="20220701-23:00:05")

    t = TxLogTable(str(tmp_path / "t"))
    landed = []

    def sink(batch_df, batch_id):
        landed.append(t.append_once(batch_df, "ingest-q", batch_id))

    q = (
        stream_landing(spark, landing)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = t.read(spark).count()
    assert n == df.count()
    assert landed == [True]
    # post-crash replay of the already-committed batch
    sink(spark.createDataFrame(hourly_rows(days=2), WEATHER_SCHEMA), 0)
    assert t.read(spark).count() == n
    assert landed == [True, False]


def test_merge_updates_matched_inserts_new_rewrites_only_touched(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, 10))                 # ids 0-9, files A
    t.append(_df(spark, 10, offset=1000))    # ids 1000-1009, files B
    src = spark.range(5, 15).select(
        F.col("id"), F.lit(99).cast("long").alias("k")
    )
    before = set(t.active_files())
    v = t.merge(spark, src, on=["id"])
    after = set(t.active_files())
    # B untouched (no key overlap), A rewritten
    assert before & after, "files without matches must carry forward"
    out = t.read(spark)
    assert out.count() == 25  # 10 + 10 - 5 replaced + 10 source
    assert out.filter("id BETWEEN 5 AND 14 AND k = 99").count() == 10
    assert out.filter("id < 5 AND k != 99").count() == 5
    # single-commit atomicity: one version for the whole merge
    assert t.history()[-1]["op"] == "merge" and t.version() == v
    # time travel pre-merge
    assert t.read(spark, version=v - 1).count() == 20


def test_merge_into_empty_table_is_append(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.merge(spark, _df(spark, 7), on=["id"])
    assert t.read(spark).count() == 7


def test_schema_evolution_on_read(spark, tmp_path):
    """Files added after a column was introduced coexist with old files:
    the snapshot read merges schemas (missing columns null-fill), the
    txlog analog of Delta's additive schema evolution."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.range(5).select("id"))
    t.append(spark.range(5, 8).select("id", F.lit("en").alias("lang")))
    out = spark.read.option("mergeSchema", "true").parquet(
        *(os.path.join(t.root, f) for f in t.active_files())
    )
    assert set(out.columns) == {"id", "lang"}
    assert out.filter("lang IS NULL").count() == 5


def test_schema_type_conflict_rejected_at_write(spark, tmp_path):
    """The exact bug class the guard exists for: a writer supplying an
    INT where the table holds BIGINT would poison every later snapshot
    read (parquet type mismatch at read time, far from the cause) — the
    commit must be refused instead."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, 5))  # k: bigint
    bad = spark.range(5).select(F.col("id"), F.lit(1).alias("k"))  # k: int
    with pytest.raises(ValueError, match="schema type conflict"):
        t.append(bad)
    with pytest.raises(ValueError, match="schema type conflict"):
        t.merge(spark, bad, on=["id"])
    assert t.read(spark).count() == 5  # table unharmed


def test_compact_bin_packs_atomically(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    for i in range(5):  # five appends -> many small files
        t.append(_df(spark, 4, offset=i * 100))
    assert len(t.active_files()) > 2
    n = t.read(spark).count()
    v = t.compact(spark, target_files=1)
    assert len(t.active_files()) == 1
    assert t.read(spark).count() == n
    # pre-compaction version still readable (until vacuum)
    assert t.read(spark, version=v - 1).count() == n
    assert t.compact(spark, target_files=1) == v  # already compact: no-op


def test_small_append_auto_compacts_to_one_file(spark, tmp_path):
    """A small staged write must land as ONE parquet file (the Delta
    auto-compact analog): a 32-partition df otherwise stages dozens of
    near-empty files per commit and every snapshot read pays per-file
    overhead. Values, a timestamp column (micros-coerced — a nanos file
    would throw on a bare Spark read), and row-level delete time travel
    must all survive the driver-side merge."""
    t = TxLogTable(str(tmp_path / "t"))
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
    ).repartition(16)
    t.append(df)
    assert len(t.active_files()) == 1
    back = t.read(spark)
    assert back.count() == 1000
    assert dict(back.dtypes)["ts"] == "timestamp"
    assert back.agg(F.sum("id")).first()[0] == 499500
    got_ts = back.filter("id = 3").select("ts").first()[0]
    assert got_ts == dt.datetime.fromtimestamp(1700000003, dt.timezone.utc).replace(tzinfo=None)
    # the compacted file participates in row-level ops like any other
    v = t.delete_where(spark, "k = 0")
    assert t.read(spark).count() == 1000 - 143
    assert t.read(spark, version=v - 1).count() == 1000


def test_large_append_is_not_compacted(spark, tmp_path, monkeypatch):
    """Writes over the bound keep their parallel file layout — the
    compaction is a small-write policy, not a global coalesce (at scale
    a single-file rewrite would serialize the write path and the bound
    is also the driver-memory cap for the merge)."""
    monkeypatch.setattr(TxLogTable, "COMPACT_SMALL_WRITES_BYTES", 1)
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, 1000).repartition(8))
    assert len(t.active_files()) == 8
    assert t.read(spark).count() == 1000


# ---------------------------------------------------------------------------
# Model-based property test: random op sequences vs an exact in-memory
# model. If ANY interleaving of append/delete/merge/compact/checkpoint
# diverges from the set-semantics model, or breaks time travel, this
# finds it — the strongest guarantee a from-scratch table format can
# have short of concurrent fuzzing.
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings as h_settings
from hypothesis import strategies as st


@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(0, 4), st.integers(1, 6)),
            st.tuples(st.just("delete"), st.integers(0, 40), st.just(0)),
            st.tuples(st.just("merge"), st.integers(0, 4), st.integers(1, 6)),
            st.tuples(st.just("replace"), st.integers(0, 4), st.integers(1, 6)),
            st.tuples(st.just("compact"), st.just(0), st.just(0)),
            st.tuples(st.just("checkpoint"), st.just(0), st.just(0)),
        ),
        min_size=1,
        max_size=6,
    )
)
@h_settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
def test_txlog_matches_set_model_under_random_ops(spark, tmp_path_factory, ops):
    root = str(tmp_path_factory.mktemp("txmodel"))
    t = TxLogTable(root)
    model: dict[int, int] = {}  # id -> k
    snapshots: list[dict[int, int]] = []

    def mk(base, n):
        ids = list(range(base * 10, base * 10 + n))
        return spark.createDataFrame(
            [(i, i % 7) for i in ids], "id long, k long"
        ), ids

    for op, a, b in ops:
        if op == "append":
            df, ids = mk(a, b)
            t.append(df)
            for i in ids:
                # append keeps BOTH copies on duplicate id (it is not a
                # merge); model tracks multiset via count — simplify by
                # asserting on id multiset below instead
                model[i] = model.get(i, 0) + 1
        elif op == "delete":
            t.delete_where(spark, f"id < {a}")
            model = {i: c for i, c in model.items() if not (i < a)}
        elif op == "merge":
            df, ids = mk(a, b)
            t.merge(spark, df, on=["id"])
            for i in ids:
                model[i] = 1  # source-as-truth: replaces all copies
        elif op == "replace":
            df, ids = mk(a, b)
            lo, hi = a * 10, a * 10 + b
            t.replace_where(spark, f"id >= {lo} AND id < {hi}", df)
            # delete-matching + insert as one commit
            model = {i: c for i, c in model.items() if not (lo <= i < hi)}
            for i in ids:
                model[i] = model.get(i, 0) + 1
        elif op == "compact":
            t.compact(spark, target_files=1)
        elif op == "checkpoint":
            if t.exists():
                t.checkpoint()
        snapshots.append((t.version(), dict(model)))

    def read_ids(version=None):
        try:
            return sorted(
                r["id"]
                for r in t.read(spark, version=version).select("id").collect()
            )
        except FileNotFoundError:
            return []  # empty active set reads as the empty table

    if not t.exists():
        return
    want = sorted(i for i, c in model.items() for _ in range(c))
    assert read_ids() == want
    # time travel: each recorded version replays to its model state
    for v, m in snapshots:
        if v < 0:
            continue
        wv = sorted(i for i, c in m.items() for _ in range(c))
        assert read_ids(v) == wv, f"version {v} diverged from model"


def test_concurrent_appenders_all_land(spark, tmp_path):
    """Real threaded writers racing the O_EXCL arbiter: every append
    lands exactly once under append's commit retry, version numbers are
    dense, and the final table holds every writer's rows."""
    import threading

    t = TxLogTable(str(tmp_path / "t"))
    errs = []

    def writer(w):
        try:
            for i in range(3):
                df = spark.createDataFrame(
                    [(w * 100 + i, w)], "id long, k long"
                )
                t.append(df)
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert t.read(spark).count() == 12
    vs = [c["version"] for c in t.history()]
    assert vs == list(range(12)), "versions must be dense, none lost"


def test_drop_partition_escapes_special_values(spark, tmp_path):
    """drop_partition goes through _sql_lit + <=>: quote/backslash
    partition values must neither break parsing nor widen the delete."""
    storage = TxLogTableStorage(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a\\"), (2, "o'brien"), (3, "plain")], "id bigint, k string"
    )
    storage.append(df, "t", ["k"])
    assert storage.drop_partition("t", "k=a\\") is True
    assert {r["id"] for r in storage.read(spark, "t").collect()} == {2, 3}
    assert storage.drop_partition("t", "k=o'brien") is True
    assert {r["id"] for r in storage.read(spark, "t").collect()} == {3}
    assert storage.drop_partition("t", "k=never") is False


def test_sql_lit_roundtrips_adversarial_strings(spark):
    """_sql_lit must render ANY string so that `k <=> <lit>` matches
    exactly that string — quotes, backslashes (including trailing),
    newlines, and SQL-comment lookalikes. This is the property behind
    both overwrite_partitions and drop_partition predicates."""
    from weather_data_ingestion_gcp_spark.sources.txlog import _sql_lit

    adversarial = [
        "plain", "a\\", "\\", "o'brien", "''", "a\\'b", "x\ny",
        "-- comment", "%wild%", "_u_", "\\\\'", "a;b", "", "日本語\\",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(adversarial)], "id bigint, k string"
    )
    for i, s in enumerate(adversarial):
        got = [r["id"] for r in df.filter(f"k <=> {_sql_lit(s)}").collect()]
        assert got == [i], f"literal {s!r} matched {got}"
    # non-string types keep their typed form
    assert _sql_lit(None) == "NULL"
    assert _sql_lit(True) == "TRUE"
    assert _sql_lit(dt.date(2024, 1, 2)) == "DATE '2024-01-02'"


def test_commit_falls_back_when_hard_links_unsupported(spark, tmp_path, monkeypatch):
    """Substrates without hard-link support (some FUSE / object-store
    mounts): os.link raising EPERM/ENOTSUP must fall back to the O_EXCL
    create+write protocol — commits still publish, and a version race
    still surfaces as CommitConflict."""
    import os as _os

    from weather_data_ingestion_gcp_spark.sources.txlog import CommitConflict

    real_link = _os.link

    def no_link(src, dst, **kw):
        raise OSError(1, "Operation not permitted")  # EPERM

    t = TxLogTable(str(tmp_path / "t"))
    monkeypatch.setattr(_os, "link", no_link)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    t.append(df)
    t.append(spark.createDataFrame([(3, "c")], "id bigint, v string"))
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2, 3]
    # torn-commit discipline still holds: every published version is
    # complete JSON
    for name in sorted(_os.listdir(t.log_dir)):
        if name.endswith(".json"):
            import json as _json

            with open(_os.path.join(t.log_dir, name)) as f:
                _json.load(f)
    # race on the same version number -> CommitConflict for the loser
    stale = t.version()
    nxt = stale + 1
    with open(_os.path.join(t.log_dir, f"{nxt:010d}.json"), "w") as f:
        f.write('{"version": %d, "op": "append", "add": []}' % nxt)
    orig = t.version
    t.version = lambda: stale  # this writer read before the other committed
    try:
        t._try_commit({"op": "append", "add": []})
        raise AssertionError("expected CommitConflict")
    except CommitConflict:
        pass
    finally:
        t.version = orig
    monkeypatch.setattr(_os, "link", real_link)


def test_fallback_commit_failure_leaves_no_torn_version(spark, tmp_path, monkeypatch):
    """If the O_EXCL fallback's copy fails mid-write (ENOSPC/EIO), the
    partial JSON at the version path must be unlinked before the error
    propagates — otherwise _versions() counts it committed and every
    replay dies on it forever."""
    import os as _os

    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "id bigint, v string"))
    n_before = t.version()

    def no_link(src, dst, **kw):
        raise OSError(1, "Operation not permitted")  # EPERM

    real_fsync = _os.fsync
    calls = {"n": 0}

    def flaky_fsync(fd):
        calls["n"] += 1
        if calls["n"] >= 2:  # first call = tmp write, second = fallback copy
            raise OSError(28, "No space left on device")
        return real_fsync(fd)

    monkeypatch.setattr(_os, "link", no_link)
    monkeypatch.setattr(_os, "fsync", flaky_fsync)
    try:
        t._try_commit({"op": "append", "add": []})
        raise AssertionError("expected OSError from the failed copy")
    except OSError:
        pass
    monkeypatch.setattr(_os, "fsync", real_fsync)
    # the failed commit left no torn version: replay still works and the
    # version count is unchanged
    assert t.version() == n_before
    t.append(spark.createDataFrame([(2, "b")], "id bigint, v string"))
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2]


def test_changes_feed_append_delete_update(spark, tmp_path):
    """Row-grained CDF from file diffs: appends -> inserts, delete_where
    -> deletes, merge UPDATE -> delete+insert pair; surviving rows of a
    rewritten file cancel out, and only touched files are read."""
    t = TxLogTable(str(tmp_path / "t"))
    v0 = t.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, v string"))
    v1 = t.append(spark.createDataFrame([(3, "c")], "id bigint, v string"))
    # append interval: inserts only
    ch = {(r["id"], r["_change_type"]) for r in t.changes(spark, v0, v1).collect()}
    assert ch == {(3, "insert")}
    # identical endpoints: empty
    assert t.changes(spark, v1, v1).count() == 0
    # delete one row of the first file: delete only, survivor cancels
    v2 = t.delete_where(spark, "id = 1")
    ch = {(r["id"], r["_change_type"]) for r in t.changes(spark, v1, v2).collect()}
    assert ch == {(1, "delete")}
    # merge UPDATE: pre-image delete + post-image insert
    src = spark.createDataFrame([(2, "B")], "id bigint, v string")
    v3 = t.merge(spark, src, on=["id"])
    ch = {(r["id"], r["v"], r["_change_type"])
          for r in t.changes(spark, v2, v3).collect()}
    assert ch == {(2, "b", "delete"), (2, "B", "insert")}
    # full interval: net effect only (1 was inserted AND deleted -> both
    # rows appear, multiset semantics keep the history honest)
    full = {(r["id"], r["v"], r["_change_type"])
            for r in t.changes(spark, v0, v3).collect()}
    assert (3, "c", "insert") in full and (2, "B", "insert") in full
    assert (1, "a", "delete") in full and (2, "b", "delete") in full


def test_incremental_rollup_from_change_feed(spark, tmp_path):
    """CDF -> incremental view maintenance: a (day, sum, count) rollup
    maintained from TxLogTable.changes deltas equals a full recompute at
    every snapshot — across appends, row deletes, and merge updates —
    and fully-deleted groups vanish instead of lingering as zero rows."""
    from weather_data_ingestion_gcp_spark.operators import incremental

    t = TxLogTable(str(tmp_path / "t"))
    schema = "day string, v double"

    def recompute(version):
        return {
            (r["day"]): (r["n"], r["total"])
            for r in t.read(spark, version=version)
            .groupBy("day")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("v").alias("total"))
            .collect()
        }

    v0 = t.append(spark.createDataFrame(
        [("d1", 1.0), ("d1", 2.0), ("d2", 5.0)], schema))
    rollup = (
        t.read(spark, version=v0).groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("v").alias("total"))
    )
    # interval 1: append new day + more d1
    v1 = t.append(spark.createDataFrame([("d1", 4.0), ("d3", 7.0)], schema))
    # interval 2: delete all of d2 (group must vanish) and update a d1 row
    v2 = t.delete_where(spark, "day = 'd2'")
    v3 = t.merge(spark, spark.createDataFrame([("d1", 1.0)], schema),
                 on=["day", "v"])  # no-op-ish merge keeps feed non-trivial
    prev, prev_v = rollup, v0
    for v in (v1, v2, v3):
        prev = incremental.refresh_rollup(
            prev, t.changes(spark, prev_v, v), ["day"], "v")
        got = {r["day"]: (r["n"], r["total"]) for r in prev.collect()}
        assert got == recompute(v), f"at version {v}"
        prev_v = v
    assert "d2" not in {r["day"] for r in prev.collect()}


def test_changes_across_additive_schema_evolution(spark, tmp_path):
    """ADVICE r6: an interval spanning additive evolution must read with
    mergeSchema and project both sides to the union schema at to_version
    — a bare parquet read infers from an arbitrary footer, silently
    dropping the new column or crashing exceptAll on column-count
    mismatch."""
    t = TxLogTable(str(tmp_path / "t"))
    v0 = t.append(spark.createDataFrame([(1, "a")], "id bigint, v string"))
    v1 = t.append(
        spark.createDataFrame(
            [(2, "b", 9)], "id bigint, v string, extra bigint"
        )
    )
    ch = t.changes(spark, v0, v1)
    assert set(ch.columns) == {"id", "v", "extra", "_change_type"}
    rows = {(r["id"], r["v"], r["extra"], r["_change_type"]) for r in ch.collect()}
    assert rows == {(2, "b", 9, "insert")}
    # interval starting BEFORE the table existed: the old side's files
    # predate the column entirely and null-fill
    full = {
        (r["id"], r["extra"], r["_change_type"])
        for r in t.changes(spark, -1, v1).collect()
    }
    assert full == {(1, None, "insert"), (2, 9, "insert")}
    # a delete touching only old-schema files still feeds a union-schema
    # row (extra = NULL) so downstream consumers see one stable schema
    v2 = t.delete_where(spark, "id = 1")
    dels = {
        (r["id"], r["extra"], r["_change_type"])
        for r in t.changes(spark, v1, v2).collect()
    }
    assert dels == {(1, None, "delete")}


def test_changes_diffs_map_typed_columns_by_sorted_entries(spark, tmp_path):
    """Spark forbids map types in set operations; changes() must diff
    them as key-sorted entry arrays (map semantics — entry order never
    matters) and hand back real maps."""
    t = TxLogTable(str(tmp_path / "t"))
    df1 = spark.createDataFrame(
        [(1, {"b": "2", "a": "1"}), (2, {"x": "9"})],
        "id bigint, props map<string,string>",
    )
    v0 = t.append(df1)
    v1 = t.delete_where(spark, "id = 2")
    ch = t.changes(spark, v0, v1)
    assert dict(ch.dtypes)["props"] == "map<string,string>"
    rows = [(r["id"], r["props"], r["_change_type"]) for r in ch.collect()]
    assert rows == [(2, {"x": "9"}, "delete")]
    # same map written in a different entry order cancels out: the
    # rewrite of id=1's file must NOT produce a phantom delete+insert
    assert t.changes(spark, v0, v1).filter("id = 1").count() == 0


def test_changes_rejects_nested_maps_with_clear_error(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    v0 = t.append(
        spark.createDataFrame(
            [(1, ({"a": "1"},))],
            "id bigint, s struct<m: map<string,string>>",
        )
    )
    with pytest.raises(ValueError, match="nested"):
        t.changes(spark, -1, v0)


def test_changes_rejects_map_nested_in_map_value(spark, tmp_path):
    """ADVICE r7: map<string,map<string,bigint>> starts with "map<" so
    the old top-level guard passed it, and array_sort over its entry
    array (whose values still contain a map) then failed with an opaque
    AnalysisException. It must hit the same clear ValueError as
    struct/array nesting."""
    t = TxLogTable(str(tmp_path / "t"))
    v0 = t.append(
        spark.createDataFrame(
            [(1, {"a": {"x": 1}})],
            "id bigint, m map<string,map<string,bigint>>",
        )
    )
    with pytest.raises(ValueError, match="nested"):
        t.changes(spark, -1, v0)


def test_changes_after_vacuum_fails_at_the_cause(spark, tmp_path):
    """ADVICE r6: an interval whose diffed files were vacuumed must fail
    in changes() itself with a retention message, not file-not-found at
    action time deep inside a Spark job."""
    t = TxLogTable(str(tmp_path / "t"))
    v0 = t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string"))
    v1 = t.delete_where(spark, "id = 1")
    t.checkpoint()
    t.vacuum(retention_seconds=0.0)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        t.changes(spark, v0, v1)
    # intervals that only touch live files still work
    assert t.changes(spark, v1, v1).count() == 0


def test_delta_sum_count_raises_on_unknown_change_type(spark):
    """ADVICE r6: a malformed feed marker (typo, Delta-shaped
    'update_postimage', NULL) must fail loudly, never be silently
    treated as a delete."""
    from pyspark.errors import SparkRuntimeException

    from weather_data_ingestion_gcp_spark.operators.incremental import (
        delta_sum_count,
    )

    good = spark.createDataFrame(
        [("d1", 5, "insert"), ("d1", 3, "delete")],
        "day string, v bigint, _change_type string",
    )
    out = {r["day"]: (r["_d_count"], r["_d_sum"])
           for r in delta_sum_count(good, ["day"], "v").collect()}
    assert out == {"d1": (0, 2)}
    bad = spark.createDataFrame(
        [("d1", 5, "update_postimage")],
        "day string, v bigint, _change_type string",
    )
    with pytest.raises(SparkRuntimeException, match="unknown _change_type"):
        delta_sum_count(bad, ["day"], "v").collect()


def test_load_table_memo_is_per_session_object(spark):
    """ADVICE r6: DataFrames are bound to their creating session and
    newSession() shares the applicationId — the memo must key on the
    session OBJECT, so a sibling session never receives a foreign
    DataFrame."""
    from weather_data_ingestion_gcp_spark import store
    from weather_data_ingestion_gcp_spark.plans.registry import load_table

    sf = "/root/testdata/sf0.001"
    a = load_table(spark, sf, "region")
    assert load_table(spark, sf, "region") is a  # memo hit in-session
    sib = spark.newSession()
    try:
        assert getattr(sib, store._MEMO, None) is None  # no bleed-through
        b = load_table(sib, sf, "region")
        assert b is not a
        assert load_table(sib, sf, "region") is b
        assert b.count() == a.count()
    finally:
        if hasattr(sib, store._MEMO):
            delattr(sib, store._MEMO)


def test_staged_compaction_streams_and_preserves_micros(tmp_path):
    """ADVICE r11: staged small-write compaction must (a) stream row
    groups (memory bounded by one group, not the whole decompressed
    write) and (b) cast nanos-surfaced (INT96) timestamps to micros
    SAFELY — losslessly for micro-grain values, raising (never silently
    truncating) on genuine sub-microsecond data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from weather_data_ingestion_gcp_spark.sources.txlog import (
        _compact_parquet_files,
    )

    # micro-grain values stored at NANO unit (what pyarrow surfaces for
    # Spark's INT96 staging) compact losslessly to micros
    us = 123_456  # micro-grain fraction
    t0 = pa.array([1_700_000_000_000_000_000 + us * 1_000],
                  type=pa.timestamp("ns"))
    t1 = pa.array([1_700_000_100_000_000_000], type=pa.timestamp("ns"))
    f0, f1 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"ts": t0, "v": [1]}), f0)
    pq.write_table(pa.table({"ts": t1, "v": [2]}), f1)
    out = str(tmp_path / "merged.parquet")
    _compact_parquet_files([f0, f1], out)
    merged = pq.read_table(out)
    assert merged.schema.field("ts").type == pa.timestamp("us")
    assert merged.num_rows == 2
    assert merged.column("ts")[0].value == 1_700_000_000_000_000 + us

    # genuine sub-microsecond precision must raise, not truncate
    bad = pa.array([1_700_000_000_000_000_001], type=pa.timestamp("ns"))
    fb = str(tmp_path / "bad.parquet")
    pq.write_table(pa.table({"ts": bad, "v": [3]}), fb)
    with pytest.raises(ValueError, match="sub-microsecond"):
        _compact_parquet_files([f0, fb], str(tmp_path / "nope.parquet"))


def test_rewrite_commits_carry_no_empty_files(spark, tmp_path):
    """The survivor-write fast path (write + footer-prune, replacing the
    round-11 limit(1).count() probe job) must never publish a zero-row
    data file: a replace_where whose predicate wipes every row of every
    touched file commits with no survivor files at all."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string"))
    t.replace_where(
        spark, "id >= 0",
        spark.createDataFrame([(3, "c")], "id int, s string"),
    )
    assert [r.s for r in t.read(spark).collect()] == ["c"]
    import pyarrow.parquet as pq

    for rel in t.active_files():
        assert pq.read_metadata(os.path.join(t.root, rel)).num_rows > 0


def test_staged_compaction_converts_nested_timestamps(tmp_path):
    """ADVICE r12: the micros cast must recurse through struct/list/map
    nesting — a nanos timestamp inside a struct would leave the
    compacted file unreadable by a bare Spark scan exactly like a
    top-level one (PARQUET_TYPE_ILLEGAL)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from weather_data_ingestion_gcp_spark.sources.txlog import (
        _compact_parquet_files,
    )

    ns = pa.timestamp("ns")
    t = pa.table(
        {
            "rec": pa.array(
                [{"at": 1_700_000_000_000_000_000, "n": 1}],
                type=pa.struct([("at", ns), ("n", pa.int32())]),
            ),
            "hist": pa.array(
                [[1_700_000_000_000_000_000, 1_700_000_001_000_000_000]],
                type=pa.list_(ns),
            ),
            "tags": pa.array(
                [[("a", 1_700_000_000_000_000_000)]],
                type=pa.map_(pa.string(), ns),
            ),
        }
    )
    f0 = str(tmp_path / "a.parquet")
    f1 = str(tmp_path / "b.parquet")
    pq.write_table(t, f0)
    pq.write_table(t, f1)
    out = str(tmp_path / "merged.parquet")
    _compact_parquet_files([f0, f1], out)
    sch = pq.read_schema(out)
    us = pa.timestamp("us")
    assert sch.field("rec").type.field("at").type == us
    assert sch.field("hist").type.value_type == us
    assert sch.field("tags").type.item_type == us
    assert pq.read_table(out).num_rows == 2


def test_all_rows_deleted_rewrite_leaves_no_orphan_staging_dir(
    spark, tmp_path
):
    """ADVICE r12: a rewrite whose survivors are empty used to delete
    every part file but leave the staging dir holding _SUCCESS/.crc
    markers forever (vacuum only removes *.parquet). The writer now
    removes its own all-empty staging dir, and vacuum sweeps dirs left
    with markers but no parquet at all (pre-fix orphans / aged-out
    data)."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,), (2,)], "id int"))
    n_dirs_before = len(
        [d for d in os.listdir(t.root) if d != "_log"]
    )
    # delete everything: survivors are empty, so the rewrite's staging
    # dir must vanish with them
    t.delete_where(spark, "id >= 0")
    assert not t.active_files()
    dirs = [d for d in os.listdir(t.root) if d != "_log"]
    assert len(dirs) == n_dirs_before  # no new marker-only dir

    # and vacuum clears a pre-existing marker-only orphan dir too
    orphan = os.path.join(t.root, "data-orphaned0000")
    os.makedirs(orphan)
    marker = os.path.join(orphan, "_SUCCESS")
    open(marker, "w").close()
    old = 1.0  # epoch — far past any retention cutoff
    os.utime(marker, (old, old))
    os.utime(orphan, (old, old))
    t.vacuum(retention_seconds=0)
    assert not os.path.exists(orphan)


def test_append_once_distinguishes_own_commit_from_txn_skip(
    spark, tmp_path
):
    """append_once is the race-free way to learn whether a txn append
    COMMITTED: True iff this attempt's commit landed, regardless of
    concurrent commits (a version-delta check reads True when anyone
    else commits between the version() read and the append)."""
    t = TxLogTable(str(tmp_path / "t"))
    df = spark.createDataFrame([(1,)], "id int")
    assert t.append_once(df, "app", 0)
    # a replay right behind its own commit is skipped
    assert not t.append_once(df, "app", 0)
    # a concurrent commit (checkpoint: content-neutral) lands, then the
    # txn replay is skipped — the caller reads "not committed"
    t.checkpoint()
    before = t.version()
    assert not t.append_once(df, "app", 0)
    assert t.version() == before
    assert t.read(spark).count() == 1


def test_replace_range_prunes_disjoint_files_via_log_stats(spark, tmp_path):
    """replace_range derives its rewrite set from commit-log footer
    stats (Delta data-skipping analog): a file provably disjoint from
    the range is carried forward UNTOUCHED — same rel path in the
    snapshot, no rewrite job ever sees it."""
    t = TxLogTable(str(tmp_path / "t"))
    jan = spark.createDataFrame(
        [(dt.date(2024, 1, d), d) for d in (1, 2, 3)], "d date, v int"
    )
    mar = spark.createDataFrame(
        [(dt.date(2024, 3, d), d) for d in (1, 2)], "d date, v int"
    )
    t.append(jan)
    t.append(mar)
    mar_files = set(t.active_files()) - set(t.active_files(version=0))
    # stats landed in the commit entries
    stats = t.file_stats()
    assert all("d" in stats.get(f, {}) for f in t.active_files())

    repl = spark.createDataFrame([(dt.date(2024, 1, 2), 99)], "d date, v int")
    t.replace_range(spark, "d", dt.date(2024, 1, 1), dt.date(2024, 1, 31), repl)
    # march file survived by identity — never a rewrite candidate
    assert mar_files <= set(t.active_files())
    got = {(r.d, r.v) for r in t.read(spark).collect()}
    assert got == {(dt.date(2024, 1, 2), 99),
                   (dt.date(2024, 3, 1), 1), (dt.date(2024, 3, 2), 2)}


def test_replace_range_matches_replace_where_semantics(spark, tmp_path):
    """Same committed content as the generic predicate form, including
    NULL rows (predicate NULL -> row survives) and files without stats
    (legacy commits: stats stripped -> file stays a candidate, content
    still correct)."""
    import json as _json

    a = TxLogTable(str(tmp_path / "a"))
    b = TxLogTable(str(tmp_path / "b"))
    rows = [(dt.date(2024, 1, 1), 1), (dt.date(2024, 1, 5), 2),
            (None, 3), (dt.date(2024, 2, 1), 4)]
    df = lambda: spark.createDataFrame(rows, "d date, v int")  # noqa: E731
    a.append(df())
    b.append(df())
    # strip stats from b's log: legacy-commit shape
    log = os.path.join(b.log_dir, f"{0:010d}.json")
    entry = _json.load(open(log))
    entry.pop("stats", None)
    os.remove(log)
    with open(log, "w") as f:
        _json.dump(entry, f)
    assert b.file_stats() == {}

    repl = spark.createDataFrame(
        [(dt.date(2024, 1, 3), 9)], "d date, v int"
    )
    a.replace_where(
        spark, "d >= DATE '2024-01-01' AND d <= DATE '2024-01-31'", repl
    )
    b.replace_range(spark, "d", dt.date(2024, 1, 1), dt.date(2024, 1, 31), repl)
    want = {(dt.date(2024, 1, 3), 9), (None, 3), (dt.date(2024, 2, 1), 4)}
    assert {(r.d, r.v) for r in a.read(spark).collect()} == want
    assert {(r.d, r.v) for r in b.read(spark).collect()} == want


def test_file_stats_survive_checkpoint_fold(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(dt.date(2024, 1, 1), 1)], "d date, v int"))
    before = t.file_stats()
    assert before
    t.checkpoint()
    assert t.file_stats() == before
    # pruning still works across the fold: a disjoint replace_range
    # leaves the original file untouched
    orig = set(t.active_files())
    t.replace_range(
        spark, "d", dt.date(2025, 1, 1), dt.date(2025, 1, 2),
        spark.createDataFrame([(dt.date(2025, 1, 1), 7)], "d date, v int"),
    )
    assert orig <= set(t.active_files())


def test_additive_column_survives_read_compact_and_delete(
    spark, tmp_path, monkeypatch
):
    """Every read is typed by the committed schema, not by whichever
    data file sorts first: with the pre-evolution file first in the
    snapshot, the new column's values must survive read(), compact()
    (which rewrites every file) and a delete_where on an old row."""
    import itertools
    import uuid

    from weather_data_ingestion_gcp_spark.sources import txlog

    n = itertools.count(1)
    # increasing staging-dir names: the first append's file sorts first
    monkeypatch.setattr(
        txlog.uuid, "uuid4", lambda: uuid.UUID(int=next(n) << 80)
    )
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.range(3).select("id"))
    t.append(
        spark.range(3, 6).select(
            "id", F.concat(F.lit("l"), F.col("id").cast("string")).alias("lang")
        )
    )
    assert t.active_files()[0] in t.history()[0]["add"]

    def langs():
        return sorted(
            r.lang for r in t.read(spark).collect() if r.lang is not None
        )

    assert langs() == ["l3", "l4", "l5"]
    t.compact(spark)
    assert langs() == ["l3", "l4", "l5"]
    t.delete_where(spark, "id = 0")
    assert langs() == ["l3", "l4", "l5"]
    assert t.read(spark).count() == 5


def test_replay_starts_at_the_newest_checkpoint(spark, tmp_path, monkeypatch):
    """A read right after checkpoint() reads one commit file — the
    checkpoint — not the whole log."""
    t = TxLogTable(str(tmp_path / "t"))
    for i in range(8):
        t.append(_df(spark, 2, offset=10 * i))
    t.checkpoint()
    reads = []
    orig = TxLogTable._read_commit
    monkeypatch.setattr(
        TxLogTable, "_read_commit",
        lambda self, v: reads.append(v) or orig(self, v),
    )
    assert t.read(spark).count() == 16
    assert reads == [8]


def test_nested_field_names_needing_quotes_read_back(spark, tmp_path):
    """A struct field name the DDL parser cannot take bare (a space, a
    backtick) is quoted in the committed type string, so the
    schema-pinned reader parses it. Ordinary type strings stay exactly
    ``simpleString()``, so schemas committed in existing logs still
    compare equal."""
    df = spark.createDataFrame(
        [((1, "x"),)], "s struct<`a b`: int, `c``d`: string>"
    )
    t = TxLogTable(str(tmp_path / "t"))
    t.append(df)
    assert t.read(spark).collect() == df.collect()
    t.append(df)  # the incoming type string equals the committed one
    assert t.read(spark).count() == 2
    from weather_data_ingestion_gcp_spark.schemas import RAW_API_SCHEMA
    from weather_data_ingestion_gcp_spark.sources.txlog import _type_string

    for schema in (RAW_API_SCHEMA, WEATHER_SCHEMA):
        for f in schema.fields:
            assert _type_string(f.dataType) == f.dataType.simpleString()
