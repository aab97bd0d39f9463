"""Transaction-log parquet table — row-level DELETE/MERGE semantics on a
plain-parquet substrate (the Delta/Iceberg pattern, minimally).

The reference's warehouse is BigQuery, where the UPDATE stored procedure
deletes today's rows and reinserts them (sp_...update...sql:2-5) and the
cleanup job row-deletes by date (Cleanup-job/sp_...sql:2). The engine's
default binding replaces those with dynamic-partition overwrite and
metadata partition drops — correct, but partition-grained. This module
adds the file-grained transactional layer for the cases that need true
row-level semantics without a whole-partition rewrite:

- **Commit log**: ``_log/<version 10-digit>.json`` files, one per commit,
  each listing files ``add``ed and ``remove``d. A commit becomes visible
  atomically via the same tmp+rename the landing sink uses; concurrent
  writers race on ``os.O_EXCL`` creation of the next version — the loser
  gets a ``CommitConflict`` and retries on a fresh snapshot (optimistic
  concurrency, single-table granularity, exactly Delta's protocol shape).
- **Snapshot reads**: replaying the log yields the live file set and
  the committed schema (the union of additive evolution); every data
  read is ``spark.read.schema(<committed schema>).parquet(*files)``, so
  a file that predates a column null-fills it. ``version=`` gives time
  travel for free.
- **Row-level DELETE**: rewrite ONLY the data files that contain matching
  rows (min/max-style pruning via a per-file metadata filter scan), commit
  remove(old)+add(rewritten). Files with no matches are untouched — at
  100 TB a DELETE touching one day's bad rows rewrites that day's files,
  never the table.

Scale notes: a replay reads commits newest-first until it meets a
checkpoint, then folds forward from it — so its cost is the commits
since the last ``checkpoint()`` (every commit, if there is none; the log
is tiny JSON, one file per commit). Data paths stay relative to the
table root so the table relocates with a rename.
"""

from __future__ import annotations

import errno
import json
import os
import re
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType


class CommitConflict(Exception):
    """Another writer committed this version first — re-read and retry."""


def _sql_lit(v) -> str:
    """Render a python value as a Spark SQL literal (used with the
    null-safe ``<=>`` comparator, so NULL composes too)."""
    import datetime as _dt

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v}'"
    if isinstance(v, (int, float)):
        return repr(v)
    # backslash must be escaped FIRST (Spark SQL string literals treat \
    # as an escape by default; a trailing backslash would otherwise turn
    # the closing quote into \' and re-open the literal)
    s = str(v).replace("\\", "\\\\").replace("'", "''")
    return "'" + s + "'"


def _stat_encode(v) -> list | None:
    """JSON-safe, order-preserving encoding of a parquet footer stat (or
    a pruning bound) as a ``[kind, value]`` pair: numbers, dates (as
    ordinals), strings. Kinds must match for a comparison to be valid —
    everything else encodes to None, which disables pruning for that
    column (the safe direction). Timestamps are deliberately excluded:
    footer stats surface them with environment-dependent tz-awareness,
    and a wrong ordinal silently skips files — day-grain pruning covers
    the maintenance patterns this table serves."""
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return ["n", v]
    if isinstance(v, _dt.datetime):  # before date: datetime is a date
        return None
    if isinstance(v, _dt.date):
        return ["d", v.toordinal()]
    if isinstance(v, str):
        return ["s", v]
    return None


def _quote(name: str) -> str:
    """Backtick-quote a field name unless the DDL parser takes it bare —
    Spark's own ``quoteIfNeeded`` rule."""
    if re.fullmatch(r"[A-Za-z0-9_]+", name) and not name.isdigit():
        return name
    return "`" + name.replace("`", "``") + "`"


def _type_string(t: DataType) -> str:
    """``t.simpleString()`` with nested field names quoted where needed,
    so the string parses back as DDL; ordinary type strings (and the
    schemas already committed in logs) are unchanged."""
    if isinstance(t, StructType):
        return "struct<%s>" % ",".join(
            f"{_quote(f.name)}:{_type_string(f.dataType)}" for f in t.fields
        )
    if isinstance(t, ArrayType):
        return f"array<{_type_string(t.elementType)}>"
    if isinstance(t, MapType):
        return f"map<{_type_string(t.keyType)},{_type_string(t.valueType)}>"
    return t.simpleString()


class _Snapshot(NamedTuple):
    """One replay of the log (``TxLogTable._snapshot``)."""

    version: int  # last commit replayed; -1 = no commits
    files: list[str]  # live data files, table-relative, sorted
    schema: dict[str, str]  # column -> type string
    stats: dict[str, dict]  # live file -> footer min/max per column
    txns: dict[str, int]  # app_id -> highest committed txn version

    @property
    def ddl(self) -> str:
        return ", ".join(
            f"`{c.replace('`', '``')}` {t}" for c, t in self.schema.items()
        )


def _unmatched(predicate: str):
    """``keep`` for a predicate rewrite. SQL DELETE semantics remove
    only rows where the predicate is TRUE: NOT(NULL) is NULL (filtered
    out), so a bare NOT(pred) would silently delete NULL-evaluating rows
    that share a file with true matches."""
    return lambda d: d.filter(~F.coalesce(F.expr(predicate), F.lit(False)))


def _compact_parquet_files(paths: list[str], out_path: str) -> None:
    """Merge staged parquet files into one, STREAMING row groups through
    a single ParquetWriter — driver memory is bounded by one row group,
    never the whole decompressed write (the concat-then-write form
    materialized ~5-10x the compressed trigger bound on the driver).

    Timestamps are cast to micros so the compacted file stays readable
    by a bare Spark scan (nanos parquet throws PARQUET_TYPE_ILLEGAL, the
    TESTDATA.md gotcha). The cast is SAFE: Spark stages INT96, which
    Arrow surfaces as nanos, but the values are micro-grain by Spark's
    own timestamp semantics — a genuine sub-microsecond value can only
    mean foreign data and raises ValueError instead of silently
    truncating (the append() contract is micros-at-most)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def _us(t: pa.DataType) -> pa.DataType:
        # recurse through nesting: the writer-level coerce_timestamps
        # option this replaces applied recursively, and a nanos
        # timestamp hiding inside a struct/list/map would make the
        # compacted file just as unreadable as a top-level one
        if pa.types.is_timestamp(t) and t.unit != "us":
            return pa.timestamp("us", tz=t.tz)
        if pa.types.is_struct(t):
            return pa.struct([f.with_type(_us(f.type)) for f in t])
        if pa.types.is_large_list(t):
            return pa.large_list(_us(t.value_type))
        if pa.types.is_fixed_size_list(t):
            return pa.list_(_us(t.value_type), t.list_size)
        if pa.types.is_list(t):
            return pa.list_(_us(t.value_type))
        if pa.types.is_map(t):
            return pa.map_(_us(t.key_type), _us(t.item_type))
        return t

    src = pq.read_schema(paths[0])
    target = pa.schema(
        [f.with_type(_us(f.type)) for f in src], metadata=src.metadata
    )
    with pq.ParquetWriter(out_path, target) as w:
        for p in paths:
            pf = pq.ParquetFile(p)
            for g in range(pf.num_row_groups):
                try:
                    # Table.cast is safe by default: a value with
                    # non-zero sub-microsecond digits raises
                    w.write_table(pf.read_row_group(g).cast(target))
                except pa.ArrowInvalid as exc:
                    raise ValueError(
                        "staged write carries sub-microsecond timestamp "
                        "precision; the table contract is micros at most "
                        f"(Spark timestamp semantics): {exc}"
                    ) from exc


class TxLogTable:
    #: Small-write compaction bound (the Delta auto-compact analog): a
    #: staged write whose parquet parts total at most this many bytes is
    #: merged driver-side into ONE file before the commit references it.
    #: A df carrying 32 shuffle partitions otherwise stages 32 near-empty
    #: files per commit, and every subsequent snapshot read pays
    #: per-file listing + footer + task overhead (the streaming
    #: engagement sink commits 6 times over two tables per run; measured
    #: 96 presence files for ~100k rows at sf0.1). At scale the bound
    #: makes this a no-op — a large append's bytes exceed it and the
    #: files land as written — so driver memory for the merge is capped
    #: by the bound itself. Class attribute so tests can tighten it.
    COMPACT_SMALL_WRITES_BYTES = 32 << 20

    def __init__(self, root: str):
        self.root = root
        self.log_dir = os.path.join(root, "_log")

    # -- log plumbing -------------------------------------------------------

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".json") and name[:-5].isdigit():
                out.append(int(name[:-5]))
        return sorted(out)

    def version(self) -> int:
        """Latest committed version (-1 = table does not exist yet)."""
        vs = self._versions()
        return vs[-1] if vs else -1

    def history(self) -> list[dict]:
        return [self._read_commit(v) for v in self._versions()]

    def _read_commit(self, v: int) -> dict:
        with open(os.path.join(self.log_dir, f"{v:010d}.json")) as f:
            return json.load(f)

    def _snapshot(self, version: int | None = None,
                  base: _Snapshot | None = None) -> _Snapshot:
        """Replay the log up to ``version`` (default: latest). Commits
        are read newest-first down to the newest checkpoint at or below
        ``version`` and folded forward from there; with ``base`` (an
        earlier snapshot) the fold continues from it instead, reading
        only the commits after ``base.version``."""
        vs = [v for v in self._versions() if version is None or v <= version]
        if base is None:
            base = _Snapshot(-1, [], {}, {}, {})
            commits = []
            for v in reversed(vs):
                c = self._read_commit(v)
                commits.append(c)
                # a checkpoint without a schema (written before
                # checkpoints carried one) cannot seed the fold
                if c.get("op") == "checkpoint" and "schema" in c:
                    break
            commits.reverse()
        else:
            commits = [self._read_commit(v) for v in vs if v > base.version]
        files, schema = set(base.files), dict(base.schema)
        stats, txns = dict(base.stats), dict(base.txns)
        for c in commits:
            if c.get("op") == "checkpoint":
                files = set(c["files"])
            files.difference_update(c.get("remove", []))
            files.update(c.get("add", []))
            schema.update(c.get("schema") or {})
            stats.update(c.get("stats") or {})
            txns.update(c.get("txns") or {})
            if c.get("txn"):
                app, ver = c["txn"]
                txns[app] = max(txns.get(app, -1), ver)
        live = sorted(files)
        return _Snapshot(vs[-1] if vs else -1, live, schema,
                         {r: stats[r] for r in live if r in stats}, txns)

    def _try_commit(self, entry: dict) -> int:
        """Atomically publish the next version. The commit body is fully
        written to a private tmp file FIRST; ``os.link`` onto the version
        path is the arbiter (it fails with EEXIST if another writer won,
        and it is atomic — a crash at any point leaves either no commit
        or a complete one, never a torn JSON that would poison every
        subsequent log replay). Orphaned tmp files from crashed writers
        are invisible: ``_versions`` only matches 10-digit ``.json``
        names."""
        os.makedirs(self.log_dir, exist_ok=True)
        if entry.get("add") and "stats" not in entry:
            # per-file footer stats ride in the commit entry (the Delta
            # data-skipping analog): file-skipping reads the LOG, never
            # the data. Advisory — a failure to collect must never fail
            # the commit (readers treat missing stats as "candidate").
            try:
                entry["stats"] = self._collect_stats(entry["add"])
            except Exception:
                pass
        v = self.version() + 1
        path = os.path.join(self.log_dir, f"{v:010d}.json")
        entry = {"version": v, "ts": time.time(), **entry}
        tmp = os.path.join(self.log_dir, f"tmp-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as f:
            json.dump(entry, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError as exc:
            raise CommitConflict(f"version {v} already committed") from exc
        except OSError as exc:
            if exc.errno not in (
                errno.EPERM,
                errno.EACCES,
                errno.EOPNOTSUPP,
                getattr(errno, "ENOTSUP", errno.EOPNOTSUPP),
                errno.EMLINK,
                errno.EXDEV,
            ):
                raise
            # Substrate without hard-link support (some FUSE / object-store
            # mounts): fall back to the O_EXCL create+write protocol. Still
            # an atomic ARBITER (two racing writers cannot both create), but
            # a crash mid-write can leave a torn JSON at the version path —
            # the link path stays the default because it closes exactly that
            # window; this branch only trades it back for substrates where
            # link() cannot work at all.
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError as exc2:
                raise CommitConflict(
                    f"version {v} already committed"
                ) from exc2
            try:
                with os.fdopen(fd, "w") as out:
                    with open(tmp) as src:
                        out.write(src.read())
                    out.flush()
                    os.fsync(out.fileno())
            except BaseException:
                # a failed copy (ENOSPC/EIO) must not leave a torn JSON at
                # the published version path — _versions() would count it
                # committed and every replay would die on it forever. The
                # unlink narrows the torn window back to a hard crash
                # between write and unlink (the trade this fallback makes).
                try:
                    os.unlink(path)
                except OSError:
                    pass
                raise
        finally:
            os.unlink(tmp)
        return v

    def active_files(self, version: int | None = None) -> list[str]:
        """The live data-file set at ``version`` (default: latest)."""
        return self._snapshot(version).files

    def _collect_stats(self, rels: list[str]) -> dict[str, dict]:
        """Per-file min/max column stats from the staged parquet footers
        (driver-side metadata reads — no Spark job, no data pages).
        Only top-level primitive columns of prunable kinds are kept;
        a column with any stat-less or unencodable row group is dropped
        for that file (reader treats absence as "candidate")."""
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for rel in rels:
            md = pq.read_metadata(os.path.join(self.root, rel))
            cols: dict[str, list | None] = {}
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for ci in range(rg.num_columns):
                    c = rg.column(ci)
                    path = c.path_in_schema
                    if "." in path:  # nested leaf — not prunable here
                        continue
                    if path in cols and cols[path] is None:
                        continue
                    st = c.statistics
                    enc = None
                    if st is not None and st.has_min_max:
                        mn, mx = _stat_encode(st.min), _stat_encode(st.max)
                        if mn is not None and mx is not None:
                            enc = [mn, mx]
                    if enc is None:
                        cols[path] = None
                        continue
                    cur = cols.get(path)
                    if cur is None:
                        cols[path] = enc
                    else:
                        cols[path] = [min(cur[0], enc[0]),
                                      max(cur[1], enc[1])]
            out[rel] = {c: v for c, v in cols.items() if v is not None}
        return out

    def file_stats(self) -> dict[str, dict]:
        """live rel path -> {col: [[kind, min], [kind, max]]}, collected
        from footers at commit time and carried forward by checkpoints.
        Files without stats simply don't appear — readers must treat
        them as rewrite candidates."""
        return self._snapshot().stats

    def _overlapping_files(self, snap: _Snapshot, col: str, lo,
                           hi) -> list[str]:
        """Live files whose [min, max] for ``col`` overlaps [lo, hi]
        — plus every file whose stats are missing or of a different
        kind (pruning must only ever SKIP provably-disjoint files)."""
        lo_e, hi_e = _stat_encode(lo), _stat_encode(hi)

        def disjoint(st) -> bool:
            return (
                st is not None and lo_e is not None and hi_e is not None
                and st[0][0] == lo_e[0] and st[1][0] == hi_e[0]
                and (st[0][1] > hi_e[1] or st[1][1] < lo_e[1])
            )

        return [r for r in snap.files
                if not disjoint(snap.stats.get(r, {}).get(col))]

    # -- write path ---------------------------------------------------------

    def table_schema(self) -> dict[str, str]:
        """column -> type string of the latest committed schema — the
        union of additive evolution; empty if the table has no commits."""
        return self._snapshot().schema

    @staticmethod
    def _check_schema(df: DataFrame, cur: dict[str, str]) -> dict[str, str]:
        """Reject type CHANGES to existing columns of the committed
        schema ``cur`` (a mixed-type column across data files breaks
        every subsequent snapshot read — the failure surfaces at read
        time, far from the write that caused it). New columns are fine:
        additive evolution, null-filled by the schema-pinned reader."""
        new = {f.name: _type_string(f.dataType) for f in df.schema.fields}
        conflicts = [
            (c, cur[c], t) for c, t in new.items() if c in cur and cur[c] != t
        ]
        if conflicts:
            raise ValueError(
                "schema type conflict with committed table schema "
                f"(col, table, incoming): {conflicts}"
            )
        return new

    def _write_data_files(self, df: DataFrame) -> list[str]:
        """Stage df as parquet under a unique dir and return the
        table-relative paths of the parts that carry rows: zero-row parts
        are deleted (footer check on the driver, no Spark job) and a
        small write (<= COMPACT_SMALL_WRITES_BYTES) is merged into one
        file. Staged files are invisible until a commit references them
        (write-then-publish, like Delta)."""
        import pyarrow.parquet as pq

        stage = f"data-{uuid.uuid4().hex[:12]}"
        out_dir = os.path.join(self.root, stage)
        df.write.mode("error").parquet(out_dir)
        names = []
        for n in sorted(os.listdir(out_dir)):
            if not n.endswith(".parquet"):
                continue
            if pq.read_metadata(os.path.join(out_dir, n)).num_rows > 0:
                names.append(n)
            else:
                os.remove(os.path.join(out_dir, n))
        if not names:
            # every part was empty: the staging dir now holds only
            # Spark's _SUCCESS/.crc markers, nothing will ever reference
            # it, and vacuum() only removes *.parquet — without this it
            # would orphan one marker-only dir per all-rows-deleted
            # rewrite, forever. Private to this writer (uuid dir name,
            # write already complete), so removing it races nothing.
            import shutil

            shutil.rmtree(out_dir, ignore_errors=True)
            return []
        paths = [os.path.join(out_dir, n) for n in names]
        if (
            len(names) > 1
            and sum(os.path.getsize(p) for p in paths)
            <= self.COMPACT_SMALL_WRITES_BYTES
        ):
            names = ["part-00000-compacted.parquet"]
            _compact_parquet_files(paths, os.path.join(out_dir, names[0]))
            for p in paths:
                os.remove(p)
        return [f"{stage}/{n}" for n in names]

    def _rewrite(self, spark: SparkSession, snap: _Snapshot, op: str,
                 remove: list[str], keep, add_df: DataFrame | None,
                 **meta) -> int | None:
        """The one write path: the rows of the ``remove`` files that
        ``keep`` retains (``keep=None``: none) plus ``add_df`` are staged
        in ONE write and published as ONE remove+add commit, so a reader
        sees the old table or the new one and a crash leaves the old one.
        A losing append re-publishes its staged files on the next version
        (it removes nothing, so it cannot conflict semantically), or
        returns None if the winner committed the same txn key; every
        other op raises CommitConflict, since its remove set may be
        stale."""
        entry: dict = {"op": op, **meta}
        df = add_df
        if add_df is not None:
            entry["schema"] = self._check_schema(add_df, snap.schema)
        if keep is not None and remove:
            kept = keep(self._read(spark, remove, snap.ddl))
            df = kept if df is None else kept.unionByName(
                df, allowMissingColumns=True
            )
        entry["add"] = self._write_data_files(df)
        if remove:
            entry["remove"] = remove
        while True:
            try:
                return self._try_commit(entry)
            except CommitConflict:
                if op != "append":
                    raise
                txn = meta.get("txn")
                if txn and self.committed_txns().get(txn[0], -1) >= txn[1]:
                    return None  # another worker landed our txn

    def append(self, df: DataFrame,
               txn: tuple[str, int] | None = None) -> int | None:
        """Append and return the committed version; safe under
        concurrent writers (a lost version race retries the commit, see
        ``_rewrite``). ``txn=(app_id, txn_version)`` makes it
        IDEMPOTENT: a commit carrying an (app_id, version) pair the log
        has already recorded is skipped and returns None (Delta's
        txnAppId/txnVersion protocol; see ``append_once``)."""
        snap = self._snapshot()
        if txn is not None and snap.txns.get(txn[0], -1) >= txn[1]:
            # replayed batch — already in (streaming batch ids are
            # monotonically increasing per query, Delta's assumption)
            return None
        meta = {} if txn is None else {"txn": [txn[0], txn[1]]}
        return self._rewrite(df.sparkSession, snap, "append", [], None, df,
                             **meta)

    def append_once(self, df: DataFrame, app_id: str, batch_id: int) -> bool:
        """The exactly-once step of a ``foreachBatch`` sink: append
        ``df`` under the ``(app_id, batch_id)`` txn key (a stable query
        name and the checkpointed batch id), and say whether THIS
        attempt's commit landed. Structured Streaming replays the last
        uncommitted batch after a crash; the replay's append is skipped
        and reads False, whatever else committed meanwhile (a version
        delta would read True if a retention ``delete_where`` landed
        between a ``version()`` read and the append)."""
        return self.append(df, txn=(app_id, int(batch_id))) is not None

    def overwrite(self, df: DataFrame) -> int:
        snap = self._snapshot()
        return self._rewrite(df.sparkSession, snap, "overwrite", snap.files,
                             None, df)

    def _touched_files(self, spark: SparkSession, snap: _Snapshot,
                       match) -> list[str]:
        """Table-relative paths of the live files holding rows that
        ``match`` selects from the snapshot read — ONE distributed job
        via input_file_name(), never a per-file driver loop. The collect
        is bounded by the snapshot's file count."""
        if not snap.files:
            return []
        matched = match(self._read(spark, snap.files, snap.ddl))
        rows = (
            matched.select(F.input_file_name().alias("f")).distinct().collect()
        )
        prefix = os.path.abspath(self.root) + os.sep
        out = []
        for r in rows:
            p = r["f"]
            if p.startswith("file:"):
                p = p[len("file:"):]
            p = os.path.abspath(p)
            if p.startswith(prefix):
                out.append(p[len(prefix):])
        return sorted(out)

    def delete_where(self, spark: SparkSession, predicate: str) -> int:
        """Row-level DELETE: rewrite only the files that contain matching
        rows. Match detection is ONE job over the snapshot (predicate +
        input_file_name, parquet stats pruning applies); untouched files
        carry forward without rewrite."""
        snap = self._snapshot()
        touched = self._touched_files(
            spark, snap, lambda d: d.filter(predicate)
        )
        if not touched:
            return snap.version  # no-op delete: nothing to commit
        return self._rewrite(spark, snap, "delete", touched,
                             _unmatched(predicate), None, predicate=predicate)

    def merge(self, spark: SparkSession, source: DataFrame,
              on: list[str]) -> int:
        """Row-level MERGE, source-as-truth semantics (WHEN MATCHED
        UPDATE SET * / WHEN NOT MATCHED INSERT *): target rows whose
        ``on`` keys appear in the source are replaced, everything else
        in the source is inserted. Only the files containing matched
        rows are rewritten (same input_file_name detection as DELETE);
        the whole operation is one commit, so readers see the old or the
        new table, never a half-merge."""
        snap = self._snapshot()
        keys = F.broadcast(source.select(*on).distinct())
        touched = self._touched_files(
            spark, snap, lambda d: d.join(keys, on, "left_semi")
        )
        return self._rewrite(spark, snap, "merge", touched,
                             lambda d: d.join(keys, on, "left_anti"), source,
                             on=on)

    def replace_where(self, spark: SparkSession, predicate: str,
                      df: DataFrame) -> int:
        """Atomic delete-matching-rows + insert-df as ONE commit
        (Delta's ``replaceWhere``). A reader always sees the old or the
        new table — never a window where the replaced rows are missing —
        and a crash mid-operation leaves the old table intact, because
        staged files are invisible until the single commit publishes
        them. Same file-grained rewrite as delete_where: only files
        containing matching rows are rewritten."""
        snap = self._snapshot()
        touched = self._touched_files(
            spark, snap, lambda d: d.filter(predicate)
        )
        return self._rewrite(spark, snap, "replace_where", touched,
                             _unmatched(predicate), df, predicate=predicate)

    def replace_range(self, spark: SparkSession, col: str, lo, hi,
                      df: DataFrame) -> int:
        """``replace_where`` specialized to the contiguous range
        ``lo <= col <= hi``, with the rewrite set derived from
        commit-log footer stats (file_stats — the Delta data-skipping
        analog) instead of an ``input_file_name`` scan JOB: the driver
        prunes to files whose [min, max] overlaps the range; a file
        with missing/foreign-kind stats stays a candidate (safe), and a
        candidate that turns out to hold no matching rows is rewritten
        content-identical — pruning precision is a performance
        property, never a correctness one. This is the maintenance
        primitive a day-scoped recompute wants at scale: candidate
        detection is O(active files) driver work on the log, zero data
        reads, however large the table."""
        predicate = (
            f"{col} >= {_sql_lit(lo)} AND {col} <= {_sql_lit(hi)}"
        )
        snap = self._snapshot()
        return self._rewrite(spark, snap, "replace_where",
                             self._overlapping_files(snap, col, lo, hi),
                             _unmatched(predicate), df, predicate=predicate)

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """Bin-pack the snapshot into ``target_files`` files — the
        small-file compaction every log-structured table needs (each
        streaming batch appends its own files; a day of minutely batches
        is 1440 footer reads per scan until compacted). One atomic
        commit swaps the whole set; readers never see a half-compacted
        table, and time travel to pre-compaction versions still works
        until vacuum()."""
        snap = self._snapshot()
        if len(snap.files) <= target_files:
            return snap.version
        return self._rewrite(spark, snap, "compact", snap.files,
                             lambda d: d.coalesce(target_files), None)

    def committed_txns(self) -> dict[str, int]:
        """app_id -> highest committed txn_version, surviving checkpoint
        folds (Delta's setTransaction map)."""
        return self._snapshot().txns

    def checkpoint(self) -> int:
        """Commit the current snapshot — live files, schema, their footer
        stats and the txn map — as one entry, so replay starts here
        (Delta's parquet-checkpoint analog, JSON-simple) and idempotent
        appends and file skipping survive the fold."""
        snap = self._snapshot()
        return self._try_commit(
            {
                "op": "checkpoint",
                "files": snap.files,
                "schema": snap.schema,
                "txns": snap.txns,
                "stats": snap.stats,
            }
        )

    #: Default vacuum retention: 7 days, mirroring Delta's default. The
    #: guard is what makes vacuum safe to run next to live writers: a
    #: concurrent writer stages files BEFORE committing (write-then-
    #: publish), so a freshly staged file is by definition unreferenced —
    #: deleting it would corrupt the in-flight commit that is about to
    #: reference it. Age-gating on mtime excludes anything recent enough
    #: to belong to an in-flight writer (and preserves recent time travel).
    VACUUM_RETENTION_SECONDS = 7 * 24 * 3600

    def vacuum(self, retention_seconds: float | None = None) -> list[str]:
        """Delete data files no longer referenced by the LATEST version
        AND older than the retention window (mtime-based). Time travel
        to versions whose files age out dies with them — run on
        retention cadence, like Delta's VACUUM. Pass
        ``retention_seconds=0`` only when no writer can be in flight
        (tests, single-writer maintenance windows)."""
        if retention_seconds is None:
            retention_seconds = self.VACUUM_RETENTION_SECONDS
        cutoff = time.time() - retention_seconds
        live = set(self.active_files())
        removed = []
        for entry in os.listdir(self.root):
            full = os.path.join(self.root, entry)
            if entry == "_log" or not os.path.isdir(full):
                continue
            for name in os.listdir(full):
                rel = f"{entry}/{name}"
                path = os.path.join(self.root, rel)
                if (
                    name.endswith(".parquet")
                    and rel not in live
                    and os.path.getmtime(path) <= cutoff
                ):
                    os.remove(path)
                    removed.append(rel)
            # a dir holding NO parquet at all (its last data file just
            # aged out above, or a pre-fix all-rows-deleted rewrite left
            # only _SUCCESS/.crc markers) is dead weight: clear marker
            # FILES past the retention cutoff too — the age gate keeps an
            # in-flight writer's staging dir safe, same as for data files
            # — then rmdir if nothing (e.g. a _temporary subdir) remains.
            left = os.listdir(full)
            if not any(n.endswith(".parquet") for n in left):
                for name in left:
                    p = os.path.join(full, name)
                    if os.path.isfile(p) and os.path.getmtime(p) <= cutoff:
                        os.remove(p)
            if not os.listdir(full):
                os.rmdir(full)
        return removed

    # -- read path ----------------------------------------------------------

    def _read(self, spark: SparkSession, files: list[str],
              schema) -> DataFrame:
        """The one data reader. ``schema`` (DDL or StructType) is pinned:
        no footer is sampled for inference, a file that predates an
        additive column null-fills it, and an empty file set reads as an
        empty frame of that schema."""
        return spark.read.schema(schema).parquet(
            *(os.path.join(self.root, f) for f in files)
        )

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The snapshot at ``version`` (default: latest) under its
        committed schema; a table whose rows were all removed reads as
        an empty frame of that schema."""
        snap = self._snapshot(version)
        if snap.version < 0:
            raise FileNotFoundError(
                f"TxLogTable at {self.root} has no commits"
                + (f" at version {version}" if version is not None else "")
            )
        return self._read(spark, snap.files, snap.ddl)

    def changes(self, spark: SparkSession, from_version: int,
                to_version: int | None = None) -> DataFrame:
        """Row-grained change feed between two snapshots (the Delta CDF
        shape, derived instead of stored): rows in ``to_version`` but not
        ``from_version`` come back as ``_change_type='insert'``, rows
        removed as ``'delete'``. An UPDATE (merge) therefore appears as a
        delete+insert pair, exactly like Delta's pre/post-image rows.

        Only the files the interval's commits TOUCHED are read: the file
        sets are diffed first, and a rewritten file's surviving rows
        cancel out in the multiset ``exceptAll`` — a day's retention
        delete at 100 TB reads that day's files, never the table. Both
        sides are read under the schema committed at ``to_version``, so
        an additive column null-fills on the older side. Top-level map
        columns (which Spark forbids in set operations) are diffed as
        key-sorted entry arrays and restored afterwards; nested maps are
        rejected. Diffed files are checked on disk first, so an interval
        that predates ``vacuum`` retention fails here, at the cause.
        """
        if to_version is None:
            to_version = self.version()
        if from_version > to_version:
            raise ValueError(
                f"from_version {from_version} > to_version {to_version}"
            )
        old = self._snapshot(from_version)
        new = self._snapshot(to_version, base=old)
        f1, f2 = set(old.files), set(new.files)
        gone = sorted(
            f for f in (f1 ^ f2)
            if not os.path.exists(os.path.join(self.root, f))
        )
        if gone:
            raise FileNotFoundError(
                f"changes({from_version}, {to_version}) needs data files "
                f"that no longer exist (vacuumed?): {gone} — the interval "
                "predates vacuum retention; re-baseline from a full "
                "snapshot read instead"
            )
        sch = new.schema
        # a map is diffable only as a TOP-LEVEL column whose key/value
        # types are themselves map-free (sorted-entry arrays must be
        # orderable): reject maps inside structs/arrays AND maps nested
        # inside another map's key/value type (map<string,map<...>>
        # starts with "map<" but its entry array still contains a map)
        nested_maps = [
            c for c, t in sch.items()
            if ("map<" in t and not t.startswith("map<"))
            or t.count("map<") > 1
        ]
        if nested_maps:
            raise ValueError(
                "changes() cannot diff columns with maps nested inside "
                f"structs/arrays/maps (no orderable form): {nested_maps}"
            )
        map_cols = [c for c, t in sch.items() if t.startswith("map<")]

        def _rd(files: set[str]) -> DataFrame:
            # sorted-entry form for map columns
            return self._read(spark, sorted(files), new.ddl).select(
                *[
                    F.array_sort(F.map_entries(c)).alias(c)
                    if c in map_cols
                    else F.col(c)
                    for c in sch
                ]
            )

        added, removed = _rd(f2 - f1), _rd(f1 - f2)
        if "_change_type" in sch:
            raise ValueError(
                "payload column _change_type collides with the change-feed "
                "marker column"
            )
        ins = added.exceptAll(removed).withColumn(
            "_change_type", F.lit("insert")
        )
        del_ = removed.exceptAll(added).withColumn(
            "_change_type", F.lit("delete")
        )
        out = ins.unionByName(del_)
        if map_cols:
            out = out.select(
                *[
                    F.map_from_entries(F.col(c)).alias(c)
                    if c in map_cols
                    else F.col(c)
                    for c in sch
                ],
                "_change_type",
            )
        return out

    def exists(self) -> bool:
        return self.version() >= 0


class TxLogTableStorage:
    """The TableStorage seam implemented over TxLogTable — swap it into
    WeatherWarehouse for row-level delete semantics and time travel on
    the same jobs code (see sources/connectors.py for the interface)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def table(self, name: str) -> TxLogTable:
        return TxLogTable(os.path.join(self.root, name))

    def exists(self, table: str) -> bool:
        return self.table(table).exists()

    def append(self, df: DataFrame, table: str, partition_by: list[str]) -> None:
        # partitioning is logical here: the txlog prunes at file grain
        # via per-file stats instead of directory layout
        self.table(table).append(df)

    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_by: list[str]) -> None:
        t = self.table(table)
        if not t.exists():
            t.append(df)
            return
        # replace-where at row grain, ONE commit: the partitions present
        # in df are deleted and the replacement rows inserted atomically
        # (same net semantics as dynamic partition overwrite; readers
        # never observe the partitions missing, and a crash leaves the
        # old table — the guarantee merge() gives). The key-list collect
        # is bounded: distinct partition tuples in the batch.
        keys = df.select(*partition_by).distinct().collect()
        pred = " OR ".join(
            "(" + " AND ".join(
                f"{c} <=> {_sql_lit(r[c])}" for c in partition_by
            ) + ")"
            for r in keys
        )
        if pred:
            t.replace_where(self.spark, pred, df)
        else:
            t.append(df)

    def read(self, spark: SparkSession, table: str, schema=None) -> DataFrame:
        t = self.table(table)
        if schema is None or not t.exists():
            return t.read(spark)
        # a passed schema is pinned, as the parquet binding pins it
        return t._read(spark, t.active_files(), schema)

    def drop_partition(self, table: str, spec: str) -> bool:
        col, _, val = spec.partition("=")
        t = self.table(table)
        before = t.version()
        # Compare the COLUMN'S STRING FORM against the spec value (specs
        # are inherently strings, like partition directory names). A bare
        # `col <=> '<val>'` on a typed column would let a malformed value
        # coerce to NULL and have the null-safe comparator match every
        # NULL-partition row — widening the delete. CAST-to-string keeps
        # the comparison string-vs-string, and _sql_lit escapes
        # quotes/backslashes so adversarial values cannot break parsing.
        t.delete_where(
            self.spark, f"CAST({col} AS STRING) <=> {_sql_lit(val)}"
        )
        return t.version() > before
