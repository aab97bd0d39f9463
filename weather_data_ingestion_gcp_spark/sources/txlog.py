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
- **Snapshot reads**: replaying the log yields the active file set; a
  read is ``spark.read.parquet(*active_files)`` — O(log) driver work,
  data reads unchanged. ``version=`` gives time travel for free.
- **Row-level DELETE**: rewrite ONLY the data files that contain matching
  rows (min/max-style pruning via a per-file metadata filter scan), commit
  remove(old)+add(rewritten). Files with no matches are untouched — at
  100 TB a DELETE touching one day's bad rows rewrites that day's files,
  never the table.

Scale notes: the log is O(commits) tiny JSON; periodic ``checkpoint()``
folds it into one snapshot file so replay stays O(1)-ish like Delta's
parquet checkpoints. Data paths stay absolute-relative to the table root
so the table relocates with a rename.
"""

from __future__ import annotations

import errno
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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

    def commit_info(self, version: int) -> dict:
        """The commit entry at ``version`` — lets a caller check what a
        specific commit actually did. The canonical use: a txn-keyed
        ``append`` returns a version, and ONLY this entry's own ``txn``
        field says whether that version is the caller's commit or a
        txn-skipped replay's view of someone else's — inferring from a
        version DELTA races any concurrent commit landing between the
        caller's version() read and the append."""
        return self._read_commit(version)

    def _read_commit(self, v: int) -> dict:
        with open(os.path.join(self.log_dir, f"{v:010d}.json")) as f:
            return json.load(f)

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
        """Replay the log (to ``version``) -> the live data-file set."""
        files: set[str] = set()
        for v in self._versions():
            if version is not None and v > version:
                break
            c = self._read_commit(v)
            if c.get("op") == "checkpoint":
                files = set(c["files"])
                continue
            files.difference_update(c.get("remove", []))
            files.update(c.get("add", []))
        return sorted(files)

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
        """rel path -> {col: [[kind, min], [kind, max]]} accumulated
        from commit entries (collected at commit time from footers;
        carried forward by checkpoints). Files without stats simply
        don't appear — readers must treat them as rewrite candidates."""
        out: dict[str, dict] = {}
        for c in self.history():
            out.update(c.get("stats") or {})
        return out

    def _overlapping_files(self, col: str, lo, hi) -> list[str]:
        """Active files whose [min, max] for ``col`` overlaps [lo, hi]
        — plus every file whose stats are missing or of a different
        kind (pruning must only ever SKIP provably-disjoint files)."""
        lo_e, hi_e = _stat_encode(lo), _stat_encode(hi)
        stats = self.file_stats()
        out = []
        for rel in self.active_files():
            st = (stats.get(rel) or {}).get(col)
            if (
                st is None
                or lo_e is None
                or hi_e is None
                or st[0][0] != lo_e[0]
                or st[1][0] != hi_e[0]
            ):
                out.append(rel)
                continue
            if st[0][1] > hi_e[1] or st[1][1] < lo_e[1]:
                continue  # provably disjoint
            out.append(rel)
        return out

    # -- write path ---------------------------------------------------------

    def table_schema(self, version: int | None = None) -> dict[str, str]:
        """column -> type string of the committed schema at ``version``
        (default: latest) — the union of additive evolution up to that
        commit; empty if the table has no commits."""
        cols: dict[str, str] = {}
        for c in self.history():
            if version is not None and c["version"] > version:
                break
            cols.update(c.get("schema", {}))
        return cols

    def _check_schema(self, df: DataFrame) -> dict[str, str]:
        """Reject type CHANGES to existing columns (a mixed-type column
        across data files breaks every subsequent snapshot read — the
        failure surfaces at read time, far from the write that caused
        it). New columns are fine: additive evolution, null-filled on
        mergeSchema reads."""
        new = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        cur = self.table_schema()
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
        """Write df as new parquet files under a unique staging dir and
        return their table-relative paths. Staged files are invisible
        until a commit references them (write-then-publish, like Delta).

        Small writes (<= COMPACT_SMALL_WRITES_BYTES total compressed) are
        compacted to a single file while still staged — row groups are
        STREAMED through one ParquetWriter (driver memory bounded by one
        row group, never the whole decompressed write: concat-then-write
        materialized ~5-10x the compressed trigger bound). Timestamps are
        cast to micros so the compacted file stays readable by a bare
        Spark scan (nanos parquet throws PARQUET_TYPE_ILLEGAL, the
        TESTDATA.md gotcha); the cast is SAFE — Spark stages INT96,
        which Arrow surfaces as nanos, but the values are micro-grain by
        Spark's own timestamp semantics, so a genuine sub-microsecond
        value can only mean foreign data and raises instead of silently
        truncating (the append() contract is micros-at-most)."""
        stage = f"data-{uuid.uuid4().hex[:12]}"
        out_dir = os.path.join(self.root, stage)
        df.write.mode("error").parquet(out_dir)
        names = [
            n for n in sorted(os.listdir(out_dir)) if n.endswith(".parquet")
        ]
        paths = [os.path.join(out_dir, n) for n in names]
        if (
            len(names) > 1
            and sum(os.path.getsize(p) for p in paths)
            <= self.COMPACT_SMALL_WRITES_BYTES
        ):
            compacted = "part-00000-compacted.parquet"
            _compact_parquet_files(paths, os.path.join(out_dir, compacted))
            for p in paths:
                os.remove(p)
            return [f"{stage}/{compacted}"]
        return [f"{stage}/{n}" for n in names]

    def _write_nonempty(self, df: DataFrame) -> list[str]:
        """Stage ``df`` and return only the files that actually carry
        rows (zero-row part files deleted in place, footer-checked on
        the driver — no Spark job). One write job replaces the
        limit(1).count() probe + conditional write the rewrite paths
        (DELETE/MERGE/replaceWhere survivors) used to pay: the probe was
        a whole extra job per commit, and the common case — survivors
        exist — paid both."""
        import pyarrow.parquet as pq

        kept = []
        stage_dirs: set[str] = set()
        for rel in self._write_data_files(df):
            path = os.path.join(self.root, rel)
            stage_dirs.add(os.path.dirname(path))
            if pq.read_metadata(path).num_rows > 0:
                kept.append(rel)
            else:
                os.remove(path)
        if not kept:
            # every part was empty: the staging dir now holds only
            # Spark's _SUCCESS/.crc markers, nothing will ever reference
            # it, and vacuum() only removes *.parquet — without this it
            # would orphan one marker-only dir per all-rows-deleted
            # rewrite, forever. Private to this writer (uuid dir name,
            # write already complete), so removing it races nothing.
            import shutil

            for d in stage_dirs:
                shutil.rmtree(d, ignore_errors=True)
        return kept

    def append_with_retry(self, df: DataFrame,
                          txn: tuple[str, int] | None = None,
                          max_retries: int = 20) -> int:
        """Concurrent-writer append: stage once, then race for a version
        number, retrying on CommitConflict with a fresh snapshot read.
        Appends never conflict semantically (no files removed), so the
        retry is always safe — this is the loop every multi-writer
        caller should use. DELETE/MERGE losers must instead re-read and
        re-derive their file rewrites before retrying (their remove set
        may be stale), which is why they surface CommitConflict raw."""
        if txn is not None:
            app, ver = txn
            if self.committed_txns().get(app, -1) >= ver:
                return self.version()
        schema = self._check_schema(df)
        files = self._write_data_files(df)
        entry: dict = {"op": "append", "add": files, "schema": schema}
        if txn is not None:
            entry["txn"] = [txn[0], txn[1]]
        for _ in range(max_retries):
            try:
                return self._try_commit(dict(entry))
            except CommitConflict:
                if txn is not None and (
                    self.committed_txns().get(txn[0], -1) >= txn[1]
                ):
                    return self.version()  # another worker landed our txn
                time.sleep(0.01)
        raise CommitConflict(f"append lost {max_retries} version races")

    def append(self, df: DataFrame, txn: tuple[str, int] | None = None) -> int:
        """Append; ``txn=(app_id, txn_version)`` makes it IDEMPOTENT: a
        commit carrying an (app_id, version) pair the log has already
        recorded is skipped (Delta's txnAppId/txnVersion protocol) —
        which is exactly what a foreachBatch streaming sink needs to be
        exactly-once across batch replays after a crash: pass the
        checkpointed batch_id as txn_version and a stable query name as
        app_id."""
        if txn is not None:
            app, ver = txn
            seen = self.committed_txns()
            if seen.get(app, -1) >= ver:
                # replayed batch — already in (streaming batch ids are
                # monotonically increasing per query, Delta's assumption)
                return self.version()
        schema = self._check_schema(df)
        files = self._write_data_files(df)
        entry: dict = {"op": "append", "add": files, "schema": schema}
        if txn is not None:
            entry["txn"] = [txn[0], txn[1]]
        return self._try_commit(entry)

    def overwrite(self, df: DataFrame) -> int:
        snapshot = self.active_files()
        schema = self._check_schema(df)
        files = self._write_data_files(df)
        return self._try_commit(
            {"op": "overwrite", "add": files, "remove": snapshot,
             "schema": schema}
        )

    def _touched_files(self, matched: DataFrame) -> list[str]:
        """Table-relative paths of the files containing ``matched`` rows
        — ONE distributed job via input_file_name(), never a per-file
        driver loop. The collect is bounded by the snapshot's file count."""
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
        snapshot = self.active_files()
        if not snapshot:
            return self.version()
        scan = self.read(spark)
        touched = self._touched_files(scan.filter(predicate))
        if not touched:
            return self.version()  # no-op delete: nothing to commit
        survivors = (
            spark.read.parquet(
                *(os.path.join(self.root, f) for f in touched)
            )
            # SQL DELETE semantics: remove only rows where the predicate
            # is TRUE. NOT(NULL) is NULL (filtered out), so a bare
            # NOT(pred) would silently delete NULL-evaluating rows that
            # share a file with true matches.
            .filter(~F.coalesce(F.expr(predicate), F.lit(False)))
        )
        kept_new = self._write_nonempty(survivors)
        return self._try_commit(
            {
                "op": "delete",
                "predicate": predicate,
                "add": kept_new,
                "remove": touched,
            }
        )

    def merge(self, spark: SparkSession, source: DataFrame,
              on: list[str]) -> int:
        """Row-level MERGE, source-as-truth semantics (WHEN MATCHED
        UPDATE SET * / WHEN NOT MATCHED INSERT *): target rows whose
        ``on`` keys appear in the source are replaced, everything else
        in the source is inserted. Only the files containing matched
        rows are rewritten (same input_file_name detection as DELETE);
        the whole operation is one commit, so readers see the old or the
        new table, never a half-merge."""
        if not self.exists() or not self.active_files():
            # no table, or a table whose rows were all deleted (the log
            # exists but the active file set is empty — found by the
            # model-based property test): nothing can match, pure insert
            return self.append(source)
        schema = self._check_schema(source)
        target = self.read(spark)
        keys = source.select(*on).distinct()
        matched = target.join(F.broadcast(keys), on, "left_semi")
        touched = self._touched_files(matched)
        write_df = source
        if touched:
            # survivors and the source land in ONE staged write: one
            # Spark job (one plan analysis + one codegen pass) instead
            # of two, same committed content
            survivors = spark.read.parquet(
                *(os.path.join(self.root, f) for f in touched)
            ).join(F.broadcast(keys), on, "left_anti")
            write_df = survivors.unionByName(
                source, allowMissingColumns=True
            )
        add = self._write_nonempty(write_df)
        return self._try_commit(
            {"op": "merge", "on": on, "add": add, "remove": touched,
             "schema": schema}
        )

    def replace_where(self, spark: SparkSession, predicate: str,
                      df: DataFrame) -> int:
        """Atomic delete-matching-rows + insert-df as ONE commit
        (Delta's ``replaceWhere``). A reader always sees the old or the
        new table — never a window where the replaced rows are missing —
        and a crash mid-operation leaves the old table intact, because
        staged files are invisible until the single commit publishes
        them. Same file-grained rewrite as delete_where: only files
        containing matching rows are rewritten."""
        schema = self._check_schema(df)
        touched: list[str] = []
        write_df = df
        if self.active_files():
            scan = self.read(spark)
            touched = self._touched_files(scan.filter(predicate))
            if touched:
                survivors = (
                    spark.read.parquet(
                        *(os.path.join(self.root, f) for f in touched)
                    )
                    # keep rows where the predicate is not TRUE (SQL
                    # DELETE semantics; see delete_where)
                    .filter(~F.coalesce(F.expr(predicate), F.lit(False)))
                )
                # one staged write for survivors + replacement rows:
                # one job instead of two, same committed content
                write_df = survivors.unionByName(
                    df, allowMissingColumns=True
                )
        add = self._write_nonempty(write_df)
        return self._try_commit(
            {
                "op": "replace_where",
                "predicate": predicate,
                "add": add,
                "remove": touched,
                "schema": schema,
            }
        )

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
        schema = self._check_schema(df)
        candidates = (
            self._overlapping_files(col, lo, hi)
            if self.active_files()
            else []
        )
        write_df = df
        if candidates:
            survivors = (
                spark.read.parquet(
                    *(os.path.join(self.root, f) for f in candidates)
                )
                .filter(~F.coalesce(F.expr(predicate), F.lit(False)))
            )
            write_df = survivors.unionByName(df, allowMissingColumns=True)
        add = self._write_nonempty(write_df)
        return self._try_commit(
            {
                "op": "replace_where",
                "predicate": predicate,
                "add": add,
                "remove": candidates,
                "schema": schema,
            }
        )

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """Bin-pack the snapshot into ``target_files`` files — the
        small-file compaction every log-structured table needs (each
        streaming batch appends its own files; a day of minutely batches
        is 1440 footer reads per scan until compacted). One atomic
        commit swaps the whole set; readers never see a half-compacted
        table, and time travel to pre-compaction versions still works
        until vacuum()."""
        snapshot = self.active_files()
        if len(snapshot) <= target_files:
            return self.version()
        df = self.read(spark).coalesce(target_files)
        files = self._write_data_files(df)
        return self._try_commit(
            {"op": "compact", "add": files, "remove": snapshot}
        )

    def committed_txns(self) -> dict[str, int]:
        """app_id -> highest committed txn_version, surviving checkpoint
        folds (Delta's setTransaction map)."""
        txns: dict[str, int] = {}
        for c in self.history():
            if c.get("op") == "checkpoint":
                txns.update(c.get("txns", {}))
            t = c.get("txn")
            if t:
                txns[t[0]] = max(txns.get(t[0], -1), t[1])
        return txns

    def checkpoint(self) -> int:
        """Fold the log into one snapshot entry so replay is O(1) from
        here (Delta's parquet-checkpoint analog, JSON-simple). Carries
        the txn map and the live files' footer stats forward so
        idempotent appends and file skipping survive the fold."""
        files = self.active_files()
        known = self.file_stats()
        return self._try_commit(
            {
                "op": "checkpoint",
                "files": files,
                "txns": self.committed_txns(),
                "stats": {r: known[r] for r in files if r in known},
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

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        files = self.active_files(version=version)
        if not files:
            raise FileNotFoundError(
                f"TxLogTable at {self.root} has no data"
                + (f" at version {version}" if version is not None else "")
            )
        return spark.read.parquet(*(os.path.join(self.root, f) for f in files))

    def changes(self, spark: SparkSession, from_version: int,
                to_version: int | None = None) -> DataFrame:
        """Row-grained change feed between two snapshots (the Delta CDF
        shape, derived instead of stored): rows in ``to_version`` but not
        ``from_version`` come back as ``_change_type='insert'``, rows
        removed as ``'delete'``. An UPDATE (merge) therefore appears as a
        delete+insert pair, exactly like Delta's pre/post-image rows.

        Scale property: only the files the interval's commits TOUCHED are
        read — the file sets are diffed first, and a rewritten file's
        surviving rows cancel out in the multiset ``exceptAll`` (they
        appear in both the added and removed reads). A day's retention
        delete at 100 TB reads that day's files, never the table. Cost is
        a shuffle of the touched rows only (exceptAll hashes full rows);
        no change-log storage, no write-path overhead.

        Schema evolution: both sides are read with mergeSchema and
        projected to the UNION schema committed at ``to_version``
        (missing columns null-filled), so an additive-evolution interval
        cannot drop a new column (a bare parquet read infers from an
        arbitrary footer) or crash ``exceptAll`` on mismatched column
        counts. Top-level map-typed payload columns (which Spark forbids
        in set operations) are diffed as key-sorted entry arrays and
        restored afterwards — map semantics, not entry-order semantics;
        maps NESTED inside structs/arrays are rejected with a clear
        error. Diffed file paths are pre-checked on disk so an interval
        that predates ``vacuum`` retention fails here, at the cause, not
        at action time deep inside a Spark job.
        """
        if to_version is None:
            to_version = self.version()
        if from_version > to_version:
            raise ValueError(
                f"from_version {from_version} > to_version {to_version}"
            )
        f1 = set(self.active_files(version=from_version))
        f2 = set(self.active_files(version=to_version))
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
        sch = self.table_schema(version=to_version)
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
            if files:
                df = spark.read.option("mergeSchema", "true").parquet(
                    *(os.path.join(self.root, f) for f in sorted(files))
                )
            else:
                # typed empty frame (either endpoint may be an empty
                # snapshot)
                df = spark.createDataFrame(
                    [], ", ".join(f"`{k}` {v}" for k, v in sch.items())
                )
            # project to the union schema at to_version: null-fill columns
            # the side's files predate; sorted-entry form for map columns
            have = set(df.columns)
            cols = []
            for c, t in sch.items():
                col = F.col(c) if c in have else F.lit(None).cast(t)
                if t.startswith("map<"):
                    col = F.array_sort(F.map_entries(col))
                cols.append(col.alias(c))
            return df.select(cols)

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


def foreach_batch_appender(table: TxLogTable, app_id: str):
    """An exactly-once foreachBatch sink: Structured Streaming replays
    the last uncommitted batch after a crash, and the (app_id, batch_id)
    txn key makes the replayed append a no-op — the Delta streaming-sink
    recipe on the txlog table."""

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        table.append(batch_df, txn=(app_id, int(batch_id)))

    return _append


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
        if t.exists() and not t.active_files():
            # all rows deleted (e.g. full retention cleanup): behave like
            # the parquet binding — an empty, schema-typed DataFrame, not
            # a FileNotFoundError. The committed schema survives in the
            # log even when no data files do.
            if schema is not None:
                return spark.createDataFrame([], schema)
            cols = t.table_schema()
            if cols:
                ddl = ", ".join(f"`{c}` {typ}" for c, typ in cols.items())
                return spark.createDataFrame([], ddl)
        return t.read(spark)

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
