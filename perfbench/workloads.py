"""The benchmark workloads.

Each workload runs a closed loop from one process: the next operation
starts only after the previous one has finished and been checked, and the
loop runs whole passes (or episodes) until ``--seconds`` have passed.
The first pass starts right after set-up, with the JIT still cold, as
each run of an hourly batch job does. The engine is driven only through
its public functions; every call into a layer is wrapped in a span named
after that layer (see ``spans.py``).

- ``corpus_ops``: the shared-relation (session memo) query families and
  Arrow-UDF entries in registry order, every pass from cold shared state.
- ``ingest_backfill``: land -> stream -> raw append -> day refresh ->
  retention -> read back, the reference pipeline end to end.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb

import gen
import sparkstats
from spans import Tracer, median

#: Shared-relation families (each anchor builds a session-memoized relation
#: its follower reads) plus Arrow-UDF and eager-construction entries.
#: Run in registry order; the traced run reports each one's build and
#: execute times.
CORPUS_QUERIES = [
    "dedup_minhash_lsh",  # std-pairs memo anchor
    "dedup_clusters",  # std-pairs follower
    "similarity_ann_rp_lsh",  # emb_bands_shared anchor
    "dedup_semantic_prune",  # emb_bands_shared follower (Arrow UDF)
    "decontaminate_ngram_exact",
    "embedding_quantize_int8",  # Arrow UDF
]
#: First users of a session memo: in a cold pass each of them builds.
CORPUS_ANCHORS = ["dedup_minhash_lsh", "similarity_ann_rp_lsh"]


@dataclass
class Env:
    """What a workload run gets: the engine modules, where it may write,
    and the live session."""

    engine: object  # namespace of imported engine modules (run.py)
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    spark: object = None


@dataclass
class Outcome:
    ops: int = 0
    failed: int = 0
    elapsed: float = 0.0
    window: tuple[float, float] = (0.0, 0.0)
    query_s: list[float] = field(default_factory=list)
    batch_s: list[float] = field(default_factory=list)
    peak_storage_mb: float = 0.0
    per_layer: dict[str, float] = field(default_factory=dict)
    record: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


# ---------------------------------------------------------------------------
# result checks
# ---------------------------------------------------------------------------


def _plain(v):
    """Arrow python values -> the shapes DuckDB's fetchall returns."""
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        # the session time zone is pinned to UTC
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, list):
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return {k: _plain(x) for k, x in v}  # arrow map
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    return v


def arrow_rowset(parity, table) -> tuple[list[str], list[tuple]]:
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    rows = [tuple(_plain(v) for v in r) for r in zip(*data)] if cols else []
    return parity.rowset(cols, rows)


def oracle_rowsets(parity, oracle_sql: dict[str, str], data_dir: str, names: list[str]):
    """Each query's DuckDB oracle result as a normalized row set, computed
    once per run outside any timing."""
    con = duckdb.connect()
    try:
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for n in names:
            rel = con.execute(oracle_sql[n])
            cols = [d[0] for d in rel.description]
            out[n] = parity.rowset(cols, rel.fetchall())
        return out
    finally:
        con.close()


# ---------------------------------------------------------------------------
# corpus_ops
# ---------------------------------------------------------------------------


class CorpusOps:
    name = "corpus_ops"

    def prepare(self, env: Env) -> dict:
        registry = env.engine.plans.QUERIES
        missing = [n for n in CORPUS_QUERIES if n not in registry]
        if missing:
            raise KeyError(f"{self.name}: queries not registered: {missing}")
        self.queries = [n for n in registry if n in set(CORPUS_QUERIES)]
        self.data_dir = os.path.join(env.work, "data")
        digest = gen.write_tables(env.seed, self.data_dir)
        self.expected = oracle_rowsets(
            env.engine.parity, env.engine.plans.ORACLE, self.data_dir, self.queries
        )
        return {"input_digest": digest, "rows": dict(gen.ROWS), "queries": self.queries}

    def _reset(self, env: Env):
        """A cold start through public calls only: drop every shared
        relation and memo, then work in a fresh session."""
        e = env.engine
        e.dedup.release_shingle_caches()
        env.spark.catalog.clearCache()
        return e.session.apply_runtime_confs(env.spark.newSession())

    def _one(self, env: Env, spark, name: str, out: Outcome, timing: dict) -> None:
        fn = env.engine.plans.QUERIES[name]
        tr = env.tracer
        t0 = time.perf_counter()
        try:
            with tr.span("plans.build"):
                df = fn(spark, self.data_dir)
            t1 = time.perf_counter()
            with tr.span("exec.collect"):
                table = df.toArrow()
            t2 = time.perf_counter()
        except Exception as exc:  # a failing query is a counted failure
            out.fail(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return
        out.query_s.append(t2 - t0)
        timing.setdefault(name, []).append((t1 - t0, t2 - t1))
        got, want = arrow_rowset(env.engine.parity, table), self.expected[name]
        if got != want:
            diff = [(a, b) for a, b in zip(got[1], want[1]) if a != b][:2]
            out.fail(
                f"{name}: result differs from its oracle: columns {got[0]} vs"
                f" {want[0]}, {len(got[1])} vs {len(want[1])} rows, first diffs {diff}"
            )

    def _run_list(self, env, spark, names, out: Outcome, timing) -> dict:
        """Run ``names`` in order; returns query -> sizes of the cached
        relations it created (RDDs new in the block manager after it ran)."""
        seen = sparkstats.storage(env.spark)
        built: dict[str, list[int]] = {}
        for name in names:
            self._one(env, spark, name, out, timing)
            out.ops += 1
            now = sparkstats.storage(env.spark)
            new = [i for i in now if i not in seen]
            if new:
                built[name] = [now[i][1] for i in new]
            out.peak_storage_mb = max(
                out.peak_storage_mb, sum(b for _, b in now.values()) / 1e6
            )
            seen = now
        return built

    def run(self, env: Env) -> Outcome:
        out = Outcome()
        timing: dict[str, list[tuple[float, float]]] = {}
        passes: list[dict] = []
        reader = sparkstats.StatusReader(env.spark) if env.tracer.enabled else None
        mark = reader.mark() if reader else None
        start = time.perf_counter()
        while True:
            passes.append(self._run_list(env, self._reset(env), self.queries, out, timing))
            if time.perf_counter() - start >= env.seconds:
                break
        out.window = (start, time.perf_counter())
        out.elapsed = out.window[1] - start
        self._check_cold(passes, out)
        out.record["passes"] = len(passes)
        out.record["query_s_by_name"] = {q: [b + e for b, e in t] for q, t in timing.items()}
        out.record["relations_built_by"] = [
            {q: len(b) for q, b in p.items()} for p in passes
        ]
        if reader:
            self._per_layer(out, reader.read(mark), timing, passes)
        return out

    def _check_cold(self, passes: list[dict], out: Outcome) -> None:
        """A relation that survived the reset shows as a missing build. So
        in every pass each memo anchor must build something, and every
        query must build what it built in the first pass, which started in
        the session just set up."""
        shape = lambda built: {q: len(b) for q, b in built.items()}  # noqa: E731
        fresh = shape(passes[0])
        for k, p in enumerate(passes):
            got = shape(p)
            if any(got.get(q, 0) == 0 for q in CORPUS_ANCHORS) or got != fresh:
                out.fail(f"pass {k} was not cold: built {got}, a fresh session built {fresh}")

    def _per_layer(self, out: Outcome, stats, timing, passes) -> None:
        pl = out.per_layer
        pl.update(spark_layer(stats, max(out.ops, 1)))
        first = passes[0]
        pl["store.relations_built"] = float(sum(len(b) for b in first.values()))
        pl["store.built_mb"] = sum(sum(b) for b in first.values()) / 1e6
        pl["store.builders"] = float(len(first))
        for q in CORPUS_QUERIES:
            t = timing.get(q, [(0.0, 0.0)])  # a query that always failed
            pl[f"q.{q}.build_s"] = median([b for b, _ in t])
            pl[f"q.{q}.exec_s"] = median([e for _, e in t])


def spark_layer(stats: sparkstats.WindowStats, ops: int) -> dict[str, float]:
    """Status-store totals of the measured window, per operation."""
    out = {
        "spark.sql_executions": stats.sql_executions / ops,
        "spark.jobs": stats.jobs / ops,
        "spark.stages": stats.stages / ops,
        "spark.tasks": stats.tasks / ops,
        "spark.shuffle_write_mb": stats.shuffle_write_mb / ops,
        "spark.shuffle_read_mb": stats.shuffle_read_mb / ops,
        "spark.spill_mb": stats.spill_mb / ops,
    }
    for k, v in stats.sql.items():
        out[f"spark.{k}"] = v / ops
    return out


# ---------------------------------------------------------------------------
# ingest pipeline
# ---------------------------------------------------------------------------

#: Files per micro-batch while the landing stream drains its backlog.
MAX_FILES_PER_TRIGGER = 3
#: Times each landed day is read back after an episode.
READ_ROUNDS = 1
RETENTION_DAYS = 15
_KELVIN = 273.15


def _round_half_up(x: float, nd: int) -> tuple[float, ...]:
    """Accepted values of ROUND(x, nd): the half-up rounding of x, plus its
    neighbour when x lies within float noise of a rounding boundary (the
    engine's sum order is not this recompute's)."""
    q = decimal.Decimal(1).scaleb(-nd)
    d = decimal.Decimal(repr(x))
    r = float(d.quantize(q, rounding=decimal.ROUND_HALF_UP))
    frac = abs((d / q) % 1)
    if abs(frac - decimal.Decimal("0.5")) < decimal.Decimal("1e-6"):
        return (r, float(d.quantize(q, rounding=decimal.ROUND_HALF_DOWN)))
    return (r,)


def expected_daily(plan: gen.WeatherPlan) -> dict[dt.date, dict]:
    """Independent recompute of the daily rollup from the generated
    payloads (valid observations only), column -> accepted values."""
    by_day: dict[dt.date, list[tuple[str, dict]]] = {}
    for f in plan.files:
        for p in f.payloads:
            by_day.setdefault(f.day, []).append((f.time, p))
    out = {}
    for day, obs in by_day.items():
        m = [p["main"] for _, p in obs]
        clouds = [p["clouds"]["all"] for _, p in obs]
        rain1 = [p["rain"]["1h"] for _, p in obs if p["rain"] and p["rain"]["1h"] is not None]
        rain3 = [p["rain"]["3h"] for _, p in obs if p["rain"] and p["rain"]["3h"] is not None]
        n = len(obs)
        max_time = max(t for t, _ in obs)
        out[day] = {
            "avg_temp": _round_half_up(math.fsum(x["temp"] - _KELVIN for x in m) / n, 2),
            "max_temp": _round_half_up(max(x["temp_max"] for x in m) - _KELVIN, 2),
            "min_temp": _round_half_up(min(x["temp_min"] for x in m) - _KELVIN, 2),
            "feels_like": _round_half_up(math.fsum(x["feels_like"] - _KELVIN for x in m) / n, 2),
            "avg_pressure": _round_half_up(sum(x["pressure"] for x in m) / n, 0),
            "max_pressure": (float(max(x["pressure"] for x in m)),),
            "min_pressure": (float(min(x["pressure"] for x in m)),),
            "avg_humidity": _round_half_up(sum(x["humidity"] for x in m) / n, 0),
            "max_humidity": (float(max(x["humidity"] for x in m)),),
            "min_humidity": (float(min(x["humidity"] for x in m)),),
            "avg_cloud_coverage": _round_half_up(sum(clouds) / n, 0),
            "max_cloud_coverage": (float(max(clouds)),),
            "min_cloud_coverage": (float(min(clouds)),),
            "max_rain_1h": (max(rain1) if rain1 else None,),
            "max_rain_3h": (max(rain3) if rain3 else None,),
            "month": (day.month,),
            "till_time": ("EOD" if max_time > "23:00:00" else max_time,),
        }
    return out


def _daily_row_ok(row: dict, want: dict) -> bool:
    for col, accepted in want.items():
        got = row.get(col)
        if not any(
            (got is None and a is None)
            or (got is not None and a is not None and
                (got == a if isinstance(a, str) else abs(float(got) - float(a)) < 1e-9))
            for a in accepted
        ):
            return False
    return True


def _batches(plan: gen.WeatherPlan, k: int) -> list[list[gen.LandedFile]]:
    return [plan.files[i:i + k] for i in range(0, len(plan.files), k)]


def timed_warehouse(base, tracer: Tracer, counts: dict):
    """A ``WeatherWarehouse`` subclass whose job entry points run inside
    ``jobs.*`` spans. It samples the block manager while each micro-batch
    is cached, and in traced runs counts what each job touched."""

    class Timed(base):
        def load_and_transform(self, batch):
            with tracer.span("jobs.load_and_transform"):
                return super().load_and_transform(batch)

        def append_hourly(self, batch):
            used = sum(b for _, b in sparkstats.storage(self.spark).values())
            counts["peak_storage_mb"] = max(counts["peak_storage_mb"], used / 1e6)
            with tracer.span("jobs.append_hourly"):
                if tracer.enabled:
                    counts["rows_appended"] += batch.count()
                return super().append_hourly(batch)

        def refresh_daily(self, dates=None):
            with tracer.span("jobs.refresh_daily"):
                counts["days_refreshed"] += len(dates) if dates is not None else 0
                return super().refresh_daily(dates)

        def log(self, **fields):
            with tracer.span("jobs.log"):
                return super().log(**fields)

        def cleanup_hourly(self, retention_days=15, today=None):
            with tracer.span("jobs.cleanup_hourly"):
                dropped = super().cleanup_hourly(retention_days, today)
                counts["partitions_dropped"] += len(dropped)
                return dropped

    return Timed


def _count_files(root: str, suffix: str) -> int:
    return sum(
        1 for _, _, fs in os.walk(root) for f in fs if f.endswith(suffix)
    )


class IngestBackfill:
    name = "ingest_backfill"

    def prepare(self, env: Env) -> dict:
        self.plan = gen.weather_plan(env.seed)
        self.expected = expected_daily(self.plan)
        self.batches = _batches(self.plan, MAX_FILES_PER_TRIGGER)
        return {
            "input_digest": self.plan.digest(),
            "files": len(self.plan.files),
            "days": self.plan.days,
            "late_files": self.plan.late_files,
            "corrupt_lines": self.plan.corrupt_lines,
            "max_files_per_trigger": MAX_FILES_PER_TRIGGER,
        }

    def _land(self, env: Env, plan: gen.WeatherPlan, landing: str, counts: dict) -> None:
        e, tr = env.engine, env.tracer
        from pyspark.sql import functions as F

        base = time.time() - 10 * len(plan.files)
        for i, f in enumerate(plan.files):
            raw = env.spark.createDataFrame(f.payloads, e.schemas.RAW_API_SCHEMA)
            with tr.span("landing.clean"):
                cleaned = e.clean.clean_weather(
                    raw,
                    ingest_date=F.lit(f.day.isoformat()).cast("date"),
                    ingest_time=F.lit(f.time),
                )
            with tr.span("landing.write"):
                path = e.landing.write_landing_file(
                    env.spark, cleaned, landing,
                    stamp=f"{f.day:%Y%m%d}-{f.time}",
                )
            if f.corrupt_lines:
                with open(path, "a") as fh:
                    fh.write('{"coord": {"lon": 87.0, "lat": \n' * f.corrupt_lines)
            # landing order is the plan's order: the file source reads
            # files oldest-modified first
            os.utime(path, (base + 10 * i, base + 10 * i))
            counts["files"] += 1
            counts["bytes"] += os.path.getsize(path)

    def _pipeline(self, env, plan, root, counts):
        """Land ``plan``'s files, drain them through the landing stream into
        a fresh warehouse, then run retention. Returns the warehouse and
        the progress of the micro-batches that carried rows."""
        e, tr = env.engine, env.tracer
        for k in ("files", "bytes", "rows_appended", "days_refreshed",
                  "partitions_dropped", "hourly_files", "log_files", "peak_storage_mb"):
            counts.setdefault(k, 0)
        landing = os.path.join(root, "landing")
        os.makedirs(landing, exist_ok=True)
        self._land(env, plan, landing, counts)
        wh_cls = timed_warehouse(e.jobs.WeatherWarehouse, tr, counts)
        wh = wh_cls(env.spark, os.path.join(root, "warehouse"))
        with tr.span("stream.drain") as sid, tr.adopt(sid):
            q = e.pipeline.start_landing_stream(
                env.spark, landing, wh, os.path.join(root, "checkpoint"),
                available_now=True, max_files_per_trigger=MAX_FILES_PER_TRIGGER,
            )
            try:
                q.awaitTermination(150)
            finally:
                if q.isActive:
                    q.stop()
            if q.exception() is not None:
                raise RuntimeError(f"landing stream failed: {q.exception()}")
        wh.cleanup_hourly(RETENTION_DAYS, plan.today)
        return wh, [p for p in q.recentProgress if p.numInputRows > 0]

    def _episode(self, env, plan, root, out: Outcome, counts) -> None:
        from pyspark.sql import functions as F

        wh, progress = self._pipeline(env, plan, root, counts)
        out.batch_s += [p.batchDuration / 1000.0 for p in progress]
        counts.setdefault("progress", []).extend(progress)
        # the workload's queries: read every landed day back, READ_ROUNDS times
        for _ in range(READ_ROUNDS):
            for day in sorted(self.expected):
                t0 = time.perf_counter()
                with env.tracer.span("jobs.read_daily"):
                    rows = wh.read_daily().filter(F.col("dt") == F.lit(day)).toArrow().to_pylist()
                out.query_s.append(time.perf_counter() - t0)
                if len(rows) != 1 or not _daily_row_ok(rows[0], self.expected[day]):
                    out.fail(f"daily row for {day} differs from the recompute")
        self._check_tables(wh, plan, progress, out)
        if env.tracer.enabled:
            counts["hourly_files"] += _count_files(wh.hourly_path, ".parquet")
            counts["log_files"] += _count_files(wh.logs_path, ".json")

    def _check_tables(self, wh, plan, progress, out: Outcome) -> None:
        cutoff = plan.today - dt.timedelta(days=RETENTION_DAYS)
        raw_days = {r.dt for r in wh.read_hourly().select("dt").distinct().collect()}
        want_days = {d for d in self.expected if d > cutoff}
        if raw_days != want_days:
            out.fail(f"raw days {sorted(raw_days)} != retained {sorted(want_days)}")
        want_batches = len(self.batches)
        if len(progress) != want_batches:
            out.fail(f"{len(progress)} micro-batches, planned {want_batches}")
        logs = wh.read_logs().groupBy("message_type").count().collect()
        by_type = {r["message_type"]: r["count"] for r in logs}
        corrupt_batches = sum(1 for b in self.batches if any(f.corrupt_lines for f in b))
        if by_type.get("success", 0) != want_batches:
            out.fail(f"{by_type.get('success', 0)} success log rows for {want_batches} batches")
        if by_type.get("error", 0) != corrupt_batches:
            out.fail(f"{by_type.get('error', 0)} error log rows, {corrupt_batches} batches had corrupt lines")
        quarantined = sum(
            int(r["message"].split()[1])
            for r in wh.read_logs().filter("message_type = 'error'").select("message").collect()
            if r["message"].startswith("quarantined ")
        )
        if quarantined != plan.corrupt_lines:
            out.fail(f"quarantined {quarantined} rows, injected {plan.corrupt_lines}")
        out.record.setdefault("rows_quarantined", []).append(quarantined)

    def run(self, env: Env) -> Outcome:
        out = Outcome()
        counts: dict = {}
        episodes = 0
        reader = sparkstats.StatusReader(env.spark) if env.tracer.enabled else None
        mark = reader.mark() if reader else None
        start = time.perf_counter()
        while True:
            root = os.path.join(env.work, f"episode-{episodes}")
            self._episode(env, self.plan, root, out, counts)
            out.ops += len(self.plan.files)
            episodes += 1
            shutil.rmtree(root, ignore_errors=True)
            if time.perf_counter() - start >= env.seconds:
                break
        out.window = (start, time.perf_counter())
        out.elapsed = out.window[1] - start
        out.record["episodes"] = episodes
        out.peak_storage_mb = counts["peak_storage_mb"]
        if reader:
            self._per_layer(out, reader.read(mark), counts, episodes)
        return out

    def _per_layer(self, out, stats, counts, episodes) -> None:
        pl = out.per_layer
        n = max(out.ops, 1)
        pl.update(spark_layer(stats, n))
        progress = counts.get("progress", [])
        dur = lambda key: sum(p.durationMs.get(key, 0) for p in progress) / 1000.0 / n  # noqa: E731
        pl["stream.latest_offset_s"] = dur("latestOffset")
        pl["stream.query_planning_s"] = dur("queryPlanning")
        pl["stream.add_batch_s"] = dur("addBatch")
        pl["stream.wal_commit_s"] = dur("walCommit")
        pl["stream.commit_offsets_s"] = dur("commitOffsets")
        pl["stream.batches"] = len(progress) / episodes
        pl["landing.files"] = counts["files"] / episodes
        pl["landing.bytes"] = counts["bytes"] / episodes
        pl["jobs.rows_appended"] = counts["rows_appended"] / episodes
        pl["jobs.rows_quarantined"] = float(sum(out.record.get("rows_quarantined", [])) / episodes)
        pl["jobs.days_refreshed"] = counts["days_refreshed"] / episodes
        pl["jobs.partitions_dropped"] = counts["partitions_dropped"] / episodes
        pl["jobs.hourly_files"] = counts["hourly_files"] / episodes
        pl["jobs.log_files"] = counts["log_files"] / episodes


WORKLOADS = {
    "corpus_ops": CorpusOps,
    "ingest_backfill": IngestBackfill,
}
