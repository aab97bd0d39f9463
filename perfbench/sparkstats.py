"""Readers for Spark's own bookkeeping: the status store (jobs, stages,
SQL executions and their metrics) and the block manager's storage info.

All of it is read over py4j from the running session; nothing here needs
the web UI, which the benchmark turns off.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

#: SQL metric name -> key in ``WindowStats.sql``.
SQL_METRICS = {
    "scan time": "scan_time_s",
    "time to run Python workers": "python_worker_s",
    "data sent to Python workers": "python_sent_mb",
}

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float | None:
    """Seconds or MiB from one formatted SQL metric value. The status store
    renders either a plain value (``534 ms``) or a per-task summary whose
    second line starts with the total (``total (min, med, max ...)\\n2.8 s
    (...)``)."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return None
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit] / (1 << 20)
    if unit in _TIME:
        return num * _TIME[unit]
    return None


def _map_entries(text: str) -> dict[int, str]:
    """Entries of a Scala ``Map(k -> v, ...)`` rendering whose keys are
    longs. Values may hold commas, so split on ``, <digits> -> `` only."""
    body = text[text.index("(") + 1:-1] if text.startswith("Map") else text
    keys = list(re.finditer(r"(?:^|, )(\d+) -> ", body))
    out = {}
    for i, k in enumerate(keys):
        end = keys[i + 1].start() if i + 1 < len(keys) else len(body)
        out[int(k.group(1))] = body[k.end():end]
    return out


@dataclass
class Mark:
    job: int
    stage: int
    execution: int


@dataclass
class WindowStats:
    sql_executions: int
    jobs: int
    stages: int
    tasks: int
    shuffle_write_mb: float
    shuffle_read_mb: float
    spill_mb: float
    sql: dict[str, float]


class StatusReader:
    """Totals of what Spark ran between ``mark()`` and ``read()``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()

    def _flush(self) -> None:
        # status store updates ride the async listener bus
        self.sc.listenerBus().waitUntilEmpty(30_000)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _last_execution_id(self) -> int:
        store = self._sql_store()
        n = store.executionsCount()
        if n == 0:
            return -1
        return store.executionsList(int(n) - 1, 1).apply(0).executionId()

    def mark(self) -> Mark:
        self._flush()
        dag = self.sc.dagScheduler()
        return Mark(
            job=int(dag.nextJobId()),
            stage=int(dag.nextStageId()),
            execution=self._last_execution_id() + 1,
        )

    def read(self, since: Mark) -> WindowStats:
        self._flush()
        jvm = self.spark._jvm
        store = self.sc.statusStore()
        empty = jvm.java.util.ArrayList()
        jobs = store.jobsList(empty)
        n_jobs = sum(1 for i in range(jobs.size()) if jobs.apply(i).jobId() >= since.job)
        stages = store.stageList(
            empty, False, False,
            self.spark.sparkContext._gateway.new_array(jvm.double, 0), empty,
        )
        n_stages = tasks = 0
        shuffle_w = shuffle_r = spill = 0
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() < since.stage:
                continue
            n_stages += 1
            tasks += s.numTasks()
            shuffle_w += s.shuffleWriteBytes()
            shuffle_r += s.shuffleReadBytes()
            spill += s.memoryBytesSpilled()
        sql_store = self._sql_store()
        execs = sql_store.executionsList()
        sql = {k: 0.0 for k in SQL_METRICS.values()}
        n_exec = 0
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid < since.execution:
                continue
            n_exec += 1
            names = {
                int(acc): name
                for name, acc in re.findall(
                    r"SQLPlanMetric\(([^,()]+),(\d+),\w+\)", e.metrics().toString()
                )
                if name in SQL_METRICS
            }
            if not names:
                continue
            for acc, text in _map_entries(sql_store.executionMetrics(eid).toString()).items():
                if acc in names:
                    v = parse_metric(text)
                    if v is not None:
                        sql[SQL_METRICS[names[acc]]] += v
        mb = float(1 << 20)
        return WindowStats(
            sql_executions=n_exec, jobs=n_jobs, stages=n_stages, tasks=tasks,
            shuffle_write_mb=shuffle_w / mb, shuffle_read_mb=shuffle_r / mb,
            spill_mb=spill / mb, sql=sql,
        )


def storage(spark) -> dict[int, tuple[str, int]]:
    """Cached RDD id -> (name, memory + disk bytes) from the block manager."""
    out = {}
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        out[info.id()] = (info.name(), info.memSize() + info.diskSize())
    return out


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set of the Spark JVM (in local mode the whole
    engine), from ``/proc``."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")
