"""Spans around the engine's public layers, and Spark's own statistics.

Tracing wraps functions at the name their caller resolves (a module
attribute or a class attribute), so the engine itself is unchanged.
Spans are kept in memory: name, start, end, parent and op id.  Each
span tags the Spark jobs it starts (``SparkContext.addJobTag``) and
each op runs under its own job group, so stage metrics read back from
the Spark driver's status REST API (``uiWebUrl`` + ``/api/v1``) attribute to
ops and spans.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

#: (module[:class], attribute, span name).  Every public layer the
#: workloads reach: the dialect shim, the engine's SQL entry point,
#: source attach, lake snapshot reads (Delta log replay, Iceberg
#: manifest decode), the native lake writers, the curation operators
#: and Arrow delivery to Python.
TARGETS: list[tuple[str, str, str]] = [
    ("pg_analytics_spark.engine", "rewrite_pg", "dialect.rewrite"),
    ("pg_analytics_spark.engine:Engine", "sql", "engine.sql"),
    ("pg_analytics_spark.engine:Engine", "attach", "sources.attach"),
    ("pg_analytics_spark.sources.delta", "_replay_log", "sources.delta.snapshot"),
    ("pg_analytics_spark.sources.iceberg", "plan_snapshot", "sources.iceberg.snapshot"),
    ("pg_analytics_spark.sources.iceberg_write", "_scan_snapshot_files",
     "sources.iceberg.snapshot"),
    ("pg_analytics_spark.sources.delta_write", "write_delta", "delta_write.insert"),
    ("pg_analytics_spark.sources.delta_write", "update_delta", "delta_write.update"),
    ("pg_analytics_spark.sources.delta_write", "delete_delta", "delta_write.delete"),
    ("pg_analytics_spark.sources.delta_write", "merge_delta", "delta_write.merge"),
    ("pg_analytics_spark.sources.iceberg_write", "write_iceberg", "iceberg_write.insert"),
    ("pg_analytics_spark.sources.iceberg_write", "update_iceberg", "iceberg_write.update"),
    ("pg_analytics_spark.sources.iceberg_write", "delete_iceberg", "iceberg_write.delete"),
    ("pg_analytics_spark.sources.iceberg_write", "merge_iceberg", "iceberg_write.merge"),
    ("pg_analytics_spark.operators.dedup", "exact_dedup", "operators.exact_dedup"),
    ("pg_analytics_spark.operators.dedup", "minhash_lsh_pairs", "operators.minhash_lsh_pairs"),
    ("pg_analytics_spark.operators.dedup", "simhash_pairs", "operators.simhash_pairs"),
    ("pg_analytics_spark.operators.dedup", "edit_distance_pairs",
     "operators.edit_distance_pairs"),
    ("pg_analytics_spark.operators.dedup", "neardup_clusters", "operators.neardup_clusters"),
    ("pg_analytics_spark.operators.similarity", "ivf_ann_topk", "operators.ivf_ann_topk"),
    ("pg_analytics_spark.operators.similarity", "brute_force_topk",
     "operators.brute_force_topk"),
    ("pyspark.sql.classic.dataframe:DataFrame", "toArrow", "result.to_arrow"),
]

OPERATORS = sorted({s.split(".")[1] for _, _, s in TARGETS if s.startswith("operators.")})


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    wall_start: float
    end: float = 0.0
    children_s: float = 0.0
    df: object = None

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


@dataclass
class Tracer:
    """In-memory span recorder.  ``op`` is the id of the op in flight."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    op: int | None = None
    #: time spent recording, outside the wrapped calls (and, added by
    #: the caller, reading each op's phases and lake files)
    overhead_s: float = 0.0
    _undo: list = field(default_factory=list)

    def enter(self, name: str) -> Span:
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self.op, 0.0, 0.0)
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.addJobTag(f"pb-span-{sp.id}")
        sp.start, sp.wall_start = time.perf_counter(), time.time()
        self.overhead_s += sp.start - t0
        return sp

    def exit(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self.sc.removeJobTag(f"pb-span-{sp.id}")
        self.stack.pop()
        if self.stack:
            self.stack[-1].children_s += sp.dur
        self.overhead_s += time.perf_counter() - sp.end

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer.enter(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.exit(sp)
            if name == "result.to_arrow":
                sp.df = args[0]  # the op reports this DataFrame's Catalyst phases
            return out

        return traced

    def install(self) -> None:
        for target, attr, name in TARGETS:
            mod_name, _, cls = target.partition(":")
            owner = importlib.import_module(mod_name)
            if cls:
                owner = getattr(owner, cls)
            orig = getattr(owner, attr)
            setattr(owner, attr, self.wrap(orig, name))
            self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of a DataFrame's query execution."""
    out: dict[str, float] = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


# ---------------------------------------------------------------- REST --


class SparkRest:
    """Reads jobs, stages and SQL executions from the Spark driver's REST API."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settled(self, group_prefix: str, with_sql: bool = False, timeout_s: float = 30.0):
        """Jobs whose group starts with the prefix, stages by id, SQL
        executions (when asked for) and the number of stages lost to UI
        retention, once the listener bus has caught up: every job
        finished and every stage it completed has its metrics."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self.get("/jobs")
                    if (j.get("jobGroup") or "").startswith(group_prefix)]
            stages = {s["stageId"]: s for s in self.get("/stages")
                      if s["status"] in ("COMPLETE", "FAILED")}
            lost = sum(
                max(0, j["numCompletedStages"]
                    - sum(1 for sid in j["stageIds"] if sid in stages))
                for j in jobs
            )
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            if done and lost == 0 or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        execs = (self.get("/sql?details=true&planDescription=false&length=100000")
                 if with_sql else [])
        return jobs, stages, execs, lost


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """Bytes in a SQL size metric ("12.3 KiB" or "total (min, ...)\\n12.3 KiB (...)")."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _SIZE.search(body)
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m else 0.0


def epoch_ms(spark_time: str) -> float:
    """Epoch ms of a REST timestamp such as ``2026-10-16T23:20:00.123GMT``."""
    dt = datetime.strptime(spark_time.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return dt.timestamp() * 1000.0


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Summed task metrics of stage attempts that ran."""
    t = {"stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
         "input_mb": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
         "spill_mb": 0.0}
    for s in stages:
        t["stages"] += 1
        t["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
        t["run_s"] += s["executorRunTime"] / 1e3
        t["cpu_s"] += s["executorCpuTime"] / 1e9
        t["gc_s"] += s["jvmGcTime"] / 1e3
        t["input_mb"] += s["inputBytes"] / 1e6
        t["shuffle_read_mb"] += s["shuffleReadBytes"] / 1e6
        t["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
        t["spill_mb"] += s["diskBytesSpilled"] / 1e6
    return t


def python_bytes(execution: dict) -> tuple[float, float]:
    """Bytes sent to / returned from Python workers by one SQL execution."""
    sent = back = 0.0
    for node in execution.get("nodes", []):
        for m in node.get("metrics", []):
            if m["name"].startswith("data sent to Python workers"):
                sent += parse_size(m["value"])
            elif m["name"].startswith("data returned from Python workers"):
                back += parse_size(m["value"])
    return sent, back


def execution_jobs(execution: dict) -> list[int]:
    return (execution.get("successJobIds", []) + execution.get("failedJobIds", [])
            + execution.get("runningJobIds", []))
