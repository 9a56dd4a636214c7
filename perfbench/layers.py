"""Per-layer metrics of a traced run, named as in ``layer_map.json``."""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

import spans as sp

_MAP = os.path.join(os.path.dirname(os.path.abspath(__file__)), "layer_map.json")


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in a stable order."""
    with open(_MAP) as fh:
        m = json.load(fh)
    out = {k: v["unit"] for k, v in m["metrics"].items()}
    om = m["operator_metrics"]
    for fn in om["operators"]:
        for part in ("build_ms", "eager_jobs", "exec_ms"):
            out[f"operators.{fn}.{part}"] = om[part]["unit"]
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _outermost(spans: list, name: str) -> list:
    """Spans of ``name`` with no enclosing span of the same name."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = by_id.get(s.parent)
        while p is not None and p.name != name:
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _removed(fmt: str, new_files: list[str]) -> int:
    """Data files a commit removed logically, from its own log entries."""
    n = 0
    for p in new_files:
        if fmt == "delta" and p.endswith(".json") and "_delta_log" in p:
            with open(p) as fh:
                n += sum(1 for line in fh if line.startswith('{"remove"'))
        elif fmt == "iceberg" and p.endswith(".metadata.json"):
            with open(p) as fh:
                meta = json.load(fh)
            cur = meta.get("current-snapshot-id")
            for snap in meta.get("snapshots", []):
                if snap.get("snapshot-id") == cur:
                    n += int(snap.get("summary", {}).get("deleted-data-files", 0))
    return n


def _lake_metrics(run, timed) -> dict[str, float]:
    from run import _dir_files, _is_metadata, _pct

    m: dict[str, float] = {}
    commits = [r for r in timed if r.op.kind == "commit"]
    reads = [r for r in timed if r.op.kind == "read"]
    prev = run.lake_before
    written: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for r in timed:
        if r.lake is None:
            continue
        if r.op.kind == "commit":
            fmt = r.op.table
            new = [p for p in r.lake[fmt] if p not in prev[fmt]]
            data = [p for p in new if not _is_metadata(p)]
            w = written[fmt]
            w["bytes"] += sum(r.lake[fmt][p] for p in new)
            w["files_added"] += len(data)
            w["files_removed"] += _removed(fmt, new)
            w["rows_written"] += sum(_parquet_rows(p) for p in data if p.endswith(".parquet"))
            w["rows_changed"] += r.rows_changed or 0
        prev = r.lake
    n_commits = max(len(commits), 1)
    tot = {k: sum(w[k] for w in written.values()) for k in
           ("bytes", "files_added", "files_removed", "rows_changed")}
    for fmt in run.wl.formats:
        w = written[fmt]
        m[f"{fmt}_write.rows_changed_per_row_written"] = (
            w["rows_changed"] / w["rows_written"] if w["rows_written"] else 0.0)
    m["lake.bytes_written_mb"] = tot["bytes"] / 1e6 / n_commits
    m["lake.files_added"] = tot["files_added"] / n_commits
    m["lake.files_removed"] = tot["files_removed"] / n_commits
    m["lake.write_bytes_per_row"] = tot["bytes"] / tot["rows_changed"] if tot["rows_changed"] else 0.0
    m["lake.commit_p50_ms"] = statistics.median(r.wall_s * 1e3 for r in commits)
    m["lake.commit_p90_ms"] = _pct([r.wall_s * 1e3 for r in commits], 90)
    m["lake.read_p50_ms"] = statistics.median(r.wall_s * 1e3 for r in reads)
    final = {p: s for fmt in run.wl.formats for p, s in _dir_files(run.wl.paths[fmt]).items()}
    m["lake.metadata_files"] = sum(1 for p in final if _is_metadata(p))
    m["lake.data_files"] = sum(1 for p in final if not _is_metadata(p))
    fresh = 0
    for fmt in run.wl.formats:
        path = os.path.join(run.run_dir, "fresh", fmt)
        run.eng.sql(f"CREATE TABLE fresh_{fmt} USING {fmt} LOCATION '{path}' "
                    f"AS SELECT * FROM orders_{fmt}")
        fresh += sum(_dir_files(path).values())
    m["lake.space_amp"] = sum(final.values()) / fresh
    return m


def per_layer_metrics(run, timed) -> dict[str, tuple[float, str]]:
    units = metric_units()
    tr = run.tracer
    jobs, stages, execs, lost = sp.SparkRest(run.sc).settled("pb-op-", with_sql=True)
    op_ids = {r.idx for r in timed}
    n = len(timed)
    op_of_job = {j["jobId"]: int(j["jobGroup"].rsplit("-", 1)[1]) for j in jobs}
    spans = [s for s in tr.spans if s.op in op_ids]
    m: dict[str, float] = {k: 0.0 for k in units}

    def per_op_total(name: str, self_time: bool = False) -> float:
        sel = [s for s in spans if s.name == name] if self_time else _outermost(spans, name)
        return sum(s.self_s if self_time else s.dur for s in sel) * 1e3 / n

    m["dialect.rewrite_ms"] = per_op_total("dialect.rewrite", self_time=True)
    m["engine.route_ms"] = per_op_total("engine.sql", self_time=True)
    for phase in ("parsing", "analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = _mean((r.catalyst or {}).get(phase, 0.0) for r in timed)
    m["sources.attach_ms"] = _mean(
        s.dur * 1e3 for s in tr.spans if s.name == "sources.attach" and s.op is None)
    m["sources.delta.snapshot_ms"] = per_op_total("sources.delta.snapshot")
    m["sources.iceberg.snapshot_ms"] = per_op_total("sources.iceberg.snapshot")
    for fmt in ("delta", "iceberg"):
        for kind in ("insert", "update", "delete", "merge"):
            m[f"{fmt}_write.{kind}_ms"] = _mean(
                s.dur * 1e3 for s in _outermost(spans, f"{fmt}_write.{kind}"))

    timed_jobs = [j for j in jobs if op_of_job[j["jobId"]] in op_ids]
    ran = {sid for j in timed_jobs for sid in j["stageIds"] if sid in stages}
    t = sp.stage_totals([stages[s] for s in ran])
    m["spark.jobs"] = len(timed_jobs) / n
    m["spark.stages"] = t["stages"] / n
    m["spark.tasks"] = t["tasks"] / n
    m["spark.task_run_s"] = t["run_s"] / n
    m["spark.task_cpu_s"] = t["cpu_s"] / n
    m["spark.task_offcpu_s"] = (t["run_s"] - t["cpu_s"]) / n
    m["spark.gc_s"] = t["gc_s"] / n
    for k in ("input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{k}"] = t[k] / n

    tags = defaultdict(int)
    for j in timed_jobs:
        for tag in j.get("jobTags", []):
            tags[tag] += 1
    for fn in sp.OPERATORS:
        calls = _outermost(spans, f"operators.{fn}")
        m[f"operators.{fn}.build_ms"] = _mean(s.dur * 1e3 for s in calls)
        m[f"operators.{fn}.eager_jobs"] = _mean(tags[f"pb-span-{s.id}"] for s in calls)
        m[f"operators.{fn}.exec_ms"] = _mean(
            s.dur * 1e3 for r in timed if r.op.operator == fn
            for s in _outermost([x for x in spans if x.op == r.idx], "result.to_arrow"))

    op_execs = defaultdict(list)
    for e in execs:
        owners = {op_of_job[j] for j in sp.execution_jobs(e) if j in op_of_job}
        if len(owners) == 1 and owners <= op_ids:
            op_execs[owners.pop()].append(e)
    sent = back = delivery = 0.0
    for r in timed:
        for e in op_execs[r.idx]:
            a, b = sp.python_bytes(e)
            sent, back = sent + a, back + b
        for s in _outermost([x for x in spans if x.op == r.idx], "result.to_arrow"):
            lo, hi = s.wall_start * 1e3, (s.wall_start + s.dur) * 1e3
            covered = sum(e["duration"] for e in op_execs[r.idx]
                          if lo - 1 <= sp.epoch_ms(e["submissionTime"]) <= hi)
            delivery += s.dur * 1e3 - covered
    m["python.bytes_to_workers"] = sent / n
    m["python.bytes_from_workers"] = back / n
    m["result.delivery_ms"] = delivery / n
    m["result.rows"] = _mean(r.result.num_rows for r in timed if r.result is not None)
    m["result.mb"] = _mean(r.result.nbytes / 1e6 for r in timed if r.result is not None)
    recording = tr.overhead_s - run.overhead_before_timed_s
    m["trace.overhead_pct"] = recording / (run.timed_wall - recording) * 100.0
    m["trace.lost_stages"] = float(lost)
    if run.lake_before is not None:
        m.update(_lake_metrics(run, timed))
    for k in ("fail_ratio", "op_p90_ms", "peak_rss_mb"):
        m.pop(k)  # filled in by the caller
    return {k: (v, units[k]) for k, v in m.items()}
