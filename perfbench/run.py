#!/usr/bin/env python3
"""Benchmark entry point: one workload, one client, a closed loop.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run.  The line above it is the run record
(parallelism, CPU steal, commit, seed, sample counts).

A run: write the input tables (fixed data seed), set up once
(SparkSession, attach, table builds), run one untimed cold pass, then
run whole passes until ``--seconds`` have elapsed.  ``setup_s`` is the
time from process start to the first timed op, less the time spent
generating the inputs.  Every op's answer is checked against DuckDB
outside the timed region.  Everything the run writes stays under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

_T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: Scale factor of the generated tables (0.1 = 600k lineitem rows).
#: Chosen so a run of each workload, set-up included, stays near 60 s.
SF = 0.005

_SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # the timed region's jobs and stages must stay in the status store
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
    "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
}


@dataclass
class Rec:
    """One executed op."""

    idx: int
    op: object
    phase: str  # warmup | timed
    wall_s: float
    result: object = None
    error: str | None = None
    wrong: bool = False
    rows_changed: int | None = None
    catalyst: dict | None = None
    lake: dict | None = None


def _import_engine():
    """Import the package from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import pg_analytics_spark

    if not os.path.abspath(pg_analytics_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"pg_analytics_spark resolved outside {ROOT}")
    from pg_analytics_spark.engine import Engine

    return Engine


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    # user nice system idle iowait irq softirq steal (guest is in user)
    total = sum(d[:8])
    return 100.0 * d[7] / total if total else 0.0


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _git_head() -> str | None:
    try:
        # the ceiling keeps git from reporting an enclosing repository
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10, env=env)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _pct(values: list[float], p: int) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100)[p - 1]


def _dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def _is_metadata(path: str) -> bool:
    return f"{os.sep}_delta_log{os.sep}" in path or f"{os.sep}metadata{os.sep}" in path


class Run:
    def __init__(self, args):
        import numpy as np

        import datagen
        from workloads import WORKLOADS

        self.Engine = _import_engine()
        self.args = args
        self.rng = np.random.default_rng(args.seed)
        self.wl = WORKLOADS[args.workload]()

        t0 = time.perf_counter()
        self.data_dir = datagen.write(os.path.join(WORK, "data"), SF)
        self.inputs_s = time.perf_counter() - t0
        self.run_dir = os.path.join(WORK, "run", args.workload)
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.eng = None
        self.jvm_pid: int | None = None
        self.tracer = None
        self.log: list[Rec] = []

    # ------------------------------------------------------------ set-up --

    def setup(self) -> None:
        self.eng = self.Engine(app_name="perfbench", extra_conf=_SPARK_CONF)
        self.jvm_pid = int(self.eng.spark._jvm.ProcessHandle.current().pid())
        self.sc = self.eng.spark.sparkContext
        if self.args.trace:
            import spans

            self.tracer = spans.Tracer(self.sc)
            self.tracer.install()
        self.wl.setup(self.eng, self.data_dir, self.run_dir)

    # ------------------------------------------------------------- loop ---

    def run_op(self, op, phase: str) -> Rec:
        tr = self.tracer if phase == "timed" else None
        idx = len(self.log)
        if tr is not None:
            tr.op = idx
            self.sc.setJobGroup(f"pb-op-{idx}", op.name)
        t0 = time.perf_counter()
        try:
            res, err = op.run(), None
        except Exception as exc:  # an op failure is a measured outcome
            res, err = None, f"{type(exc).__name__}: {exc}"
        rec = Rec(idx, op, phase, time.perf_counter() - t0, res, err)
        self.log.append(rec)
        if tr is not None:
            t1 = time.perf_counter()
            tr.op = None
            rec.catalyst = self._phases(idx)
            if op.table:
                rec.lake = self._lake_state()
            tr.overhead_s += time.perf_counter() - t1
        return rec

    def run_pass(self, phase: str) -> float:
        ops = self.wl.pass_ops(self.eng, self.rng)
        t0 = time.perf_counter()
        for op in ops:
            self.run_op(op, phase)
        return time.perf_counter() - t0

    def _phases(self, idx: int) -> dict:
        import spans

        dfs = [s.df for s in self.tracer.spans if s.op == idx and s.name == "result.to_arrow"]
        for s in self.tracer.spans:
            if s.op == idx:
                s.df = None
        return spans.catalyst_phases(dfs[-1]) if dfs else {}

    def _lake_state(self) -> dict:
        return {fmt: _dir_files(p) for fmt, p in self.wl.paths.items()}

    def measure(self) -> None:
        self.sc.setJobGroup("pb-warmup", "cold pass")
        self.first_pass_s = self.run_pass("warmup")
        self.lake_before = (self._lake_state() if self.tracer is not None
                            and getattr(self.wl, "paths", None) else None)
        # traced ops set their own group, pb-op-<index>
        self.sc.setJobGroup("pb-timed", "timed region")
        self.pass_s: list[float] = []
        self.overhead_before_timed_s = self.tracer.overhead_s if self.tracer else 0.0
        cpu0, t0 = _cpu_times(), time.perf_counter()
        self.setup_s = t0 - _T_START - self.inputs_s
        while True:
            self.pass_s.append(self.run_pass("timed"))
            if time.perf_counter() - t0 >= self.args.seconds:
                break
        self.timed_wall = time.perf_counter() - t0
        self.steal_pct = _steal_pct(cpu0, _cpu_times())
        if self.tracer is not None:
            self.tracer.uninstall()
        self.sc._jsc.clearJobGroup()
        self.peak_rss_mb = _hwm_mb(os.getpid()) + _hwm_mb(self.jvm_pid)

    # ------------------------------------------------------------ check ---

    def check(self) -> None:
        import duckdb

        from workloads import duck_views

        con = duckdb.connect()
        duck_views(con, self.data_dir, self.wl.tables)
        if hasattr(self.wl, "oracle_setup"):
            self.wl.oracle_setup(con)
        check_log(self.log, con)
        con.close()

    # ------------------------------------------------------------ stop ----

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.eng is None:
            return
        kids = _children(self.jvm_pid) if self.jvm_pid else []
        self.eng.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 30
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.1)
        self.eng = None


def check_log(log: list[Rec], con) -> None:
    """Mark each op wrong when its answer differs from the oracle's.

    Ops are replayed in execution order, so a write advances the
    oracle's copy exactly when the engine's commit returned."""
    from workloads import matches

    for rec in log:
        if rec.error is not None and rec.op.kind == "commit":
            continue
        expected = rec.op.oracle(con)
        if isinstance(expected, int):
            rec.rows_changed = expected
        elif expected is not None and rec.error is None:
            rec.wrong = not matches(rec.result, expected)


def _op_ms(log: list[Rec]) -> dict:
    """Per op name: cold-pass ms and the median of its timed ms."""
    out: dict = {}
    for r in log:
        d = out.setdefault(r.op.name, {"cold": None, "timed": []})
        if r.phase == "warmup" and d["cold"] is None:
            d["cold"] = round(r.wall_s * 1e3, 1)
        elif r.phase == "timed":
            d["timed"].append(r.wall_s * 1e3)
    return {k: {"cold": v["cold"], "timed": round(statistics.median(v["timed"]), 1)
                if v["timed"] else None} for k, v in out.items()}


def failures(recs: list[Rec]) -> int:
    return sum(1 for r in recs if r.error is not None or r.wrong)


#: End-to-end metrics (``--trace 0``) and their units.
E2E_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "ops_per_s": "op/s",
    "op_p50_ms": "ms",
    "task_cpu_s": "s/op",
    "jobs_per_op": "count",
    "result_mb_per_s": "MB/s",
}


def e2e_metrics(run: Run, timed: list[Rec]) -> dict:
    from spans import SparkRest, stage_totals

    jobs, stages, _, lost = SparkRest(run.sc).settled("pb-timed")
    ran = {sid for j in jobs for sid in j["stageIds"] if sid in stages}
    totals = stage_totals([stages[s] for s in ran])
    walls_ms = [r.wall_s * 1e3 for r in timed]
    n = len(timed)
    run.record.update(stages_lost=lost, timed_jobs=len(jobs),
                      op_p90_ms=_pct(walls_ms, 90), peak_rss_mb=run.peak_rss_mb)
    mb = sum(r.result.nbytes for r in timed if r.result is not None) / 1e6
    values = {
        "setup_s": run.setup_s,
        "first_pass_s": run.first_pass_s,
        "ops_per_s": n / run.timed_wall,
        "op_p50_ms": statistics.median(walls_ms),
        "task_cpu_s": totals["cpu_s"] / n,
        "jobs_per_op": len(jobs) / n,
        "result_mb_per_s": mb / run.timed_wall,
    }
    return {k: (values[k], u) for k, u in E2E_UNITS.items()}


def run_record(run: Run) -> dict:
    spark = run.eng.spark
    return {
        "workload": run.args.workload, "seed": run.args.seed, "trace": run.args.trace,
        "sf": SF, "git_head": _git_head(),
        "master": run.sc.master,
        "default_parallelism": run.sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "nproc": _nproc(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cpu_steal_pct": round(run.steal_pct, 3),
        "inputs_s": round(run.inputs_s, 3),
        "timed_wall_s": round(run.timed_wall, 4),
        "passes": len(run.pass_s),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("read_mix", "lake_dml"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))
    sys.path.insert(0, HERE)

    run = Run(args)
    phase_s = {}
    try:
        t = time.perf_counter()
        run.setup()
        run.measure()
        phase_s["to_end_of_timed"] = time.perf_counter() - t
        t = time.perf_counter()
        run.check()
        phase_s["check"] = time.perf_counter() - t
        run.record = run_record(run)
        timed = [r for r in run.log if r.phase == "timed"]
        t = time.perf_counter()
        if args.trace:
            import layers

            metrics = layers.per_layer_metrics(run, timed)
        else:
            metrics = e2e_metrics(run, timed)
        phase_s["metrics"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        run.shutdown()
        phase_s["shutdown"] = time.perf_counter() - t

    failed = failures(timed)
    p90 = _pct([r.wall_s * 1e3 for r in timed], 90)
    run.record.update(
        samples=len(timed),
        samples_above_p90=sum(1 for r in timed if r.wall_s * 1e3 > p90),
        untimed_failed=failures([r for r in run.log if r.phase != "timed"]),
        errors=sorted({r.error for r in run.log if r.error})[:5],
        wrong_ops=sorted({r.op.name for r in run.log if r.wrong}),
        phase_s={k: round(v, 3) for k, v in phase_s.items()},
        op_ms=_op_ms(run.log),
        process_s=round(time.perf_counter() - _T_START, 3),
    )
    if args.trace:
        metrics["fail_ratio"] = (failed / len(timed), "ratio")
        metrics["op_p90_ms"] = (p90, "ms")
        metrics["peak_rss_mb"] = (run.peak_rss_mb, "MB")
    print(json.dumps({"run_record": run.record}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0 and run.record["untimed_failed"] == 0,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
