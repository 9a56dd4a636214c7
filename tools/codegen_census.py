#!/usr/bin/env python3
"""Codegen-cache census: the classes Spark compiles, pass by pass, in ONE session.

    python tools/codegen_census.py [--max-entries N] [--passes 3] [--sf-dir DIR]

Run from the repository root.  One engine session runs ``--passes``
passes of the perfbench ``read_mix`` workload, then ``--passes`` passes
of ``lake_dml``, then the frozen-33 rows of ``bench.py`` once over
``--sf-dir``, then ``read_mix`` once more.  After each phase it reads
Spark's ``CodegenMetrics``: a compile is a miss of the codegen cache
(``spark.sql.codegen.cache.maxEntries``), so with a cache larger than
the session's working set the summed compiles are the distinct classes
the session generated.  ``--max-entries`` sets the cache size (static:
it is read when the session is built); without it the session keeps
the engine's default.  The output is one JSON object: per phase the
classes compiled, then the JVM's metaspace in use and the driver-plus-JVM peak RSS.
The inputs are the perfbench tables (``perfbench/datagen.py``), written
under ``.perfbench_work/census-<pid>`` and removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
WORK = os.path.join(ROOT, ".perfbench_work", f"census-{os.getpid()}")


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Codegen:
    """Classes compiled since the last call: the exact count of Spark's
    JVM-wide ``CodegenMetrics`` compile histogram.  (Its mean comes
    from a decaying reservoir, so no compile time is derived.)"""

    def __init__(self, spark):
        m = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.compiles = m.METRIC_COMPILATION_TIME()
        self.last = self.compiles.getCount()

    def delta(self) -> int:
        now = self.compiles.getCount()
        n, self.last = now - self.last, now
        return n


def _metaspace_mb(spark) -> float:
    """The JVM's metaspace in use, where loaded classes live."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return pool.getUsage().getUsed() / 2**20
    return 0.0


def main(argv=None) -> int:
    import numpy as np

    import datagen
    from workloads import WORKLOADS

    from bench import HEADLINE
    from pg_analytics_spark.engine import Engine
    from pg_analytics_spark.workload import REGISTRY

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--max-entries", type=int)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    data = datagen.write(os.path.join(WORK, "data"), 0.005)
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.max_entries:
        conf["spark.sql.codegen.cache.maxEntries"] = str(args.max_entries)
    eng = Engine(app_name="codegen-census", extra_conf=conf)
    spark = eng.spark
    rng = np.random.default_rng(args.seed)
    cg = Codegen(spark)
    phases = []

    def phase(name: str, fn) -> None:
        t0 = time.perf_counter()
        fn()
        phases.append({"phase": name, "wall_s": round(time.perf_counter() - t0, 1),
                       "classes": cg.delta()})
        print(json.dumps(phases[-1]), file=sys.stderr)

    def workload_pass(wl):
        for op in wl.pass_ops(eng, rng):
            op.run()

    def frozen():
        for name in HEADLINE:
            REGISTRY[name].spark(spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()

    read, dml = WORKLOADS["read_mix"](), WORKLOADS["lake_dml"]()
    phase("setup", lambda: (read.setup(eng, data, WORK),
                            dml.setup(eng, data, os.path.join(WORK, "lake"))))
    for i in range(args.passes):
        phase(f"read_mix.{i}", lambda: workload_pass(read))
    for i in range(args.passes):
        phase(f"lake_dml.{i}", lambda: workload_pass(dml))
    phase("frozen33", frozen)
    phase("read_mix.again", lambda: workload_pass(read))
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    out = {
        "cache_max_entries": int(
            spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries", "100")
        ),
        "phases": phases,
        "classes_total": sum(p["classes"] for p in phases),
        "metaspace_mb": round(_metaspace_mb(spark)),
        "peak_rss_mb": round(_hwm_mb(os.getpid()) + _hwm_mb(jvm_pid)),
    }
    spark.stop()
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
