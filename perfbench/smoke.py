"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload at a tiny input size, untraced and traced, and checks
that each run exits 0, reports correct outputs, and prints exactly the
metric names and units that ``BENCHMARK.json`` declares. First it checks
that the ingest plan check tells a write that consumes the cell columns
from a count-only variant, whose plan Catalyst strips of the Arrow UDF.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.02"


def check_python_node_detection() -> list[str]:
    import shutil
    import tempfile

    sys.path.insert(0, ROOT)
    from run import stop_session
    from tracing import StatusStore
    from workloads import python_node_ran

    from pyspark.sql import functions as F

    from spatialindex_spark.functions.udfs import with_spatial_columns
    from spatialindex_spark.plans.session import get_session

    tmp = tempfile.mkdtemp(dir=HERE, prefix=".smoke-")
    spark = get_session(app="perfbench-smoke", cores=2, shuffle_partitions=2,
                        extra_conf={"spark.ui.showConsoleProgress": "false",
                                    "spark.local.dir": tmp})
    errors = []
    try:
        df = with_spatial_columns(spark.range(1000).select(
            (F.col("id") * 0.36).alias("ra"),
            (F.col("id") % 170 - 85).cast("double").alias("dec")))
        t0 = time.time() * 1e3
        df.write.parquet(os.path.join(tmp, "written"))
        t1 = time.time() * 1e3
        df.count()
        t2 = time.time() * 1e3
        store = StatusStore(spark)
        if not python_node_ran(store, store.executions_between(t0, t1)):
            errors.append("a write of the cell columns ran no ArrowEvalPython")
        if python_node_ran(store, store.executions_between(t1, t2)):
            errors.append("the count-only variant passed the plan check")
    finally:
        stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    return errors


def check_runs() -> list[str]:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    errors = []
    for name in WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 name, "--seed", "7", "--seconds", "1", "--trace", str(trace),
                 "--scale", SCALE], cwd=ROOT, capture_output=True, text=True,
                timeout=600)
            tag = f"{name} trace={trace}"
            if p.returncode != 0:
                errors.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"]:
                errors.append(f"{tag}: {result['failed']} failed")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                errors.append(f"{tag}: metrics {sorted(got.items())} != "
                              f"{sorted(want[trace].items())}")
            bad = [k for k, v in result["metrics"].items()
                   if not isinstance(v["value"], (int, float))]
            if bad:
                errors.append(f"{tag}: non-numeric values {bad}")
            print(f"ok {tag}", flush=True)
    return errors


def main() -> int:
    errors = check_python_node_detection() + check_runs()
    for e in errors:
        print("FAIL", e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
