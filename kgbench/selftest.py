#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark.

    python3 kgbench/selftest.py

Runs every workload once at a few dozen pages in one Spark session
(untraced job + traced pass + all checks), then asserts that

- every metric BENCHMARK.json names is emitted, finite, with its unit,
  in both the end-to-end and the per-layer result;
- the checks pass on the untouched outputs, and fail once a fault is
  planted: an entity moved to another component's canon, and a triple
  dropped from the graph.

Exit code 0 when all of that holds. Takes about two minutes on 4 cores.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
from dataclasses import replace

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

TINY = {"crawl_nolink": 60, "resume_increment": 40}


def _rewrite(spark, path: str, fn) -> None:
    """Replace a parquet table by fn(table), through a sibling dir."""
    df = fn(spark.read.parquet(path))
    tmp = path + ".planted"
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


def plant_cross_component_canon(spark, warehouse: str) -> None:
    """Point one entity at the canon of a different component."""
    from pyspark.sql import functions as F

    path = os.path.join(warehouse, "entities")
    rows = spark.read.parquet(path).collect()
    canons = sorted({r["canon"] for r in rows})
    if len(canons) < 2:
        raise SystemExit("selftest: need two link components to plant a fault")
    victim = min(r["entity"] for r in rows if r["canon"] == canons[0])
    _rewrite(spark, path, lambda df: df.withColumn(
        "canon",
        F.when(F.col("entity") == victim, F.lit(canons[1])).otherwise(
            F.col("canon")
        ),
    ))


def plant_dropped_triple(spark, warehouse: str) -> None:
    from pyspark.sql import functions as F

    path = os.path.join(warehouse, "triples")
    first = spark.read.parquet(path).orderBy("s", "p", "o", "url").first()
    _rewrite(spark, path, lambda df: df.filter(
        ~((F.col("s") == first["s"]) & (F.col("p") == first["p"])
          & (F.col("o") == first["o"]) & (F.col("url") == first["url"]))
    ))


def emitted(res: dict, spec: list[dict]) -> list[str]:
    """Names of spec metrics missing, non-finite or with another unit."""
    out = []
    for m in spec:
        got = res["metrics"].get(m["name"])
        if (got is None or got["unit"] != m["unit"]
                or not isinstance(got["value"], (int, float))
                or not math.isfinite(got["value"])):
            out.append(m["name"])
    return out


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
        if not ok:
            problems.append(what)

    facts = run.preflight()
    work = os.path.join(run.WORK_ROOT, f"selftest-{os.getpid()}")
    b = run.Bench(work, facts, event_log=True)
    outs = []
    try:
        b.start()
        for name, n in TINY.items():
            wl = replace(run.WORKLOADS[name], pages=n)
            out = run.measure(b, name, wl, seed=7, seconds=0, trace=True)
            expect(not out["failures"], f"{name}: checks pass ({out['failures']})")
            outs.append(out)

        # both faults go into resume_increment's last timed warehouse,
        # which is linked and has a from-scratch reference. The triple
        # goes first: a moved canon alone also fails check_graph.
        wh = outs[-1]["runs"][-1]["warehouse"]
        plant_dropped_triple(b.spark, wh)
        expect(bool(checks.check_graph(b.spark, wh, link=True)),
               "planted dropped triple fails check_graph")
        expect(bool(checks.check_same_graph(
            b.spark, wh, os.path.join(work, "resume_increment", "from_scratch")
        )), "planted dropped triple fails the from-scratch comparison")
        plant_cross_component_canon(b.spark, wh)
        expect(bool(checks.check_canon(b.spark, wh)),
               "planted cross-component canon fails check_canon")
        b.stop()

        groups = tracing.fold_event_log(b.event_dir)
        for out in outs:
            e2e = run.result(out, out["e2e"], run.E2E_UNITS)
            layer = run.result(out, run.layer_metrics(out, groups, 1.0),
                               run.LAYER_UNITS)
            for kind, res in (("end_to_end", e2e), ("per_layer", layer)):
                miss = emitted(res, spec[kind])
                expect(not miss, f"{out['name']}: {kind} metrics emitted {miss}")
            expect(layer["correct"], f"{out['name']}: trace covers the total")
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(run.WORK_ROOT)
        except OSError:
            pass
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
