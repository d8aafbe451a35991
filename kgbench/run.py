#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the ``run_pipeline`` job.

    python3 kgbench/run.py --workload crawl_nolink --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. Each run starts its own local Spark
session sized from the host, builds its inputs from ``--seed`` with
the package's page generator, warms up, then repeats the job for
``--seconds`` seconds and reports medians. Correctness checks run
outside the timed region. ``--trace 1`` splits the window between
untraced jobs and traced passes (``tracing.py``) and reports the
per-layer metrics instead of the end-to-end ones. The last stdout
line is the result JSON. README.md describes the workloads and what
each metric should move.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import host  # noqa: E402
import tracing  # noqa: E402

RICHNESS = 8
RUN_BASE, RUN_TIMED = "r0001-base", "r0002-timed"
MIN_HEAP_MB = 2048
WORK_ROOT = os.path.join(ROOT, ".kgbench_work")


@dataclass(frozen=True)
class Workload:
    pages: int  # pages per job (resume: the committed base)
    link: bool
    increment: float = 0.0  # resume: share of new urls offered on top


WORKLOADS = {
    "crawl_nolink": Workload(pages=2000, link=False),
    "resume_increment": Workload(pages=150, link=True, increment=0.1),
}

E2E_UNITS = {
    "job_s": "s",
    "setup_s": "s",
    "triples_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "roundtrip_share": "ratio",
}

LAYER_UNITS = {
    "pages.latest_crawl_s": "s",
    "pages.shuffle_mb": "MB",
    "extract.self_s": "s",
    "extract.pages": "count",
    "extract.triples": "count",
    "extract.error_rows": "count",
    "extract.tasks": "count",
    "extract.task_skew": "ratio",
    "pipeline.resume_s": "s",
    "pipeline.skipped": "count",
    "pipeline.commit_s": "s",
    "pipeline.bad_doc_share": "ratio",
    "linking.signatures_s": "s",
    "linking.sig_rows": "count",
    "linking.band_join_s": "s",
    "linking.candidates": "count",
    "linking.verify_s": "s",
    "linking.links": "count",
    "linking.verify_yield": "ratio",
    "linking.cc_s": "s",
    "linking.entities": "count",
    "linking.components": "count",
    "linking.canonical_s": "s",
    "linking.shuffle_mb": "MB",
    "materialize.hubs_s": "s",
    "materialize.write_s": "s",
    "materialize.rows": "count",
    "materialize.salted_rows": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "trace.total_s": "s",
    "trace.overhead": "ratio",
    "host.speed": "1/s",
}

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"kgbench [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


class BenchError(Exception):
    """A run that cannot be measured on this host or checkout."""


def preflight() -> dict:
    """Host facts and the session sizing derived from them; raises
    BenchError when the program or the host cannot run a workload."""
    if not os.path.isfile(os.path.join(ROOT, "serd_spark", "plans", "pipeline.py")):
        raise BenchError(f"no serd_spark package under {ROOT}: run from a checkout")
    try:
        import pyspark  # noqa: F401
    except ImportError as e:
        raise BenchError(f"pyspark is not importable: {e}") from e
    mem = host.meminfo()
    heap = host.driver_heap_mb(mem)
    n = host.cores()
    # driver heap + one Python worker per core + headroom
    need = heap + 400 * n + 1024
    if heap < MIN_HEAP_MB:
        raise BenchError(
            f"driver heap {heap} MiB (MemTotal/4) is below the {MIN_HEAP_MB} "
            "MiB the workloads need"
        )
    if mem["MemAvailable"] < need:
        raise BenchError(
            f"needs ~{need} MiB available, host has {mem['MemAvailable']} MiB"
        )
    return {
        "nproc": n,
        "mem_total_mb": mem["MemTotal"],
        "mem_available_mb": mem["MemAvailable"],
        "driver_heap_mb": heap,
        "package_hash": host.package_hash(os.path.join(ROOT, "serd_spark")),
    }


class Bench:
    """One Spark session and its work directory, inside the checkout."""

    def __init__(self, work: str, facts: dict, event_log: bool):
        self.work = work
        self.facts = facts
        self.event_log = event_log
        self.event_dir = os.path.join(work, "eventlog")
        self.spark = None
        self.session_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start(self) -> None:
        t = time.perf_counter()
        for d in ("tmp", "local", "eventlog"):
            os.makedirs(self.path(d), exist_ok=True)
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["PYTHONPATH"] = ROOT
        os.environ["SPARK_DRIVER_MEM"] = f"{self.facts['driver_heap_mb']}m"
        sys.path.insert(0, ROOT)
        from serd_spark.session import get_spark

        conf = {
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            # a fixed, pre-touched heap keeps G1's resizing (which
            # follows GC time, so host speed) out of peak RSS and CPU
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData "
                f"-Xms{self.facts['driver_heap_mb']}m -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            app_name="kgbench",
            master=f"local[{self.facts['nproc']}]",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.facts["local_dir_fs"] = host.fs_type(self.path("local"))
        self.session_s = time.perf_counter() - t
        log("session up")

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        host.reap_children()

    def pages(self, path: str, n: int, seed: int):
        """Generate ``n`` pages at ``path``; read them back the way the
        job reads a pages table (``read_pages``)."""
        from serd_spark.sources.pages import read_pages, synthesize_pages

        synthesize_pages(self.spark, n, seed=seed, richness=RICHNESS).write.mode(
            "overwrite"
        ).parquet(path)
        return read_pages(self.spark, path)

    def job(self, pages, warehouse: str, run_id: str, link: bool) -> dict:
        """One untraced ``run_pipeline`` call: wall, tree CPU, peak RSS."""
        from serd_spark.plans.pipeline import run_pipeline

        # every job starts from a collected JVM heap, so its peak heap
        # use and GC work do not depend on what earlier jobs left behind
        self.spark._jvm.System.gc()
        pools = host.heap_pools(self.spark)
        host.reset_heap_peak(pools)
        host.reset_peak_rss()
        cpu0 = host.tree_cpu_s()
        t = time.perf_counter()
        res = run_pipeline(self.spark, pages, warehouse, run_id, link=link)
        job_s = time.perf_counter() - t
        return {
            "res": res,
            "job_s": job_s,
            "cpu_s": host.tree_cpu_s() - cpu0,
            "peak_rss_mb": host.heap_peak_mb(pools) + host.python_peak_rss_mb(),
            "warehouse": warehouse,
            "committed": committed(warehouse),
        }


def drop_stale_work() -> None:
    """Remove work dirs of runs whose process is gone, so nothing a run
    leaves behind survives into the next."""
    if not os.path.isdir(WORK_ROOT):
        return
    for d in os.listdir(WORK_ROOT):
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_ROOT, d), ignore_errors=True)


def committed(warehouse: str) -> dict[str, int]:
    """pages_in, triples_out and bad_docs summed over the manifests of
    the warehouse's visible snapshots (the graph's rows equal the
    triples sum; ``checks.check_graph`` holds the job to that)."""
    from serd_spark.plans.pipeline import visible_runs

    out = {"pages_in": 0, "triples_out": 0, "bad_docs": 0}
    for r in visible_runs(warehouse):
        with open(os.path.join(warehouse, "manifests", f"{r}.json")) as f:
            m = json.load(f)
        for k in out:
            out[k] += int(m[k])
    return out


class Window:
    """The timed window: always one iteration, then another only while
    it is predicted (from the one before, as the first timed job is
    still warming up) to end inside the window."""

    def __init__(self, seconds: float):
        self.end = time.perf_counter() + seconds
        self.last = None

    def another(self) -> bool:
        now, last = time.perf_counter(), self.last
        self.last = now
        return last is None or now + (now - last) <= self.end


def measure(b: Bench, name: str, wl: Workload, seed: int, seconds: float,
            trace: bool) -> dict:
    """Set up, run the timed window (and traced passes), check outputs.
    Paths and job groups are keyed by the workload ``name``."""
    from serd_spark.plans.pipeline import run_pipeline

    def p(*parts: str) -> str:
        return b.path(name, *parts)

    t_setup = time.perf_counter()
    if wl.increment:
        # the base snapshot, committed by the code under test, doubles
        # as the warm-up; the offered set is the base plus new urls. The
        # from-scratch run over the offered set, which the equivalence
        # check needs, shares the session with the seeding to save time.
        base = b.pages(p("in", "base"), wl.pages, seed)
        offered = b.pages(
            p("in", "offered"), round(wl.pages * (1 + wl.increment)), seed
        )
        with ThreadPoolExecutor(2) as ex:
            jobs = [
                ex.submit(run_pipeline, b.spark, base, p("base"), RUN_BASE,
                          link=wl.link),
                ex.submit(run_pipeline, b.spark, offered, p("from_scratch"),
                          RUN_TIMED, link=wl.link),
            ]
            for j in jobs:
                j.result()
    else:
        offered = b.pages(p("in", "pages"), wl.pages, seed)
        # warm-up: the first job in a JVM is cold (JVM CPU 36 s, then
        # 18 and 13 s). C2 is still compiling through the first timed
        # job, which the median over the window's jobs absorbs.
        b.job(offered, p("warm"), RUN_TIMED, wl.link)
    setup_s = b.session_s + time.perf_counter() - t_setup
    log(f"{name}: set-up done")

    sc = b.spark.sparkContext
    runs = []
    window = Window(seconds / 2 if trace else seconds)
    while window.another():
        k = len(runs)
        wh = p("wh", str(k))
        if k:
            shutil.rmtree(p("wh", str(k - 1)))
        if wl.increment:
            shutil.copytree(p("base"), wh)
        sc.setLocalProperty("spark.jobGroup.id", f"{name}/job/{k}")
        runs.append(b.job(offered, wh, RUN_TIMED, wl.link))
        sc.setLocalProperty("spark.jobGroup.id", None)
        log(f"{name}: job {k} {runs[-1]['job_s']:.2f}s")
    last = runs[-1]

    traced = []
    if trace:
        window = Window(seconds / 2)
        while window.another():
            wh = p("traced", str(len(traced)))
            if wl.increment:
                shutil.copytree(p("base"), wh)
            tr = tracing.Tracer(sc, prefix=f"{name}/trace{len(traced)}/")
            counts = tracing.traced_pass(
                b.spark, tr, offered, wh, RUN_TIMED, wl.link
            )
            traced.append({"tracer": tr, "counts": counts, "warehouse": wh,
                           "committed": committed(wh)})
            log(f"{name}: traced pass {tr.spans[-1].dur:.2f}s")

    # ---- correctness, outside the timed region -------------------------
    threshold = tracing.default_arg(run_pipeline, "link_threshold")
    failures = checks.check_run(
        b.spark, last["warehouse"], last["res"], offered, wl.link, threshold
    )
    if wl.increment:
        failures += checks.check_same_graph(
            b.spark, last["warehouse"], p("from_scratch")
        )
    for t in traced:
        failures += [
            f"traced pass: {f}"
            for f in checks.check_same_graph(b.spark, t["warehouse"], last["warehouse"])
        ]
    rt_share = checks.roundtrip_share(b.spark, last["warehouse"])
    log(f"{name}: checks done")
    link_counts = (
        tracing.link_tables(b.spark, last["warehouse"]) if trace and wl.link
        else {"links": 0, "entities": 0, "components": 0}
    )

    med = statistics.median
    e2e = {
        "job_s": med(r["job_s"] for r in runs),
        "setup_s": setup_s,
        # the job commits (re-materializes) the whole visible graph
        "triples_per_s": med(
            r["committed"]["triples_out"] / r["job_s"] for r in runs
        ),
        "cpu_s": med(r["cpu_s"] for r in runs),
        "peak_rss_mb": med(r["peak_rss_mb"] for r in runs),
        "roundtrip_share": rt_share,
    }
    return {"name": name, "e2e": e2e, "runs": runs, "traced": traced,
            "link_counts": link_counts, "failures": failures}


def layer_metrics(out: dict, groups: dict, speed: float) -> dict:
    """Fold spans, counts and event-log groups into the per-layer set."""
    name, med = out["name"], statistics.median
    passes = []
    for i, t in enumerate(out["traced"]):
        st = t["tracer"].self_times()
        pre = f"{name}/trace{i}/"

        def grp(*spans: str) -> dict:
            return tracing.merge([groups.get(pre + s) for s in spans])

        c, cm, lc = t["counts"], t["committed"], out["link_counts"]
        linking = [s for s in st if s.startswith("linking")]
        passes.append({
            "pages.latest_crawl_s": st["pages"],
            "pages.shuffle_mb": grp("pages")["shuffle_write_mb"],
            "extract.self_s": st["extract"],
            "extract.pages": c["pages_in"],
            "extract.triples": c["triples"],
            "extract.error_rows": c["error_rows"],
            "extract.tasks": grp("extract")["tasks"],
            "extract.task_skew": tracing.task_skew(grp("extract")),
            "pipeline.resume_s": st["pipeline.resume"],
            "pipeline.skipped": c["skipped"],
            "pipeline.commit_s": st["pipeline.commit"],
            "pipeline.bad_doc_share": cm["bad_docs"] / cm["pages_in"],
            "linking.signatures_s": st["linking.signatures"],
            "linking.sig_rows": c["sig_rows"],
            "linking.band_join_s": st["linking.band_join"],
            "linking.candidates": c["candidates"],
            "linking.verify_s": st["linking.verify"],
            "linking.links": lc["links"],
            "linking.verify_yield": (
                lc["links"] / c["candidates"] if c["candidates"] else 0.0
            ),
            "linking.cc_s": st["linking.cc"],
            "linking.entities": lc["entities"],
            "linking.components": lc["components"],
            "linking.canonical_s": st["linking.canonical"],
            "linking.shuffle_mb": grp(*linking)["shuffle_write_mb"],
            "materialize.hubs_s": st["materialize.hubs"],
            "materialize.write_s": st["materialize.write"],
            "materialize.rows": c["graph_rows"],
            "materialize.salted_rows": c["salted_rows"],
            "trace.total_s": t["tracer"].total(),
            "root_self_s": st["trace"],
        })
    m = {k: med(p[k] for p in passes) for k in passes[0]}
    jobs = [groups.get(f"{name}/job/{k}") for k in range(len(out["runs"]))]
    jobs = [j for j in jobs if j]
    for k in ("jobs", "tasks", "gc_s", "spill_mb", "shuffle_write_mb"):
        m[f"spark.{k}"] = med(j[k] for j in jobs)
    m["trace.overhead"] = m["trace.total_s"] / out["e2e"]["job_s"] - 1
    m["host.speed"] = speed
    # the spans must account for the traced total: the root's own time
    # is only driver glue between layers
    if m.pop("root_self_s") > 0.1 * m["trace.total_s"]:
        out["failures"].append("trace: layer self-times cover < 90% of the total")
    return m


def result(out: dict, values: dict, units: dict) -> dict:
    return {
        "correct": not out["failures"],
        "attempted": len(out["runs"]),
        "failed": 0,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        facts = preflight()
    except BenchError as e:
        print(f"kgbench: {e}", file=sys.stderr)
        return 2

    # SIGTERM unwinds through the finally below: Spark stopped, work dir gone
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    speed_before = host.host_speed(facts["nproc"])
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    drop_stale_work()
    b = Bench(work, facts, event_log=bool(args.trace))
    try:
        b.start()
        out = measure(b, args.workload, WORKLOADS[args.workload], args.seed,
                      args.seconds, bool(args.trace))
        b.stop()  # flushes the event log
        groups = tracing.fold_event_log(b.event_dir) if args.trace else {}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass
    speed_after = host.host_speed(facts["nproc"])

    if args.trace:
        values = layer_metrics(out, groups, statistics.median(
            [speed_before, speed_after]))
        res = result(out, values, LAYER_UNITS)
    else:
        res = result(out, out["e2e"], E2E_UNITS)
    facts.update({"host_speed_before": speed_before,
                  "host_speed_after": speed_after,
                  "iterations": len(out["runs"])})
    print(json.dumps({"host": facts}))
    if args.trace:
        print(json.dumps({
            "spans": [t["tracer"].dump() for t in out["traced"]],
            "groups": {g: {k: v for k, v in r.items() if k != "stages"}
                       for g, r in groups.items()},
        }))
    for f in out["failures"]:
        print(f"kgbench: check failed: {f}", file=sys.stderr)
    bad = [k for k, v in res["metrics"].items() if not math.isfinite(v["value"])]
    if bad:
        print(f"kgbench: non-finite metrics {bad}", file=sys.stderr)
        return 1
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
