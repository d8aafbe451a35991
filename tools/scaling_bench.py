"""Two-parallelism scaling-efficiency protocol (north rule: ≥0.8
throughput scaling efficiency between N and 4N executors).

No real cluster exists in this sandbox, so cluster size is emulated
by CPU affinity: the N-core run is pinned to N cores (taskset), the
4N-core run to 4N — otherwise the small run's JVM helper threads
spill onto the idle cores and flatter the baseline. Each
configuration repeats the SAME job R times in one session; the MIN
wall time is used (the host is a shared VM with ±20% interference
noise; min is the least-contended estimate).

Two stages cover the pipeline's two execution regimes:

- ``extract`` (default): scan pages parquet → fused
  extract+canonicalize+dedup → count. Map-side; one Python crossing;
  no shuffle. The original record.
- ``linking``: read the triple table (pre-derived once from the same
  corpus) → minhash signatures → LSH band self-join → verify joins →
  distributed pointer-jumping connected components
  (driver_threshold=0) → count canonical entities. This is the
  pipeline's shuffle-heavy regime — the band join is its one
  potentially-skewed shuffle and CC runs O(log d) shuffle rounds —
  so its efficiency number is the one a 100×-scale reviewer probes.

Usage:
  python tools/scaling_bench.py                    # extract stage
  python tools/scaling_bench.py --stage linking    # shuffle stage
  python tools/scaling_bench.py --worker N ...     # internal (pinned)

N defaults to a quarter of the host's cores (1→4 on a 4-core box);
``SPARK_GRAFT_SCALE_N`` overrides it. Output file is keyed by stage
AND basis so records never overwrite each other (the 4→16 and 8→32
bases measure different things): extract →
BENCH/scaling.json (N=4), otherwise scaling_<N>_<4N>.json; linking →
BENCH/scaling_linking.json / scaling_linking_<N>_<4N>.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from __spark_entry__ import _pkg_hash  # noqa: E402

N_PAGES = int(os.environ.get("SPARK_GRAFT_SCALE_PAGES", "300000"))
RICHNESS = int(os.environ.get("SPARK_GRAFT_SCALE_RICHNESS", "8"))
REPEATS = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "3"))
SMALL = int(
    os.environ.get("SPARK_GRAFT_SCALE_N") or max(1, (os.cpu_count() or 4) // 4)
)
BIG = 4 * SMALL
STAGE = os.environ.get("SPARK_GRAFT_SCALE_STAGE", "extract")


def _out_name(stage: str, small: int) -> str:
    base = "scaling" if stage == "extract" else f"scaling_{stage}"
    return f"{base}.json" if small == 4 else f"{base}_{small}_{small * 4}.json"


# inputs keyed by the package hash: the page generator and the
# extractor import the parsers, so a narrower key (one file's hash)
# would silently re-measure stale pages or triples after a parser edit
CORPUS = os.environ.get("SPARK_GRAFT_SCALE_CORPUS") or (
    f"/tmp/serd_spark_scale_corpus_{N_PAGES}_r{RICHNESS}_{_pkg_hash()}"
)


def _triples_corpus() -> str:
    """Triple-table path for the linking stage: the pages corpus plus
    the package hash (an overridden corpus path carries none)."""
    return f"{CORPUS}_triples_{_pkg_hash()}"


def ensure_corpus() -> None:
    if os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
        return
    from serd_spark.session import get_spark
    from serd_spark.sources.pages import latest_crawl, synthesize_pages

    spark = get_spark(app_name="scale-corpus", master=f"local[{BIG}]")
    spark.sparkContext.setLogLevel("ERROR")
    latest_crawl(
        synthesize_pages(spark, N_PAGES, seed=42, richness=RICHNESS)
    ).repartition(3 * BIG).write.mode("overwrite").parquet(CORPUS)
    spark.stop()


def ensure_triples() -> None:
    """Derive the triple table once (not timed — the extract stage
    already measures that regime; the linking stage times only the
    shuffle-heavy job over an identical input)."""
    out = _triples_corpus()
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return
    ensure_corpus()
    from serd_spark.operators.extract import extract_triples, triples_only
    from serd_spark.session import get_spark

    spark = get_spark(
        app_name="scale-triples",
        master=f"local[{BIG}]",
        extra_conf={
            "spark.local.dir": "/dev/shm/spark-local",
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    triples_only(
        extract_triples(
            spark.read.parquet(CORPUS), canonicalize=True, dedup=True
        )
    ).repartition(3 * BIG).write.mode("overwrite").parquet(out)
    spark.stop()


def worker(cores: int, stage: str) -> None:
    from serd_spark.session import get_spark

    spark = get_spark(
        app_name=f"scale-{stage}-{cores}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": "/dev/shm/spark-local",
            # pages parquet compresses ~15x (binary html): size splits
            # for the DECODED batch, not the file bytes
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def warm(batches):
        yield from batches

    spark.range(0, 10000, 1, cores).mapInPandas(warm, schema="id long").count()
    times = []
    n = 0
    if stage == "extract":
        from serd_spark.operators.extract import (
            extract_triples,
            triples_only,
        )

        pages = spark.read.parquet(CORPUS)
        for _ in range(REPEATS):
            t0 = time.time()
            n = triples_only(
                extract_triples(pages, canonicalize=True, dedup=True)
            ).count()
            times.append(round(time.time() - t0, 2))
    elif stage == "linking":
        from serd_spark.operators.linking import link_entities

        triples = spark.read.parquet(_triples_corpus())
        for _ in range(REPEATS):
            t0 = time.time()
            # driver_threshold=0 forces the distributed pointer-jumping
            # CC — the code path a real 100 TB link graph runs
            _links, entities = link_entities(
                triples, threshold=0.6, driver_threshold=0
            )
            n = entities.count()
            times.append(round(time.time() - t0, 2))
    else:
        raise SystemExit(f"unknown stage {stage!r}")
    print(json.dumps({"cores": cores, "times": times, "n_out": n}))
    spark.stop()


def main() -> None:
    stage = STAGE
    if "--stage" in sys.argv:
        stage = sys.argv[sys.argv.index("--stage") + 1]
    if "--worker" in sys.argv:
        worker(int(sys.argv[sys.argv.index("--worker") + 1]), stage)
        return
    from hostmem import driver_mem

    ensure_corpus()
    if stage == "linking":
        ensure_triples()
    # the host is a shared VM with epoch-scale interference (±30%
    # observed): INTERLEAVE the two configurations so drift hits both
    # equally, and take the min across all sessions per config
    results = {SMALL: {"times": [], "n_out": 0},
               BIG: {"times": [], "n_out": 0}}
    for _round in range(2):
        for cores in (SMALL, BIG):
            aff = ["taskset", "-c", f"0-{cores - 1}"]
            cmd = aff + [
                sys.executable, os.path.abspath(__file__),
                "--worker", str(cores), "--stage", stage,
            ]
            out = subprocess.run(
                cmd, capture_output=True, text=True, cwd=REPO,
                env={**os.environ, "SPARK_DRIVER_MEM": driver_mem()},
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
            r = json.loads(line)
            results[cores]["times"].extend(r["times"])
            results[cores]["n_out"] = r["n_out"]
            print(line)
    # merge with any previous invocation of the SAME configuration AND
    # the same engine code (pkg content hash): the host has
    # epoch-scale external interference (±30%, sometimes 5×), so the
    # least-contended estimate is the min across ALL repeats of all
    # epochs — but mins from different code versions must never mix
    # (an efficiency number describing no single version of the code)
    pkg_hash = _pkg_hash()
    out_path = os.path.join(REPO, "BENCH", _out_name(stage, SMALL))
    if os.path.exists(out_path):
        try:
            prev = json.load(open(out_path))
            if (
                prev.get("n_pages") == N_PAGES
                and prev.get("richness") == RICHNESS
                and prev.get("pkg_hash") == pkg_hash
                and set(prev.get("all_times", {})) == {str(SMALL), str(BIG)}
            ):
                results[SMALL]["times"].extend(prev["all_times"][str(SMALL)])
                results[BIG]["times"].extend(prev["all_times"][str(BIG)])
        except Exception:
            pass
    t_small = min(results[SMALL]["times"])
    t_big = min(results[BIG]["times"])
    eff = (t_small / t_big) / (BIG / SMALL)
    summary = {
        "stage": stage,
        "protocol": f"pinned local[{SMALL}] (taskset 0-{SMALL-1}) vs "
        f"pinned local[{BIG}] (taskset 0-{BIG-1}), same job+input, "
        f"interleaved, min of {REPEATS} repeats per session merged "
        "across sessions/epochs",
        "n_pages": N_PAGES,
        "richness": RICHNESS,
        "pkg_hash": pkg_hash,
        "n_out": results[BIG]["n_out"],
        "wall_small_s": t_small,
        "wall_big_s": t_big,
        "pages_per_sec_small": round(N_PAGES / t_small, 1),
        "pages_per_sec_big": round(N_PAGES / t_big, 1),
        "speedup": round(t_small / t_big, 3),
        "scaling_efficiency": round(eff, 3),
        "all_times": {str(k): v["times"] for k, v in results.items()},
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary, indent=2))


if __name__ == "__main__":
    main()
