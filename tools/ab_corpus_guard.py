"""Interleaved A/B of the corpus _min_parallelism guard: times the
four corpus queries at sf0.1 with the guard ON vs OFF (monkeypatched
to identity), min-of-N per config, interleaved to wash out epoch
noise. One-off verification tool."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from hostmem import driver_mem  # noqa: E402
from serd_spark.operators import corpus  # noqa: E402
from serd_spark.session import get_spark  # noqa: E402

driver_mem()

QUERIES = ["q_unigram_lm", "q_span_dedup", "q_tfidf", "q_keyword_search"]
REPS = 4


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="ab-corpus-guard",
        master="local[32]",
        extra_conf={
            "spark.local.dir": "/dev/shm/spark-local"
            if os.path.isdir("/dev/shm")
            else "/tmp",
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    real_guard = corpus._min_parallelism
    best: dict[tuple[str, str], float] = {}
    for rep in range(REPS):
        for mode in ("on", "off"):
            corpus._min_parallelism = real_guard if mode == "on" else (lambda d: d)
            for name in QUERIES:
                t0 = time.time()
                qs[name](spark, sf_dir).count()
                dt = time.time() - t0
                key = (name, mode)
                best[key] = min(best.get(key, 1e9), dt)
                print(f"rep{rep} {name} guard={mode}: {dt:.2f}s", flush=True)
    corpus._min_parallelism = real_guard

    print("\n=== min-of-%d ===" % REPS)
    for name in QUERIES:
        on, off = best[(name, "on")], best[(name, "off")]
        print(f"{name}: on={on:.2f}s off={off:.2f}s delta={off - on:+.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
