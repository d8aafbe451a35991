"""A/B kg_roundtrip steady state between two repo trees (VERDICT r3
item 4). Runs N back-to-back reps of kg_roundtrip in ONE session per
tree with the exact bench.py conf; prints per-rep seconds plus the
result row (n_lines/n_roundtrip) so a data-volume change is visible
next to a speed change.

Usage: python tools/ab_roundtrip.py TREE_DIR [reps] [cpus]
"""

import os
import sys
import time

# this script's own helper (tools/ is sys.path[0]): the tree under test
# may predate it
from hostmem import driver_mem

tree = os.path.abspath(sys.argv[1])
reps = int(sys.argv[2]) if len(sys.argv) > 2 else 6
cpus = sys.argv[3] if len(sys.argv) > 3 else "32"
sys.path.insert(0, tree)
os.chdir(tree)

driver_mem()

import __spark_entry__ as entrymod  # noqa: E402
from serd_spark.session import get_spark  # noqa: E402

spark = get_spark(
    app_name="ab-roundtrip",
    master=f"local[{cpus}]",
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
spark.range(1000).selectExpr("sum(id)").collect()

times = []
row = None
for i in range(reps):
    t0 = time.time()
    df = entrymod.kg_roundtrip(spark, "/root/testdata/sf0.1")
    row = df.collect()[0]
    times.append(round(time.time() - t0, 3))
print(
    {
        "tree": tree,
        "reps": times,
        "min": min(times),
        "steady_min": min(times[1:]),
        "n_lines": row["n_lines"],
        "n_roundtrip": row["n_roundtrip"],
    }
)
spark.stop()
