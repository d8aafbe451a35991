"""Graph materialization: subject-hash bucketing + explicit hub-entity
skew salting (``BASELINE.json:north_star`` "partitioned … triple
tables bucketed by subject hash with explicit skew-salting for hub
entities"; SURVEY.md §4.2).

Design at 10^12 documents:

- ``subj_bucket = pmod(xxhash64(s), B)`` gives subject-local storage:
  every downstream per-entity operation (entity linking candidate
  generation, star-query assembly, incremental merge) reads one
  bucket instead of the whole table, and two tables bucketed the
  same way join without a shuffle.
- hub entities (the handful of IRIs referenced by a large fraction
  of the web) would make single buckets/tasks giant. We detect them
  with one cheap aggregation (top-K by reference count — K is tiny),
  broadcast the hub set, and give hub rows a ``salt`` derived from
  the *other* columns so their rows spread over S sub-buckets.
  Non-hub rows get salt 0, so salting is a no-op for 99.99% of data.
- all columns of the salt/bucket are pure functions of row content —
  deterministic under task retries.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64
DEFAULT_SALTS = 16


def detect_hubs(triples: DataFrame, top_k: int = 64) -> DataFrame:
    """Top-K most-referenced subjects → tiny hub DataFrame (collect →
    broadcast is fine: K rows). The count agg has map-side partial
    aggregation; AQE coalesces the shuffle."""
    return (
        triples.groupBy("s")
        .agg(F.count(F.lit(1)).alias("ref_count"))
        # tie-break on s: limit() over equal counts is otherwise
        # nondeterministic across runs/retries
        .orderBy(F.desc("ref_count"), F.col("s"))
        .limit(top_k)
        .select("s", "ref_count")
    )


def bucket_and_salt(
    triples: DataFrame,
    hubs: DataFrame | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    n_salts: int = DEFAULT_SALTS,
    min_hub_refs: int = 10_000,
) -> DataFrame:
    """Add ``subj_bucket`` and ``salt`` columns.

    ``hubs`` is broadcast (tiny); subjects whose reference count
    exceeds ``min_hub_refs`` get a content-derived salt, everything
    else salt 0.
    """
    out = triples.withColumn(
        "subj_bucket",
        F.pmod(F.xxhash64(F.col("s")), F.lit(n_buckets)).cast("int"),
    )
    if hubs is None:
        return out.withColumn("salt", F.lit(0).cast("tinyint"))
    hub_set = F.broadcast(
        hubs.filter(F.col("ref_count") >= min_hub_refs).select(
            F.col("s").alias("_hub_s")
        )
    )
    out = out.join(hub_set, out["s"] == hub_set["_hub_s"], "left")
    return out.withColumn(
        "salt",
        F.when(
            F.col("_hub_s").isNotNull(),
            F.pmod(F.xxhash64("p", "o", "url"), F.lit(n_salts)).cast("tinyint"),
        ).otherwise(F.lit(0).cast("tinyint")),
    ).drop("_hub_s")


def write_triples(
    triples_with_bucket: DataFrame,
    path: str,
    mode: str = "overwrite",
    partitions: int | None = None,
) -> None:
    """Materialize: directory-partitioned by subject bucket (the
    parquet stand-in for an Iceberg bucket transform — SURVEY.md §7
    risk R4), sorted within partitions by subject so per-entity scans
    are contiguous and RLE/dictionary encoding bites.

    The sort leads with the ``partitionBy`` column: the planned write
    needs rows ordered by ``subj_bucket`` and, when the child's order
    does not start with it, replaces the user sort with a
    ``subj_bucket``-only one.

    ``partitions=None`` (default) leaves the shuffle to AQE. AQE
    coalesces a small graph into ONE write task (measured: 7,500 rows
    into 64 bucket dirs, 1.02-1.23 s from one task vs 0.59-0.73 s
    from four), so a caller that knows its graph is small passes a
    count (run_pipeline: the session's ``defaultParallelism``)."""
    if partitions is None:
        shuffled = triples_with_bucket.repartition("subj_bucket", "salt")
    else:
        shuffled = triples_with_bucket.repartition(
            partitions, "subj_bucket", "salt"
        )
    (
        shuffled.sortWithinPartitions("subj_bucket", "s", "p", "o")
        .write.mode(mode)
        .partitionBy("subj_bucket")
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Catalog-registered Hive-style bucketed table (``bucketBy`` +
    ``sortBy`` + ``saveAsTable``): unlike the directory-bucketed
    parquet above, the bucketing METADATA lives in the catalog, so
    Spark's planner proves co-location and elides the shuffle when two
    tables bucketed on the same key with the same count are joined —
    the dominant-join killer at 100 TB (a fact table joined on its
    bucket key shuffles ZERO bytes; only the probe side's map-side
    work remains). ``path`` makes it an external table (default:
    session warehouse dir)."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def zorder_key(x, y, bits: int = 16):
    """Morton / Z-order key of two integer columns — bit-interleaved
    so rows close in BOTH dimensions get close keys. ``bits`` low
    bits of each input are used after clamping to [0, 2^bits-1]
    (negative or overflowing values saturate, they never wrap into a
    foreign cell). The expression is a pure shift/mask fold — fully
    whole-stage-codegen, no UDF — and is mirrored verbatim by the
    DuckDB oracle (``__spark_entry__._zorder_sql_expr``)."""
    lim = F.lit((1 << bits) - 1)

    def clamp(c):
        return F.least(F.greatest(c.cast("long"), F.lit(0).cast("long")), lim)

    xs, ys = clamp(x), clamp(y)
    key = F.lit(0).cast("long")
    one = F.lit(1)
    for b in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(xs, b).bitwiseAND(one), 2 * b + 1)
        )
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(ys, b).bitwiseAND(one), 2 * b)
        )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Z-order-clustered parquet layout: range-partition on the
    Morton key, sort within partitions, write.

    Why this matters at 100 TB: parquet scans skip files/row-groups
    whose column min/max stats exclude the predicate — but a layout
    sorted by ONE column gives tight stats on that column only; every
    file spans the full range of the other, so predicates on it skip
    nothing. A contiguous Z-range is a small bounding box in BOTH
    dimensions, so point/range predicates on EITHER column prune most
    files (the Delta/Iceberg OPTIMIZE ZORDER design, built here from
    primitives: repartitionByRange → sortWithinPartitions → write).
    The key never lands in the data — layout is physical only."""
    keyed = df.withColumn("_z", zorder_key(F.col(x_col), F.col(y_col), bits))
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def _key_bucket(col, n_buckets: int):
    """md5-hex-prefix bucket in [0, n_buckets) — the repo's
    engine-neutral hash (graph._md5_bucket), used for STORAGE layout
    here so the cross-engine oracle can recompute bucket membership."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("long") % F.lit(int(n_buckets)).cast("long")
    ).cast("int")


def _write_kbuckets(df: DataFrame, path: str, key: str, mode: str) -> None:
    """The one keyed-table write: each ``kbucket``'s rows in one task,
    sorted by key (the sort leads with the ``partitionBy`` column —
    see ``write_triples``)."""
    (
        df.repartition("kbucket")
        .sortWithinPartitions("kbucket", key)
        .write.mode(mode)
        .partitionBy("kbucket")
        .parquet(path)
    )


@contextmanager
def _dynamic_overwrite(spark):
    """Overwrite only the partitions present in the write, then restore
    the session's previous ``partitionOverwriteMode``."""
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(mode_key, prev)


def write_keyed_table(
    df: DataFrame, path: str, key: str, n_buckets: int = 64
) -> None:
    """Directory-partitioned keyed table (``kbucket=…`` dirs, rows
    sorted by key within files) — the layout ``upsert_keyed_table``
    merges into. Buckets are md5-derived from the key: a pure
    function of row content, deterministic under retries, and
    recomputable by any engine reading the table."""
    _write_kbuckets(
        df.withColumn("kbucket", _key_bucket(F.col(key), n_buckets)),
        path, key, "overwrite",
    )


def upsert_keyed_table(
    spark,
    path: str,
    updates: DataFrame,
    key: str,
    n_buckets: int = 64,
    deletes: DataFrame | None = None,
) -> dict:
    """Delta-sized MERGE into a keyed table: update rows replace their
    key wholesale, new keys insert, ``deletes`` (a one-column frame of
    keys) removes — and only the bucket partitions actually touched by
    the delta are read or rewritten.

    Why this is the 100 TB shape: the merge cost is O(delta +
    affected-bucket data), NOT O(table). Affected bucket ids come
    from one distinct over the delta (≤ n_buckets ints on the
    driver); the existing-rows scan prunes to those directories
    (partition filter on ``kbucket``); dynamic partition overwrite
    rewrites only those directories, leaving every other bucket's
    files untouched (byte-identical — the unit test asserts it).
    The merged delta is localCheckpointed before the write because
    source and target are the same path — the checkpoint is the
    parquet stand-in for Iceberg's snapshot swap, and it holds only
    the affected buckets, never the table. If a key appears in both
    ``updates`` and ``deletes``, the update wins (deletes filter the
    EXISTING side only).

    Returns {"buckets_touched", "rows_written"}.
    """
    up = updates.withColumn(
        "kbucket", _key_bucket(F.col(key), n_buckets)
    ).localCheckpoint(eager=True)
    affected = sorted(
        r.kbucket for r in up.select("kbucket").distinct().collect()
    )
    if deletes is not None:
        del_keys = deletes.select(key).distinct().localCheckpoint(eager=True)
        affected = sorted(
            set(affected)
            | {
                r.kbucket
                for r in del_keys.select(
                    _key_bucket(F.col(key), n_buckets).alias("kbucket")
                )
                .distinct()
                .collect()
            }
        )
    existing = spark.read.parquet(path).filter(F.col("kbucket").isin(affected))
    survivors = existing.join(up.select(key).distinct(), key, "left_anti")
    if deletes is not None:
        survivors = survivors.join(del_keys, key, "left_anti")
    merged = up.unionByName(survivors.select(*up.columns)).localCheckpoint(
        eager=True
    )
    n_rows = merged.count()

    with _dynamic_overwrite(spark):
        _write_kbuckets(merged, path, key, "overwrite")

    # dynamic overwrite only replaces partitions PRESENT in the write:
    # a bucket whose rows were all deleted produces no output rows, so
    # its stale directory would silently survive — drop those
    # explicitly (Hadoop FS API, so any DFS the table lives on works)
    present = {
        r.kbucket for r in merged.select("kbucket").distinct().collect()
    }
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for b in set(affected) - present:
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/kbucket={b}")
        p.getFileSystem(hconf).delete(p, True)
    return {"buckets_touched": len(affected), "rows_written": n_rows}


def append_keyed_table(
    df: DataFrame, path: str, key: str, n_buckets: int = 64
) -> None:
    """Append a delta into the keyed layout WITHOUT merging (the
    streaming / micro-batch ingest path: cheap now, merged or
    compacted later). Each append adds files to its bucket dirs —
    that fragmentation is what ``compact_keyed_table`` repairs."""
    _write_kbuckets(
        df.withColumn("kbucket", _key_bucket(F.col(key), n_buckets)),
        path, key, "append",
    )


def compact_keyed_table(
    spark, path: str, key: str, max_files: int = 1
) -> dict:
    """Small-file compaction, delta-sized like the merge: rewrite
    ONLY the bucket partitions holding more than ``max_files``
    parquet files (each down to one sorted file), leave healthy
    buckets byte-untouched.

    Why it matters at 100 TB: micro-batch appends and per-delta
    merges each add a file per touched bucket; scan cost degrades
    with file count (task scheduling, footer reads, lost sort
    locality), so table maintenance must run forever — and a
    maintenance pass that rewrites the whole table is a non-starter.
    File counts come from one driver-side directory listing
    (n_buckets entries via the Hadoop FS API — any DFS); the data
    job reads and rewrites only fragmented buckets. Content is
    preserved exactly (the oracle certifies it); the localCheckpoint
    before the overwrite is the same read-own-input guard as the
    merge.

    Returns {"buckets_compacted", "files_before", "rows_rewritten"}.
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)
    fragged: list[int] = []
    files_before = 0
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("kbucket=")):
            continue
        n_files = sum(
            1
            for f in fs.listStatus(st.getPath())
            if f.getPath().getName().endswith(".parquet")
        )
        if n_files > max_files:
            fragged.append(int(name.split("=", 1)[1]))
            files_before += n_files
    if not fragged:
        return {
            "buckets_compacted": 0, "files_before": 0, "rows_rewritten": 0
        }
    merged = (
        spark.read.parquet(path)
        .filter(F.col("kbucket").isin(sorted(fragged)))
        .localCheckpoint(eager=True)
    )
    n_rows = merged.count()
    with _dynamic_overwrite(spark):
        _write_kbuckets(merged, path, key, "overwrite")
    return {
        "buckets_compacted": len(fragged),
        "files_before": files_before,
        "rows_rewritten": n_rows,
    }
