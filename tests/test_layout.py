"""Physical layout of the partitioned writers: rows stay in their
promised within-file order, and a small pipeline run's graph write
and band join run on every core instead of one coalesced task."""

import glob
import os
import random
import re

import pyarrow.parquet as pq
import pytest

from serd_spark.operators.linking import candidate_pairs
from serd_spark.operators.materialize import (
    append_keyed_table,
    bucket_and_salt,
    compact_keyed_table,
    upsert_keyed_table,
    write_keyed_table,
    write_triples,
)
from serd_spark.plans.pipeline import (
    _SMALL_GRAPH_ROWS_PER_CORE,
    _commit_manifest,
    _small_graph_partitions,
    run_pipeline,
)
from serd_spark.sources.pages import synthesize_pages


def _triples(spark, n=1200):
    rng = random.Random(7)
    rows = [
        (f"http://e.example/{rng.randrange(300)}",
         f"http://p.example/{rng.randrange(5)}",
         f"o{rng.randrange(10_000)}")
        for _ in range(n)
    ]
    return spark.createDataFrame(rows, "s string, p string, o string").repartition(4)


def _keyed(spark, keys):
    keys = list(keys)
    random.Random(11).shuffle(keys)
    return spark.createDataFrame([(k, k * 3) for k in keys], "k long, v long")


def _write_graph(spark, path):
    write_triples(bucket_and_salt(_triples(spark), n_buckets=8), path)
    return ("s", "p", "o")


def _write_keyed(spark, path):
    write_keyed_table(_keyed(spark, range(400)), path, "k", n_buckets=4)
    return ("k",)


def _upsert_keyed(spark, path):
    write_keyed_table(_keyed(spark, range(0, 400, 2)), path, "k", n_buckets=4)
    upsert_keyed_table(spark, path, _keyed(spark, range(1, 400, 2)), "k",
                       n_buckets=4)
    return ("k",)


def _append_compact(spark, path):
    write_keyed_table(_keyed(spark, range(0, 400, 3)), path, "k", n_buckets=4)
    append_keyed_table(_keyed(spark, range(1, 400, 3)), path, "k", n_buckets=4)
    append_keyed_table(_keyed(spark, range(2, 400, 3)), path, "k", n_buckets=4)
    compact_keyed_table(spark, path, "k", max_files=1)
    return ("k",)


@pytest.mark.parametrize(
    "writer", [_write_graph, _write_keyed, _upsert_keyed, _append_compact],
    ids=["write_triples", "write_keyed_table", "upsert_keyed_table",
         "append_then_compact"],
)
def test_rows_sorted_within_each_file(spark, tmp_path, writer):
    path = str(tmp_path / "t")
    key = writer(spark, path)
    files = glob.glob(os.path.join(path, "*=*", "*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=list(key))
        rows = list(zip(*(t.column(c).to_pylist() for c in key)))
        assert len(rows) > 1, f
        assert rows == sorted(rows), f"{f} is not sorted by {key}"


def _parallelism(spark):
    n = spark.sparkContext.defaultParallelism
    assert n >= 2, "needs a multi-core session (the suite runs local[4])"
    return n


def _writer_tasks(path):
    return {
        re.match(r"part-(\d+)", os.path.basename(f)).group(1)
        for f in glob.glob(os.path.join(path, "*", "*.parquet"))
    }


def test_band_join_output_spans_every_core(spark):
    """The verify stage streams candidate_pairs' output: with an
    explicit count it comes out over that many partitions, not the one
    task AQE coalesces a tiny band shuffle into; without one the join
    stays AQE-managed."""
    n = _parallelism(spark)
    # 40 buckets of 3 entities each, over 2 bands
    bands = spark.createDataFrame(
        [(f"e{b}-{i}", b % 2, b) for b in range(40) for i in range(3)],
        "entity string, band int, band_hash long",
    )
    pairs = candidate_pairs(bands, dedup=False, partitions=n)
    assert pairs.count() == 40 * 3
    assert pairs.rdd.getNumPartitions() == n
    aqe = candidate_pairs(bands, dedup=False)
    assert aqe.count() == 40 * 3
    assert aqe.rdd.getNumPartitions() < n


def test_graph_write_uses_every_core(spark, tmp_path):
    n = _parallelism(spark)
    path = str(tmp_path / "g")
    write_triples(bucket_and_salt(_triples(spark), n_buckets=64), path,
                  partitions=n)
    assert len(_writer_tasks(path)) == n


def test_small_pipeline_run_uses_every_core(spark, tmp_path):
    """A tiny run_pipeline call is where AQE would collapse the graph
    write into one task: the pipeline asks for one partition per
    core."""
    n = _parallelism(spark)
    wh = str(tmp_path / "wh")
    run_pipeline(spark, synthesize_pages(spark, 30, seed=3), wh, "r1",
                 n_buckets=64, min_hub_refs=3, link=False)
    assert len(_writer_tasks(os.path.join(wh, "triples"))) == n


def test_large_graph_stays_aqe_managed(spark, tmp_path):
    """The explicit count is only for small graphs, sized from the
    manifests without a Spark job."""
    n = _parallelism(spark)
    wh = str(tmp_path / "wh")
    os.makedirs(os.path.join(wh, "manifests"))
    limit = n * _SMALL_GRAPH_ROWS_PER_CORE
    for run_id, rows in (("r1", limit // 2), ("r2", limit // 2 - 1)):
        _commit_manifest(wh, run_id, {"run_id": run_id, "triples_out": rows})
    assert _small_graph_partitions(spark, wh) == n
    _commit_manifest(wh, "r3", {"run_id": "r3", "triples_out": 1})
    assert _small_graph_partitions(spark, wh) is None
