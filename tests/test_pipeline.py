"""Resumable pipeline: snapshot commit, lineage, idempotent resume
(SURVEY.md §7 M6; north_rule checkpoint requirement)."""

import os

import pytest

from pyspark.sql import functions as F

from serd_spark.plans.pipeline import (
    committed_runs,
    done_urls,
    run_pipeline,
)
from serd_spark.sources.pages import synthesize_pages


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def test_run_and_resume(spark, warehouse):
    pages1 = synthesize_pages(spark, 120, seed=42)
    r1 = run_pipeline(
        spark, pages1, warehouse, "r1", n_buckets=8, min_hub_refs=3
    )
    assert r1.triples_out > 0
    assert r1.bad_docs >= 0
    assert committed_runs(warehouse) == ["r1"]

    # graph table materialized, bucket-partitioned
    triples = spark.read.parquet(os.path.join(warehouse, "triples"))
    assert triples.count() > 0
    assert "subj_bucket" in triples.columns and "salt" in triples.columns

    # lineage has per-partition rows that add up
    lineage = spark.read.parquet(os.path.join(warehouse, "lineage/snapshot=r1"))
    agg = lineage.agg(F.sum("triples_out").alias("t")).collect()[0]
    assert agg["t"] == r1.triples_out

    # resume over a superset: only NEW pages are processed
    pages2 = synthesize_pages(spark, 200, seed=42)
    r2 = run_pipeline(
        spark, pages2, warehouse, "r2", n_buckets=8, min_hub_refs=3
    )
    assert r2.resumed_skipped > 0
    assert r2.pages_in < 200
    assert committed_runs(warehouse) == ["r1", "r2"]

    # running the same input again is a no-op (idempotent)
    r3 = run_pipeline(
        spark, pages2, warehouse, "r3", n_buckets=8, min_hub_refs=3
    )
    assert r3.pages_in == 0

    # final graph covers both snapshots' urls
    done = done_urls(spark, warehouse)
    full = synthesize_pages(spark, 200, seed=42).select("url").distinct()
    assert done.count() == full.count()


def test_uncommitted_snapshot_invisible(spark, warehouse, tmp_path):
    """A run that died before writing its manifest must be invisible
    to resume (commit-point semantics)."""
    pages = synthesize_pages(spark, 50, seed=42)
    run_pipeline(spark, pages, warehouse, "ok", n_buckets=4, min_hub_refs=3)
    # simulate a dead run: extracted data present, no manifest
    ext = os.path.join(warehouse, "extracted", "snapshot=dead")
    synthesize_pages(spark, 5, seed=1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "scratch")
    )  # unrelated write to prove nothing leaks
    os.makedirs(ext, exist_ok=True)
    assert committed_runs(warehouse) == ["ok"]
    d = done_urls(spark, warehouse)
    assert d is not None and d.count() > 0


def test_time_travel_reads(spark, tmp_path):
    from serd_spark.plans.pipeline import read_triples, run_pipeline
    from serd_spark.sources.pages import synthesize_pages

    wh = str(tmp_path / "wh_tt")
    pages1 = synthesize_pages(spark, 60, seed=42)
    r1 = run_pipeline(spark, pages1, wh, run_id="r0001")
    pages2 = synthesize_pages(spark, 120, seed=42)
    r2 = run_pipeline(spark, pages2, wh, run_id="r0002")
    assert r2.resumed_skipped > 0

    n_asof1 = read_triples(spark, wh, as_of_run="r0001").count()
    n_now = read_triples(spark, wh).count()
    assert n_asof1 == r1.triples_out
    assert n_now > n_asof1

    with pytest.raises(FileNotFoundError):
        read_triples(spark, str(tmp_path / "empty_wh"))


def test_pipeline_linking_stage(spark, tmp_path):
    """The full run writes links/ + entities/ and rewrites linked
    surface IRIs through their canonical form in the graph."""
    import os

    from serd_spark.plans.pipeline import run_pipeline
    from serd_spark.sources.pages import synthesize_pages

    wh = str(tmp_path / "wh_link")
    run_pipeline(
        spark,
        synthesize_pages(spark, 150, seed=42),
        wh,
        run_id="r1",
        link=True,
        link_threshold=0.6,
    )
    assert os.path.isdir(os.path.join(wh, "links"))
    entities = spark.read.parquet(os.path.join(wh, "entities"))
    graph = spark.read.parquet(os.path.join(wh, "triples"))
    n_links = spark.read.parquet(os.path.join(wh, "links")).count()
    assert n_links > 0 and entities.count() > 0
    # every non-canonical linked surface IRI is gone from subjects
    non_canon = entities.filter(F.col("entity") != F.col("canon")).select(
        F.col("entity").alias("s")
    )
    assert graph.join(non_canon, "s", "left_semi").count() == 0


def test_extract_raw_direct_syntax(spark, tmp_path):
    """extract_raw parses whole documents as a declared syntax — no
    HTML wrapping, so literal '</script>' inside a Turtle string
    survives (the old convert.py files-path limitation)."""
    from serd_spark.operators.extract import extract_raw, triples_only

    ttl = ('@prefix s: <http://schema.org/> .\n'
           '<#x> s:name "has a literal </script> inside" .\n')
    nt = '<http://e/1> <http://schema.org/name> "plain" .\n'
    docs = spark.createDataFrame(
        [("http://d/a.ttl", ttl, "turtle"), ("http://d/b.nt", nt, "ntriples")],
        ["url", "text", "syntax"],
    )
    out = triples_only(extract_raw(docs, lax=True)).collect()
    objs = {r.o for r in out}
    assert "has a literal </script> inside" in objs
    assert "plain" in objs
    assert all(r.syntax in ("turtle", "ntriples") for r in out)

    # bad content: lax records an error row, strict raises
    bad = spark.createDataFrame(
        [("http://d/bad.ttl", "@prefix broken", "turtle")],
        ["url", "text", "syntax"],
    )
    from serd_spark.operators.extract import errors_only, extract_raw as xr

    errs = errors_only(xr(bad, lax=True)).collect()
    assert len(errs) == 1
    import pytest

    with pytest.raises(Exception):
        xr(bad, lax=False).collect()


def test_convert_files_roundtrip(spark, tmp_path):
    """convert.py files path end-to-end: raw .ttl/.nt files →
    serialized NT documents with the script-literal intact."""
    import sys

    from jobs.convert import main as convert_main

    src = tmp_path / "files"
    src.mkdir()
    (src / "a.ttl").write_text(
        '@prefix s: <http://schema.org/> .\n'
        '<#x> s:name "</script> stays" .\n'
    )
    (src / "b.nt").write_text(
        '<http://e/1> <http://schema.org/name> "ok" .\n'
    )
    outdir = str(tmp_path / "out")
    convert_main([
        "--input", str(src), "--from", "files", "--to", "ntriples",
        "--out", outdir, "--lax",
    ])
    rows = spark.read.parquet(outdir).collect()
    assert len(rows) == 2
    all_nt = "\n".join(r.nt for r in rows)
    assert "</script> stays" in all_nt


def test_expire_snapshots_and_vacuum(spark, warehouse):
    from serd_spark.plans.pipeline import (
        expire_snapshots,
        read_triples,
        vacuum,
        visible_runs,
    )

    for k, n in (("r1", 60), ("r2", 120), ("r3", 160)):
        run_pipeline(
            spark,
            synthesize_pages(spark, n, seed=42),
            warehouse,
            k,
            n_buckets=4,
            min_hub_refs=3,
            link=False,
        )
    before = sorted(
        map(tuple, read_triples(spark, warehouse).collect())
    )
    as_of_r1 = sorted(
        map(tuple, read_triples(spark, warehouse, as_of_run="r1").collect())
    )

    base = expire_snapshots(spark, warehouse, keep_last=1)
    assert base == "r2-c"
    assert visible_runs(warehouse) == ["r2-c", "r3"]
    # full committed history still on disk until vacuum
    assert committed_runs(warehouse) == ["r1", "r2", "r2-c", "r3"]

    # the visible table is IDENTICAL after consolidation
    after = sorted(map(tuple, read_triples(spark, warehouse).collect()))
    assert after == before
    # as-of BEFORE the compaction still resolves (manifests retained)
    still_r1 = sorted(
        map(tuple, read_triples(spark, warehouse, as_of_run="r1").collect())
    )
    assert still_r1 == as_of_r1
    # the base participates in as-of at its own id
    base_view = sorted(
        map(
            tuple,
            read_triples(spark, warehouse, as_of_run="r2-c").collect(),
        )
    )
    assert base_view == sorted(
        map(
            tuple,
            read_triples(spark, warehouse, as_of_run="r2").collect(),
        )
    )

    # lineage traveled: totals over visible snapshots are unchanged
    lin = spark.read.parquet(
        os.path.join(warehouse, "lineage/snapshot=r2-c")
    )
    assert lin.agg(F.sum("triples_out")).collect()[0][0] > 0

    # resume sees the consolidated urls (no re-extraction)
    r4 = run_pipeline(
        spark,
        synthesize_pages(spark, 160, seed=42),
        warehouse,
        "r4",
        n_buckets=4,
        min_hub_refs=3,
        link=False,
    )
    assert r4.pages_in == 0

    gone = vacuum(warehouse)
    assert gone == ["r1", "r2"]
    assert committed_runs(warehouse) == ["r2-c", "r3", "r4"]
    final = sorted(map(tuple, read_triples(spark, warehouse).collect()))
    assert final == before
    # nothing left to expire at keep_last=3
    assert expire_snapshots(spark, warehouse, keep_last=3) is None


def test_corrupt_committed_manifest_raises(spark, warehouse):
    """ADVICE r4: a manifest that LISTS as committed but cannot be
    parsed is warehouse corruption — visible_runs must fail loudly,
    not silently resurrect runs an unreadable compaction replaced."""
    import pytest as _pytest

    from serd_spark.plans.pipeline import visible_runs

    run_pipeline(
        spark, synthesize_pages(spark, 40, seed=42), warehouse, "r1",
        n_buckets=4, min_hub_refs=3, link=False,
    )
    assert visible_runs(warehouse) == ["r1"]
    mpath = os.path.join(warehouse, "manifests", "r1.json")
    with open(mpath, "w") as f:
        f.write('{"run_id": "r1", "replaces": ["r0')  # truncated
    with _pytest.raises(RuntimeError, match="corrupt committed manifest"):
        visible_runs(warehouse)


def test_corrupt_manifest_raises_in_expire_and_vacuum(spark, warehouse):
    """Snapshot maintenance reads manifests under the same rule as
    visible_runs: an unreadable committed manifest is an error, never
    a run silently left out of the base snapshot's totals."""
    from serd_spark.plans.pipeline import expire_snapshots, vacuum

    for r in ("r1", "r2"):
        run_pipeline(
            spark, synthesize_pages(spark, 20, seed=int(r[1:])),
            warehouse, r, n_buckets=4, min_hub_refs=3, link=False,
        )
    with open(os.path.join(warehouse, "manifests", "r1.json"), "w") as f:
        f.write('{"run_id": "r1", "pages_in": 2')  # truncated
    with pytest.raises(RuntimeError, match="corrupt committed manifest"):
        expire_snapshots(spark, warehouse, keep_last=1)
    with pytest.raises(RuntimeError, match="corrupt committed manifest"):
        vacuum(warehouse)
    assert committed_runs(warehouse) == ["r1", "r2"]


def test_failed_manifest_write_leaves_no_temp_file(warehouse, monkeypatch):
    import json as _json

    from serd_spark.plans.pipeline import _commit_manifest

    mdir = os.path.join(warehouse, "manifests")
    os.makedirs(mdir)

    def boom(obj, f):
        f.write('{"run_id": ')
        raise OSError("disk full")

    monkeypatch.setattr(_json, "dump", boom)
    with pytest.raises(OSError, match="disk full"):
        _commit_manifest(warehouse, "rA", {"run_id": "rA"})
    assert os.listdir(mdir) == []
    assert committed_runs(warehouse) == []


def test_manifest_commit_is_atomic_rename(warehouse):
    """_commit_manifest publishes via temp + os.replace: mid-write
    temp files are never listed as committed, and the landed manifest
    parses whole."""
    import json as _json

    from serd_spark.plans.pipeline import (
        _commit_manifest,
        committed_runs,
    )

    os.makedirs(os.path.join(warehouse, "manifests"), exist_ok=True)
    # a stray temp file from a crashed writer must be invisible
    with open(
        os.path.join(warehouse, "manifests", ".rX.json.tmp.999"), "w"
    ) as f:
        f.write("{ half writ")
    assert committed_runs(warehouse) == []
    _commit_manifest(warehouse, "rA", {"run_id": "rA", "replaces": []})
    assert committed_runs(warehouse) == ["rA"]
    with open(os.path.join(warehouse, "manifests", "rA.json")) as f:
        assert _json.load(f)["run_id"] == "rA"
    # no temp droppings from the successful commit
    left = [
        f for f in os.listdir(os.path.join(warehouse, "manifests"))
        if ".tmp." in f and not f.startswith(".rX")
    ]
    assert left == []


def test_lone_surrogate_page_counts_as_bad_doc(spark, warehouse):
    """A lax run over a page whose JSON-LD island holds a lone
    surrogate escape completes and counts that page in bad_docs."""
    from datetime import datetime

    from serd_spark.sources.pages import PAGES_SCHEMA

    island = '<script type="application/ld+json">{}</script>'
    ts = datetime(2026, 1, 1)
    pages = spark.createDataFrame(
        [("http://bad.example/", ts,
          island.format('{"@id": "http://x/a", "http://x/p": "\\ud800"}').encode(),
          "", "en"),
         ("http://good.example/", ts,
          island.format('{"@id": "http://x/a", "http://x/p": "ok"}').encode(),
          "", "en")],
        PAGES_SCHEMA,
    )
    r = run_pipeline(spark, pages, warehouse, "r1", link=False, n_buckets=4)
    assert (r.pages_in, r.triples_out, r.bad_docs) == (2, 1, 1)
