"""Checkpoint-resumable KG-construction pipeline
(``BASELINE.json:north_rule``: "resumable from checkpoint with
per-partition lineage + metrics").

Warehouse layout (plain parquet emulating Iceberg snapshot commit
semantics — SURVEY.md §7 risk R4; the Iceberg runtime jar is not in
this sandbox, the same interface maps 1:1 onto
``df.writeTo(...).append()`` + snapshot metadata when it is):

```
<warehouse>/
  extracted/snapshot=<run_id>/   combined triples+errors parquet
  lineage/snapshot=<run_id>/     per-partition metrics parquet
  manifests/<run_id>.json        commit point — written LAST
  triples/                       bucketed+salted graph (rebuilt per run
                                 from all committed snapshots)
```

A snapshot is visible iff its manifest exists, so a run killed
mid-write leaves no partial state behind (re-running simply
reprocesses its pages). Resume = anti-join of pages against the urls
of committed snapshots: idempotent because every emitted value is a
pure function of (url, page bytes) (SURVEY.md §4.2-6).

Per-partition lineage (≙ the reference's error-sink bookkeeping, at
cluster granularity): input rows, triples out, bad docs, wall ms per
input partition, captured inside the extraction pass itself — no
second scan.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serd_spark.operators.extract import (
    _EXTRACT_WITH_PART,
    _extract,
    triples_only,
)
from serd_spark.operators.materialize import (
    bucket_and_salt,
    detect_hubs,
    write_triples,
)
from serd_spark.sources.pages import latest_crawl

@dataclass
class RunResult:
    run_id: str
    pages_in: int
    triples_out: int
    bad_docs: int
    wall_s: float
    resumed_skipped: int


def _manifest_path(warehouse: str, run_id: str) -> str:
    return os.path.join(warehouse, "manifests", f"{run_id}.json")


def _commit_manifest(warehouse: str, run_id: str, obj: dict) -> None:
    """Atomically publish a manifest: write to a dot-prefixed temp file
    (invisible to ``committed_runs``, which lists only ``*.json``) and
    ``os.replace`` into place. A crash mid-write can therefore never
    leave a half-written manifest that ``committed_runs`` treats as
    committed — the commit point is the rename, which POSIX guarantees
    atomic on one filesystem. The ``manifests/`` directory is fsynced
    after the rename so the commit itself survives a crash, and a
    write that throws removes its temp file."""
    final = _manifest_path(warehouse, run_id)
    mdir = os.path.dirname(final)
    tmp = os.path.join(mdir, f".{run_id}.json.tmp.{os.getpid()}")
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)
    except BaseException:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
        raise
    dfd = os.open(mdir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _read_manifest(warehouse: str, run_id: str) -> dict:
    """A committed manifest. One that LISTS as committed but cannot be
    read is warehouse corruption — atomic publication
    (``_commit_manifest``) means it can only come from post-commit
    damage — so every reader fails loudly instead of guessing."""
    try:
        with open(_manifest_path(warehouse, run_id)) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError) as e:
        raise RuntimeError(
            f"corrupt committed manifest for run {run_id!r}: {e}"
        ) from e


def _read_snapshots(
    spark: SparkSession, warehouse: str, runs: list[str]
) -> DataFrame:
    """Extracted snapshots under their known schema: no schema
    inference, which would cost one Spark job per read."""
    return spark.read.schema(_EXTRACT_WITH_PART).parquet(
        *[os.path.join(warehouse, "extracted", f"snapshot={r}") for r in runs]
    )


# Graph rows per core below which run_pipeline asks for one shuffle
# partition per core in the band join and the graph write. Far below
# it AQE coalesces those shuffles into one task (their bytes are under
# the session's 64k minPartitionSize per core); near and above it AQE
# already yields about one partition per core, and keeps its
# skew-join splitting, so larger graphs stay AQE-managed.
_SMALL_GRAPH_ROWS_PER_CORE = 65_536


def _small_graph_partitions(spark: SparkSession, warehouse: str) -> int | None:
    """``defaultParallelism`` if the visible graph is small enough for
    AQE to coalesce its shuffles into too few tasks, else None. The
    size is the visible manifests' ``triples_out``: no Spark job."""
    n = spark.sparkContext.defaultParallelism
    rows = sum(
        int(_read_manifest(warehouse, r).get("triples_out", 0))
        for r in visible_runs(warehouse)
    )
    return n if rows < n * _SMALL_GRAPH_ROWS_PER_CORE else None


def committed_runs(warehouse: str) -> list[str]:
    mdir = os.path.join(warehouse, "manifests")
    if not os.path.isdir(mdir):
        return []
    return sorted(
        f[: -len(".json")] for f in os.listdir(mdir) if f.endswith(".json")
    )


def visible_runs(
    warehouse: str, as_of_run: str | None = None
) -> list[str]:
    """Committed snapshots minus those REPLACED by a later committed
    compaction manifest (``expire_snapshots``) — the Iceberg snapshot
    model: a base manifest's ``replaces`` list supersedes old runs the
    instant its one manifest file lands, so replace-then-vacuum needs
    no multi-file atomicity. ``as_of_run`` time-travels: only
    manifests committed at-or-before it count, including for
    replacement (a compaction committed later cannot hide runs from
    an earlier as-of view)."""
    runs = committed_runs(warehouse)
    if as_of_run is not None:
        runs = [r for r in runs if r <= as_of_run]
    # an unreadable manifest raises: treating it as non-replacing
    # would resurrect every run it replaces alongside the base
    # snapshot (silent row duplication)
    replaced: set[str] = set()
    for r in runs:
        replaced.update(_read_manifest(warehouse, r).get("replaces", []))
    return [r for r in runs if r not in replaced]


def done_urls(spark: SparkSession, warehouse: str) -> DataFrame | None:
    """Urls already processed by committed snapshots (the resume
    high-water mark)."""
    runs = visible_runs(warehouse)
    if not runs:
        return None
    return (
        _read_snapshots(spark, warehouse, runs)
        .select("url")
        # per-partition lineage marker rows (rec='p') carry no url
        .filter(F.col("url").isNotNull())
        .distinct()
    )


def extract_with_lineage(pages: DataFrame, lax: bool = True) -> DataFrame:
    """Extraction + per-partition lineage counters in ONE pass: the
    output carries ``part_id`` and per-partition metrics rows are
    derived from it by aggregation (no second scan of the 100 TB
    input).

    Canonicalization and quad dedup are FUSED into this stage
    (extract.py: one Python crossing instead of three; dedup is
    document-local because its key includes url, and urls are unique
    here — latest_crawl ran at ingest).

    If ``pages`` carries a boolean ``_skip`` column (set by the resume
    left-join against committed urls), skipped pages bypass parsing
    and emit a single ``rec='s'`` marker row — the resume-skip count
    then falls out of the SAME metrics aggregation as everything else,
    instead of two extra full input scans just to diff counts.

    Each partition ends with one ``rec='p'`` row whose ``wall_ms`` is
    the task's ACTUAL extraction wall time, measured inside the pass:
    that is what makes the lineage table useful for finding slow or
    skewed partitions instead of a run-global constant."""
    if "_skip" in pages.columns:
        # null the payload JVM-side for skipped rows: a mostly-done
        # resume must not ship already-committed page bytes across the
        # Arrow boundary just to hit `if skip:` in Python
        src = pages.select(
            "url",
            F.when(F.col("_skip"), F.lit(None))
            .otherwise(F.col("html"))
            .alias("html"),
            "_skip",
        )
    else:
        src = pages.select("url", "html")
    return _extract(src, lax, canonicalize=True, dedup=True, lineage=True)


def lineage_from_extracted(extracted: DataFrame) -> DataFrame:
    return extracted.groupBy(F.col("part_id").alias("partition_id")).agg(
        F.sum(F.when(F.col("rec") == "d", 1).otherwise(0)).alias("input_rows"),
        F.sum(F.when(F.col("rec") == "t", 1).otherwise(0)).alias("triples_out"),
        F.count_distinct(
            F.when(F.col("rec") == "e", F.col("url"))
        ).alias("bad_docs"),
        F.max("wall_ms").alias("wall_ms"),
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    warehouse: str,
    run_id: str,
    lax: bool = True,
    n_buckets: int = 64,
    hub_top_k: int = 64,
    min_hub_refs: int = 10_000,
    resume: bool = True,
    link: bool = True,
    link_threshold: float = 0.7,
) -> RunResult:
    """One resumable pipeline run: ingest-dedup → extract (with
    canonicalize+dedup fused, +lineage) → snapshot commit → minhash
    entity linking (links/ + entities/ tables, canonical surface-IRI
    rewrite) → bucket/salt → materialize graph."""
    t0 = time.time()
    os.makedirs(os.path.join(warehouse, "manifests"), exist_ok=True)

    pages = latest_crawl(pages)
    if resume:
        done = done_urls(spark, warehouse)
        if done is not None:
            # left-join marker instead of anti-join + two count
            # actions: skipped pages flow through the extraction pass
            # as cheap 's' marker rows, so the skip count comes from
            # the same single metrics aggregation as everything else
            pages = pages.join(
                done.withColumn("_skip", F.lit(True)), "url", "left"
            ).withColumn("_skip", F.coalesce("_skip", F.lit(False)))

    # --- extraction pass (snapshot-scoped) -----------------------------
    ext_path = os.path.join(warehouse, "extracted", f"snapshot={run_id}")
    extracted = extract_with_lineage(pages, lax=lax)
    extracted.write.mode("overwrite").parquet(ext_path)
    extracted = _read_snapshots(spark, warehouse, [run_id])

    lineage = lineage_from_extracted(extracted)
    lin_path = os.path.join(warehouse, "lineage", f"snapshot={run_id}")
    lineage.write.mode("overwrite").parquet(lin_path)

    # ALL run metrics in ONE job over the (snapshot-local, already
    # column-pruned) parquet — previously 3 separate count actions
    # plus 2 input-table counts for the resume diff
    m = extracted.agg(
        F.sum((F.col("rec") == "d").cast("long")).alias("pages_in"),
        F.sum((F.col("rec") == "t").cast("long")).alias("triples"),
        F.count_distinct(
            F.when(F.col("rec") == "e", F.col("url"))
        ).alias("bad_docs"),
        F.sum((F.col("rec") == "s").cast("long")).alias("skipped"),
    ).first()
    pages_in = int(m["pages_in"] or 0)
    triples_n = int(m["triples"] or 0)
    bad_docs = int(m["bad_docs"] or 0)
    skipped = int(m["skipped"] or 0)

    # commit point: manifest published (atomic rename) only after
    # data+lineage landed
    _commit_manifest(
        warehouse,
        run_id,
        {
            "run_id": run_id,
            "pages_in": pages_in,
            "triples_out": triples_n,
            "bad_docs": bad_docs,
            "resumed_skipped": skipped,
        },
    )

    # --- graph materialization over all VISIBLE snapshots --------------
    # canonicalize+dedup already fused into extraction; snapshots are
    # url-disjoint (resume anti-join), so no cross-snapshot dedup is
    # needed either
    triples = read_triples(spark, warehouse)
    partitions = _small_graph_partitions(spark, warehouse)

    if link:
        # minhash entity linking across ALL documents (north star):
        # links + canonical-entity map land as warehouse tables and
        # the graph is rewritten through the canonical surface IRIs
        from serd_spark.operators.linking import apply_canonical, link_entities

        links, entities = link_entities(
            triples, threshold=link_threshold, partitions=partitions
        )
        links.write.mode("overwrite").parquet(
            os.path.join(warehouse, "links")
        )
        entities.write.mode("overwrite").parquet(
            os.path.join(warehouse, "entities")
        )
        # the in-memory frame: a read-back of the table costs a job
        triples = apply_canonical(triples, entities)

    hubs = detect_hubs(triples, top_k=hub_top_k)
    bucketed = bucket_and_salt(
        triples, hubs, n_buckets=n_buckets, min_hub_refs=min_hub_refs
    )
    write_triples(
        bucketed, os.path.join(warehouse, "triples"), partitions=partitions
    )

    return RunResult(
        run_id=run_id,
        pages_in=pages_in,
        triples_out=triples_n,
        bad_docs=bad_docs,
        wall_s=time.time() - t0,
        resumed_skipped=skipped,
    )


def read_extracted(
    spark: SparkSession, warehouse: str, as_of_run: str | None = None
) -> DataFrame:
    """Snapshot-consistent read of the extracted table — the
    time-travel semantics of an Iceberg `VERSION AS OF` on this
    warehouse's manifest layout: only snapshots whose manifest was
    committed at-or-before ``as_of_run`` (run ids sort
    chronologically) are visible."""
    runs = visible_runs(warehouse, as_of_run)
    if not runs:
        raise FileNotFoundError(f"no committed snapshots in {warehouse}")
    return _read_snapshots(spark, warehouse, runs)


def read_triples(
    spark: SparkSession, warehouse: str, as_of_run: str | None = None
) -> DataFrame:
    """Triples as of a committed snapshot (time travel)."""
    return triples_only(read_extracted(spark, warehouse, as_of_run))


def expire_snapshots(
    spark: SparkSession, warehouse: str, keep_last: int
) -> str | None:
    """Snapshot expiration with data preservation — the Iceberg
    rewrite-then-replace maintenance op: the oldest visible snapshots
    (all but the newest ``keep_last``) are consolidated into ONE base
    snapshot whose manifest lists them in ``replaces``. The visible
    table is IDENTICAL before and after (extracted rows and lineage
    both travel to the base); what's traded away is per-run time
    travel into the replaced range, once ``vacuum`` reclaims it.

    Crash safety inherits the warehouse's single-commit-point rule:
    base data and lineage land first, the base manifest is written
    LAST — a crash before that leaves only orphan base files (invisible
    and harmless, re-written by a retry); the moment the manifest
    lands, the old runs are superseded atomically. The replaced runs'
    files stay on disk for as-of reads until ``vacuum``.

    Returns the base run id, or None when there is nothing to expire.
    The base id is ``<newest-replaced>-c`` — run ids are equal-width
    timestamps, so it sorts after everything it replaces and before
    every kept run, keeping as-of semantics monotone.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    runs = visible_runs(warehouse)
    if len(runs) <= keep_last:
        return None
    old = runs[: len(runs) - keep_last]
    base_id = old[-1] + "-c"

    _read_snapshots(spark, warehouse, old).write.mode("overwrite").parquet(
        os.path.join(warehouse, "extracted", f"snapshot={base_id}")
    )
    lin_paths = [
        p
        for r in old
        if os.path.isdir(
            p := os.path.join(warehouse, "lineage", f"snapshot={r}")
        )
    ]
    if lin_paths:
        spark.read.parquet(*lin_paths).write.mode("overwrite").parquet(
            os.path.join(warehouse, "lineage", f"snapshot={base_id}")
        )

    totals = {"pages_in": 0, "triples_out": 0, "bad_docs": 0}
    for r in old:
        m = _read_manifest(warehouse, r)
        for k in totals:
            totals[k] += int(m.get(k, 0))
    # commit point — published (atomic rename) only after base data +
    # lineage landed; a crash mid-write can never leave a truncated
    # manifest that makes base AND replaced runs visible together
    _commit_manifest(
        warehouse, base_id, {"run_id": base_id, "replaces": old, **totals}
    )
    return base_id


def vacuum(warehouse: str) -> list[str]:
    """Reclaim replaced snapshots: delete the data, lineage and
    manifest of every run superseded by a committed compaction
    manifest. Irreversible — as-of reads into the replaced range stop
    resolving (the documented Iceberg expire-snapshots trade). Safe
    to run any time: only runs whose replacement is already committed
    are touched."""
    import shutil

    runs = committed_runs(warehouse)
    replaced: set[str] = set()
    for r in runs:
        replaced.update(_read_manifest(warehouse, r).get("replaces", []))
    gone = sorted(replaced & set(runs))
    for r in gone:
        for sub in ("extracted", "lineage"):
            shutil.rmtree(
                os.path.join(warehouse, sub, f"snapshot={r}"),
                ignore_errors=True,
            )
        try:
            os.remove(_manifest_path(warehouse, r))
        except OSError:
            pass
    return gone
