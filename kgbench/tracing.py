"""Traced pass: the ``run_pipeline`` job re-driven layer by layer from
outside the package, plus Spark event-log folding.

The pass calls the pipeline's public functions in ``run_pipeline``'s
order and materializes at every layer boundary, so each layer's time
is its own. Every layer runs inside a span that also sets the Spark
job group; spans are kept in memory and the event log (written by the
benchmark's own session conf) is folded per job group after the
session stops. Nothing inside ``serd_spark/`` is touched.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans (name, start, end, parent) for one traced pass. A span
    also names the Spark job group, ``<prefix><span name>``, for every
    job started inside it."""

    sc: object
    prefix: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    def _group(self, name: str | None) -> None:
        gid = None if name is None else self.prefix + name
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        self.sc.setLocalProperty("spark.job.description", gid)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._group(name)
        t = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(name, t, time.perf_counter(), parent))
            self._stack.pop()
            self._group(parent)

    def total(self) -> float:
        """Duration of the outermost span."""
        return next(s.dur for s in self.spans if s.parent is None)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its child spans cover."""
        out = {s.name: s.dur for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.dur
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
            for s in self.spans
        ]


def default_arg(fn, name: str):
    """A parameter's default, so the traced pass runs the job with the
    same settings ``run_pipeline`` uses."""
    return inspect.signature(fn).parameters[name].default


def traced_pass(spark, tr: Tracer, pages, warehouse: str, run_id: str,
                link: bool) -> dict:
    """One ``run_pipeline`` job, layer by layer. Returns the layer
    counts; the spans land in ``tr``. The warehouse ends in the same
    state ``run_pipeline`` would leave (the caller checks that).

    The pass mirrors the composition of the seed's ``run_pipeline``:
    a full re-link of every visible triple through ``signatures``,
    ``candidate_pairs`` and ``verified_links``. Only the counts of
    those intermediates (``sig_rows``, ``candidates``) come from here;
    links, entities and components are read from the tables the
    untraced job wrote (``link_tables``)."""
    from pyspark.sql import functions as F

    from serd_spark.operators import linking, materialize
    from serd_spark.operators.extract import triples_only
    from serd_spark.plans import pipeline
    from serd_spark.sources.pages import latest_crawl

    rp = pipeline.run_pipeline
    threshold = default_arg(rp, "link_threshold")
    ext_path = os.path.join(warehouse, "extracted", f"snapshot={run_id}")
    lin_path = os.path.join(warehouse, "lineage", f"snapshot={run_id}")
    counts: dict = {}
    # checkpointed layer outputs, counted after the pass
    keep: dict = {}

    with tr.span("trace"):
        os.makedirs(os.path.join(warehouse, "manifests"), exist_ok=True)
        with tr.span("pages"):
            pages = latest_crawl(pages).localCheckpoint(eager=True)
        with tr.span("pipeline.resume"):
            done = pipeline.done_urls(spark, warehouse)
            if done is not None:
                pages = (
                    pages.join(done.withColumn("_skip", F.lit(True)), "url", "left")
                    .withColumn("_skip", F.coalesce("_skip", F.lit(False)))
                    .localCheckpoint(eager=True)
                )
        with tr.span("extract"):
            pipeline.extract_with_lineage(pages).write.mode("overwrite").parquet(
                ext_path
            )
        extracted = spark.read.parquet(ext_path)
        with tr.span("pipeline.commit"):
            pipeline.lineage_from_extracted(extracted).write.mode(
                "overwrite"
            ).parquet(lin_path)
            m = extracted.agg(
                F.sum((F.col("rec") == "d").cast("long")).alias("pages_in"),
                F.sum((F.col("rec") == "t").cast("long")).alias("triples"),
                F.sum((F.col("rec") == "e").cast("long")).alias("error_rows"),
                F.count_distinct(
                    F.when(F.col("rec") == "e", F.col("url"))
                ).alias("bad_docs"),
                F.sum((F.col("rec") == "s").cast("long")).alias("skipped"),
            ).first()
            pipeline._commit_manifest(
                warehouse,
                run_id,
                {
                    "run_id": run_id,
                    "pages_in": int(m["pages_in"] or 0),
                    "triples_out": int(m["triples"] or 0),
                    "bad_docs": int(m["bad_docs"] or 0),
                    "resumed_skipped": int(m["skipped"] or 0),
                },
            )
        counts.update({k: int(m[k] or 0) for k in m.asDict()})
        triples = triples_only(pipeline.read_extracted(spark, warehouse))

        with tr.span("linking"):
            with tr.span("linking.signatures"):
                if link:
                    sigs = linking.signatures(
                        linking.entity_names(triples)
                    ).localCheckpoint(eager=True)
                    keep["sig_rows"] = sigs
            with tr.span("linking.band_join"):
                if link:
                    pairs = linking.candidate_pairs(
                        linking.lsh_bands(sigs),
                        max_bucket=default_arg(linking.link_entities, "max_bucket"),
                        dedup=False,
                    ).localCheckpoint(eager=True)
                    keep["candidates"] = pairs
            with tr.span("linking.verify"):
                if link:
                    links = linking.verified_links(
                        pairs, sigs, threshold=threshold
                    ).localCheckpoint(eager=True)
            with tr.span("linking.cc"):
                if link:
                    entities = linking.connected_components(
                        links, pre_materialized=True
                    )
                    links.write.mode("overwrite").parquet(
                        os.path.join(warehouse, "links")
                    )
                    entities.write.mode("overwrite").parquet(
                        os.path.join(warehouse, "entities")
                    )
                    entities = spark.read.parquet(
                        os.path.join(warehouse, "entities")
                    )
            with tr.span("linking.canonical"):
                if link:
                    triples = linking.apply_canonical(
                        triples, entities
                    ).localCheckpoint(eager=True)

        with tr.span("materialize"):
            with tr.span("materialize.hubs"):
                hubs = materialize.detect_hubs(
                    triples, top_k=default_arg(rp, "hub_top_k")
                ).localCheckpoint(eager=True)
            with tr.span("materialize.write"):
                materialize.write_triples(
                    materialize.bucket_and_salt(
                        triples,
                        hubs,
                        n_buckets=default_arg(rp, "n_buckets"),
                        min_hub_refs=default_arg(rp, "min_hub_refs"),
                    ),
                    os.path.join(warehouse, "triples"),
                )

    # counts are read after the pass, outside every span
    for k in ("sig_rows", "candidates"):
        counts[k] = keep[k].count() if link else 0
    graph = spark.read.parquet(os.path.join(warehouse, "triples"))
    counts["graph_rows"] = graph.count()
    counts["salted_rows"] = graph.filter(F.col("salt") != 0).count()
    return counts


def link_tables(spark, warehouse: str) -> dict:
    """Rows of the ``links`` and ``entities`` tables a job committed,
    and the number of components (distinct canons)."""
    links = spark.read.parquet(os.path.join(warehouse, "links"))
    entities = spark.read.parquet(os.path.join(warehouse, "entities"))
    return {
        "links": links.count(),
        "entities": entities.count(),
        "components": entities.select("canon").distinct().count(),
    }


# ---------------------------------------------------------------- event log

def _empty() -> dict:
    return {"jobs": 0, "tasks": 0, "run_s": 0.0, "gc_s": 0.0, "spill_mb": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "stages": {}}


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Spark event log → per job group: jobs, tasks, executor run
    seconds, GC seconds, spill / shuffle-write / shuffle-read MB, and
    per-stage task run times (for skew). Read after the session
    stopped, so every event is flushed."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, _empty())

    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                             recursive=True))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    g(gid)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if gid is None or not tm:
                        continue
                    rec = g(gid)
                    run_s = tm.get("Executor Run Time", 0) / 1000
                    rec["tasks"] += 1
                    rec["run_s"] += run_s
                    rec["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                    rec["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0)
                    ) / 2**20
                    rec["shuffle_write_mb"] += (
                        tm.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        / 2**20
                    )
                    rd = tm.get("Shuffle Read Metrics", {})
                    rec["shuffle_read_mb"] += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                    ) / 2**20
                    rec["stages"].setdefault(ev["Stage ID"], []).append(run_s)
    return groups


def task_skew(rec: dict) -> float:
    """max / median task run time of the group's busiest stage."""
    if not rec or not rec["stages"]:
        return 0.0
    times = max(rec["stages"].values(), key=sum)
    med = statistics.median(times)
    return max(times) / med if med > 0 else 1.0


def merge(recs: list[dict | None]) -> dict:
    """Sum several groups' folded records (a span's subtree); a group
    that started no Spark job folds to None and adds nothing."""
    out = _empty()
    for r in recs:
        if r is None:
            continue
        for k in out:
            if k == "stages":
                out[k].update(r[k])
            else:
                out[k] += r[k]
    return out
