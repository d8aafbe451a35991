"""Correctness checks on a warehouse a ``run_pipeline`` job left behind.

Every check returns a list of failure messages (empty = pass). They
run outside the timed region and read the warehouse only through the
package's public readers and plain parquet scans.
"""

from __future__ import annotations

import os

SAMPLED_LINKS = 24


def _read(spark, warehouse: str, *parts: str):
    return spark.read.parquet(os.path.join(warehouse, *parts))


def digest(df) -> tuple[int, str]:
    """Row count plus an order-independent content digest: the sum of
    per-row xxhash64 over every column, in exact decimal arithmetic.
    ``part_id`` is left out: it names the extraction task that emitted
    a row, which depends on how a run partitioned its input, not on
    the graph's content."""
    from pyspark.sql import functions as F

    cols = sorted(c for c in df.columns if c != "part_id")
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), str(r["h"])


def check_lineage(spark, warehouse: str, res) -> list[str]:
    """lineage triples_out sum = RunResult.triples_out = extracted rec='t' rows."""
    from pyspark.sql import functions as F

    snap = f"snapshot={res.run_id}"
    lin = _read(spark, warehouse, "lineage", snap).agg(
        F.sum("triples_out")
    ).first()[0] or 0
    ext = _read(spark, warehouse, "extracted", snap).filter(
        F.col("rec") == "t"
    ).count()
    if not (int(lin) == res.triples_out == ext):
        return [f"lineage: lineage sum {lin}, RunResult {res.triples_out}, "
                f"extracted rows {ext}"]
    return []


def check_urls(offered, res) -> list[str]:
    """pages_in + resumed_skipped = distinct offered urls."""
    n = offered.select("url").distinct().count()
    if res.pages_in + res.resumed_skipped != n:
        return [f"urls: pages_in {res.pages_in} + skipped "
                f"{res.resumed_skipped} != {n} distinct offered urls"]
    return []


def check_graph(spark, warehouse: str, link: bool) -> list[str]:
    """Graph rows = triples across visible snapshots; no non-canonical
    linked IRI left in ``s``."""
    from pyspark.sql import functions as F

    from serd_spark.plans.pipeline import read_triples

    out = []
    graph = _read(spark, warehouse, "triples")
    g_n, t_n = graph.count(), read_triples(spark, warehouse).count()
    if g_n != t_n:
        out.append(f"graph: {g_n} graph rows != {t_n} committed triples")
    if link:
        stale = _read(spark, warehouse, "entities").filter(
            F.col("entity") != F.col("canon")
        )
        left = graph.filter(F.col("s_kind") == 0).join(
            stale, graph["s"] == stale["entity"]
        ).count()
        if left:
            out.append(f"graph: {left} rows keep a non-canonical linked IRI in s")
    return out


def union_find_canon(edges) -> dict[str, str]:
    """entity → min id of its component, over (a, b) edges."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {e: find(e) for e in parent}


def check_canon(spark, warehouse: str) -> list[str]:
    """Each entities.canon = min id of its component, recomputed by a
    driver union-find over the links table."""
    links = _read(spark, warehouse, "links").select("entity_a", "entity_b")
    want = union_find_canon(
        (r[0], r[1]) for r in links.collect()
    )
    got = {
        r[0]: r[1]
        for r in _read(spark, warehouse, "entities")
        .select("entity", "canon")
        .collect()
    }
    if set(got) != set(want):
        return [f"canon: entities table has {len(got)} ids, links graph "
                f"{len(want)}"]
    bad = [e for e, c in got.items() if want[e] != c]
    if bad:
        e = sorted(bad)[0]
        return [f"canon: {len(bad)} entities off their component min, e.g. "
                f"{e!r} -> {got[e]!r}, want {want[e]!r}"]
    return []


def check_link_sample(spark, warehouse: str, threshold: float) -> list[str]:
    """Sampled links reach the threshold under the public
    ``linking.minhash_signature`` (and carry that estimate)."""
    from pyspark.sql import functions as F

    from serd_spark.operators.linking import (
        N_PERM,
        entity_names,
        minhash_signature,
    )
    from serd_spark.plans.pipeline import read_triples

    sample = (
        _read(spark, warehouse, "links")
        .orderBy(F.xxhash64("entity_a", "entity_b"))
        .limit(SAMPLED_LINKS)
        .collect()
    )
    ids = sorted({r["entity_a"] for r in sample} | {r["entity_b"] for r in sample})
    names: dict[str, list[str]] = {}
    for r in (
        entity_names(read_triples(spark, warehouse))
        .filter(F.col("entity").isin(ids))
        .collect()
    ):
        names.setdefault(r["entity"], []).append(r["name"])
    out = []
    for r in sample:
        best = max(
            (
                float((minhash_signature(x) == minhash_signature(y)).sum()) / N_PERM
                for x in names.get(r["entity_a"], [])
                for y in names.get(r["entity_b"], [])
            ),
            default=0.0,
        )
        if best < threshold or abs(best - r["jaccard_est"]) > 1e-9:
            out.append(f"links: ({r['entity_a']}, {r['entity_b']}) recomputes "
                       f"to {best:.4f}, stored {r['jaccard_est']:.4f}")
    return out[:3]


def check_same_graph(spark, warehouse: str, reference: str) -> list[str]:
    """The graph equals a reference warehouse's (count + digest)."""
    a = digest(_read(spark, warehouse, "triples"))
    b = digest(_read(spark, reference, "triples"))
    return [] if a == b else [f"graph: {a} != reference {b}"]


def check_run(spark, warehouse: str, res, offered, link: bool,
              threshold: float) -> list[str]:
    out = check_lineage(spark, warehouse, res)
    out += check_urls(offered, res)
    out += check_graph(spark, warehouse, link)
    if link:
        out += check_canon(spark, warehouse)
        out += check_link_sample(spark, warehouse, threshold)
    return out


def roundtrip_share(spark, warehouse: str) -> float:
    """Share of graph rows passing the public writer→parser fixpoint."""
    from pyspark.sql import functions as F

    from serd_spark.operators.serialize import roundtrip_check

    r = roundtrip_check(_read(spark, warehouse, "triples")).agg(
        F.sum("n_lines"), F.sum("n_roundtrip")
    ).first()
    return (r[1] or 0) / r[0] if r[0] else 0.0
