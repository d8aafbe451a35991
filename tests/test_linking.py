"""Entity linking (minhash + LSH + connected components)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from serd_spark.operators.linking import (
    N_PERM,
    apply_canonical,
    connected_components,
    link_entities,
    minhash_signature,
    signatures,
)


def test_minhash_deterministic():
    a = minhash_signature("The Quick Brown Fox")
    b = minhash_signature("the quick  brown fox")  # case/space-normalized
    assert np.array_equal(a, b)
    assert len(a) == N_PERM


def test_minhash_similarity_orders():
    base = minhash_signature("international business machines corporation")
    close = minhash_signature("international business machines corp")
    far = minhash_signature("entirely unrelated zebra quartet")
    sim_close = (base == close).mean()
    sim_far = (base == far).mean()
    assert sim_close > 0.5 > sim_far


@pytest.fixture()
def name_triples(spark):
    rows = []
    variants = [
        "Acme Corporation International",
        "Acme Corporation Internationale",  # near-dup of 0
        "ACME corporation international",  # exact modulo case
        "Zebra Quartet Ensemble",
        "Zebra Quartet Ensembles",  # near-dup of 3
        "Completely Different Thing",
    ]
    for i, name in enumerate(variants):
        rows.append(
            ("u", 0, i, "turtle", "", f"http://e/{i}", 0,
             "http://schema.org/name", name, 1, "", "")
        )
    cols = ["url", "island", "stmt_ord", "syntax", "g", "s", "s_kind",
            "p", "o", "o_kind", "o_dt", "o_lang"]
    return spark.createDataFrame(rows, cols)


def test_link_entities_end_to_end(spark, name_triples):
    links, entities = link_entities(name_triples, threshold=0.5)
    got = {
        (r.entity_a, r.entity_b) for r in links.collect()
    }
    # the two Acme variants and the two Zebra variants must link
    assert ("http://e/0", "http://e/1") in got or ("http://e/1", "http://e/0") in got
    assert any("e/3" in a and "e/4" in b for a, b in got)
    # the unrelated entity must not appear in any component
    canon = {r.entity: r.canon for r in entities.collect()}
    assert "http://e/5" not in canon
    # Acme cluster shares one canonical id (min IRI in component)
    acme = {canon[f"http://e/{i}"] for i in (0, 1, 2) if f"http://e/{i}" in canon}
    assert len(acme) == 1


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("x", "y", 1.0)],
        ["entity_a", "entity_b", "jaccard_est"],
    )
    labels = {r.entity: r.canon for r in connected_components(edges).collect()}
    assert labels["a"] == labels["b"] == labels["c"] == "a"
    assert labels["x"] == labels["y"] == "x"


def test_connected_components_distributed_matches_driver(spark):
    """The distributed pointer-jumping path (driver_threshold=0 —
    what actually runs on a 100 TB link graph) must emit labels
    IDENTICAL to the driver union-find on the same edge set.  The
    edge set mixes a long chain (exercises >1 pointer-jump round), a
    hub star, a cycle, and disjoint pairs."""
    chain = [(f"c{i:02d}", f"c{i + 1:02d}", 1.0) for i in range(20)]
    star = [("hub", f"leaf{i}", 1.0) for i in range(8)]
    cycle = [("r0", "r1", 1.0), ("r1", "r2", 1.0), ("r2", "r0", 1.0)]
    pairs = [("p0", "p1", 1.0), ("q0", "q1", 1.0)]
    # reversed-order edges: label must still be min id per component
    rev = [("zz", "aa", 1.0), ("mm", "aa", 1.0)]
    edges = spark.createDataFrame(
        chain + star + cycle + pairs + rev,
        ["entity_a", "entity_b", "jaccard_est"],
    )
    driver = {
        r.entity: r.canon for r in connected_components(edges).collect()
    }
    dist = {
        r.entity: r.canon
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert dist == driver
    # sanity on content, not just agreement
    assert driver["c20"] == "c00"
    assert driver["zz"] == driver["mm"] == "aa"


def test_signatures_match_minhash_signature(spark):
    """The Arrow signature stage emits minhash_signature(name) per row,
    across split batches (3 rows each) and an empty input partition."""
    names = ["", "a", "ab", "   ", "\t \n", "Acme Corporation",
             "Ünïcødé Café", "東京タワー", "naïve x", "zz"]
    rows = [(f"e{i}", n) for i, n in enumerate(names)]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "3")
    try:
        parts = spark.sparkContext.parallelize(
            [rows[:7], [], rows[7:]], 3
        ).flatMap(lambda part: part)
        df = spark.createDataFrame(parts, "entity string, name string")
        assert parts.glom().map(len).collect() == [7, 0, 3]
        sigs = signatures(df)
        got = {r.entity: r.sig for r in sigs.collect()}
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert sigs.schema.simpleString() == (
        "struct<entity:string,sig:array<bigint>>"
    )
    assert got == {e: minhash_signature(n).tolist() for e, n in rows}


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "entity_a string, entity_b string")
    out = connected_components(edges)
    assert out.count() == 0
    assert out.schema.simpleString() == "struct<entity:string,canon:string>"


def test_link_entities_distributed_path(spark, name_triples):
    """link_entities(driver_threshold=0) runs the distributed CC and
    must produce the same entities map as the default driver path."""
    _, ent_driver = link_entities(name_triples, threshold=0.5)
    _, ent_dist = link_entities(
        name_triples, threshold=0.5, driver_threshold=0
    )
    d1 = {r.entity: r.canon for r in ent_driver.collect()}
    d2 = {r.entity: r.canon for r in ent_dist.collect()}
    assert d1 == d2 and d1


def test_apply_canonical_rewrites_subject_and_iri_object(spark, name_triples):
    entities = spark.createDataFrame(
        [("http://e/1", "http://e/0"), ("http://e/2", "http://e/0")],
        ["entity", "canon"],
    )
    out = apply_canonical(name_triples, entities)
    subs = {r.s for r in out.collect()}
    assert "http://e/1" not in subs and "http://e/2" not in subs
    # literal objects untouched
    names = {r.o for r in out.filter(F.col("o_kind") == 1).collect()}
    assert "Acme Corporation Internationale" in names


def test_verified_links_one_row_per_pair(spark):
    """Entities with multiple name literals must yield ONE link row
    per (entity_a, entity_b), not one per signature combination."""
    from serd_spark.operators.linking import (
        candidate_pairs,
        lsh_bands,
        signatures,
        verified_links,
    )

    rows = [
        ("http://e/a", "Acme Corporation International"),
        ("http://e/a", "Acme Corp International"),
        ("http://e/b", "Acme Corporation International"),
        ("http://e/b", "Acme Corp Intl"),
    ]
    names = spark.createDataFrame(rows, ["entity", "name"])
    sigs = signatures(names)
    links = verified_links(
        candidate_pairs(lsh_bands(sigs)), sigs, threshold=0.3
    ).collect()
    pairs = [(r.entity_a, r.entity_b) for r in links]
    assert len(pairs) == len(set(pairs)), pairs
    assert ("http://e/a", "http://e/b") in pairs


def test_incremental_dedup_three_statuses(spark):
    from serd_spark.operators.dedup import incremental_dedup

    base = ("the quick brown fox jumps over the lazy dog "
            "and then runs far away into the deep dark forest tonight")
    old = spark.createDataFrame(
        [(1, base), (2, "completely different text about spark plans")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base),                      # exact dup of old 1
            (11, "  THE quick  brown fox jumps over the lazy dog "
                 "and then runs far away into the deep dark forest tonight"),
            # ^ exact after normalization (case/whitespace fold)
            (12, base.replace("tonight", "tonite")),
            # ^ near dup of old 1 (high jaccard: 8x8 banding recalls
            # reliably only well above the 0.5 verify threshold)
            (13, "totally novel content nothing like anything before"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in incremental_dedup(new, old).collect()}
    assert out[10].status == "exact" and out[10].match_id == 1
    assert out[11].status == "exact" and out[11].match_id == 1
    assert out[11].jaccard_est is None
    assert out[12].status == "near" and out[12].match_id == 1
    assert out[12].jaccard_est >= 0.5
    assert out[13].status == "kept" and out[13].match_id is None
    # one row per new doc, always
    assert set(out) == {10, 11, 12, 13}


def test_incremental_dedup_never_pairs_within_increment(spark):
    from serd_spark.operators.dedup import incremental_dedup

    t = "a long shared passage that would trivially near-match itself " * 3
    old = spark.createDataFrame(
        [(1, "unrelated old corpus text entirely")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, t), (11, t + " tail")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in incremental_dedup(new, old).collect()}
    # 10 and 11 duplicate EACH OTHER but nothing in the old corpus:
    # both must be kept — the increment never matches itself
    assert out[10].status == "kept" and out[11].status == "kept"


def test_null_text_document_has_no_signature(spark):
    """A null-text document gets no signature instead of failing the
    signature task: no near-dup pair, a singleton cluster, and 'kept'
    as an increment (md5(null) is null, so no exact match either)."""
    from serd_spark.operators.dedup import (
        dup_clusters,
        incremental_dedup,
        minhash_near_dups,
    )

    base = ("the quick brown fox jumps over the lazy dog "
            "and then runs far away into the deep dark forest tonight")
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("tonight", "tonite")),
            (3, None),
            (4, "completely different text about spark plans"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_near_dups(docs, threshold=0.5).collect()
    assert [(r.entity_a, r.entity_b) for r in pairs] == [("1", "2")]

    clusters = {r.doc_id: r for r in dup_clusters(docs).collect()}
    assert clusters[2].canon_id == 1 and clusters[2].cluster_size == 2
    assert clusters[3].canon_id == 3 and clusters[3].cluster_size == 1

    new = spark.createDataFrame(
        [(10, None), (11, base)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in incremental_dedup(new, docs).collect()}
    assert out[10].status == "kept" and out[10].match_id is None
    assert out[11].status == "exact" and out[11].match_id == 1
