"""Driver-contract query family (split out of __spark_entry__.py; same
functions, same names — the entry module re-exports everything)."""

from serd_spark.contract.helpers import *  # noqa: F401,F403


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix boilerplate detection + stripping (corpus.py::
    host_boilerplate / strip_boilerplate — the cookie-banner removal
    step in crawl curation). The fixture is built IN the plan: every
    even doc_id gets a per-source banner prepended JVM-side, the
    detector must rediscover exactly those (k=8-token prefixes,
    integer-permille share threshold), and the stripper must remove
    them via the exact (host, own-prefix) broadcast equality join.
    The oracle replays detection AND stripping in SQL from the
    materialized decorated table — every threshold, join and
    substring arithmetic is cross-engine exact."""
    from serd_spark.operators.corpus import (
        host_boilerplate,
        strip_boilerplate,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    banner = F.concat(
        F.lit("Cookie notice for "), F.col("source"),
        F.lit(" please accept tracking to continue "),
    )
    tbl = d.select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 2 == 0, F.concat(banner, F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    _materialize(sf_dir, "boilerplate_docs", lambda: tbl)
    bp = host_boilerplate(tbl, k=8, min_share_permille=400)
    out = strip_boilerplate(tbl, bp, k=8)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("stripped").cast("long").alias("n_stripped"),
        F.sum(F.length("text")).cast("long").alias("sum_len_after"),
    ).orderBy("source")


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-aware Markov transition counts over the events table
    (stats.py::transition_counts): per-user total order (ts,
    event_id), 30-min session cuts, virtual __start__ state per
    session. One window shuffle then a bounded-keyspace hash agg;
    the oracle replays the identical window + lag + gap rule."""
    from serd_spark.operators.stats import transition_counts

    e = _t(spark, sf_dir, "events")
    return transition_counts(e).orderBy("prev_state", "next_state")


def q_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-hygiene filter (text.py::encoding_features — the
    drop/repair signal for double-encoded crawl text). The corpus is
    all-ASCII, so the query builds the fixture IN the plan: every
    third document is decorated with genuine UTF-8 punctuation and
    re-decoded as Latin-1 entirely JVM-side (encode → decode — the
    exact corruption web pipelines see), then the three codegen'd
    regexp counters score every row. The oracle re-scores the
    MATERIALIZED corrupted table with the verbatim-shared signature
    pattern in RE2, so detection itself is independently replayed;
    flagged == (doc_id % 3 == 0) for every row is the in-band
    proof that corruption and detection line up."""
    from serd_spark.operators.text import encoding_features

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    decorated = F.concat(
        F.lit("\u00ab "), F.col("text"),
        F.lit(" \u00bb \u2014 caf\u00e9\u2026"),
    )
    corrupted = F.decode(F.encode(decorated, "UTF-8"), "ISO-8859-1")
    tbl = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, corrupted)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    _materialize(sf_dir, "mojibake_docs", lambda: tbl)
    return encoding_features(tbl).orderBy("doc_id")


def q_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (corpus.py::chunk_documents
    — the RAG / embedding-prep fan-out). Returns the chunk rows
    themselves: (doc_id, chunk_idx, chunk_text, n_tokens), so the
    oracle certifies every window boundary, overlap and join-back of
    every chunk string, not just counts. Pure JVM (normalize → split
    → sequence/posexplode → slice/array_join); zero shuffle."""
    from serd_spark.operators.corpus import chunk_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(d, chunk_tokens=32, overlap=8).orderBy(
        "doc_id", "chunk_idx"
    )


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split (corpus.py::split_by_key):
    all documents of one ``source`` land in the same split via the
    md5-hex threshold, so site-level near-dups can never straddle the
    eval boundary. sum_ids pins exact membership per split; n_keys
    counts the sources per split (the leak-free invariant — each key
    in exactly one split — is structural and unit-tested)."""
    from serd_spark.operators.corpus import split_by_key

    d = _t(spark, sf_dir, "documents")
    s = split_by_key(d, train=0.8, valid=0.1, key_col="source")
    return s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_keys"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    ).orderBy("split")


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document; integer-micros scoring makes
    the (score DESC, term ASC) top-k exactly reproducible in SQL."""
    from serd_spark.operators.corpus import tfidf_top_terms

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(d, top_k=3)


def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive posting-list retrieval for ['spark', 'query']."""
    from serd_spark.operators.corpus import keyword_search

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return keyword_search(d, ["spark", "query"])


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for ['spark', 'query', 'data'] — the
    ranking sibling of q_keyword_search. Integer-micros saturation
    arithmetic (operators/corpus.py::bm25_search) makes the top-20
    (score DESC, doc_id ASC) bit-exact across engines; the oracle
    replays tf/df/idf/dl/avgdl and the pinned DIV chain in SQL."""
    from serd_spark.operators.corpus import bm25_search

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_search(d, ["spark", "query", "data"], top_k=20)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark 13-gram decontamination. The "benchmark" is a
    deterministic slice of the corpus itself (doc_id % 37 == 0), so
    contamination provably exists: those docs self-hit at 1.0 and any
    cross-doc shared 13-gram surfaces. The benchmark span set is
    broadcast; the corpus side never shuffles text."""
    from serd_spark.operators.corpus import decontaminate

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    return decontaminate(d, bench, k=13)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each click matched to the user's latest
    view at-or-before it — the union+window as-of shape (ONE shuffle
    on user_id, no inequality-join row blowup). Ties on (user, ts)
    break by max view event_id; timestamps emitted as formatted
    strings and the gap in whole seconds for cross-engine equality."""
    from serd_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    out = asof_join(clicks, views, on="user_id", ts="ts", tie_col="event_id")
    return out.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.col("event_id_r").alias("view_id"),
        F.date_format("ts_r", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
        (F.unix_timestamp("ts") - F.unix_timestamp("ts_r")).cast("long").alias("gap_s"),
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-micros PageRank over the customer–supplier bipartite
    graph (distinct (o_custkey, l_suppkey) trade pairs, mirrored to
    undirected; node ids disjoint via 2k / 2k+1). 5 iterations of
    join+aggregate with per-iteration lineage cuts — the KG
    hub-entity scoring shape."""
    from serd_spark.operators.graph import pagerank

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, n_iter=5)


def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank / TrustRank (operators/graph.py::
    personalized_pagerank): teleport restricted to a seed set over
    the hash-folded DIRECTED trade graph (keys mod 9973 so nodes act
    as both source and target — multi-hop trust paths exist). Seeds
    are the closed-form node % 50 == 0 slice; seeds outside the graph
    are dropped by the operator. Integer micros throughout — the
    oracle replays every iteration (seeded base term, floor-divided
    contributions) as chained CTEs, bit-exact."""
    from serd_spark.operators.graph import personalized_pagerank

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") % 9973).alias("src"),
        (F.col("l_suppkey") % 9973).alias("dst"),
    )
    seeds = spark.range(0, 9973, 50).select(F.col("id").alias("node"))
    return personalized_pagerank(edges, seeds, n_iter=5)


def q_anf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF / HyperANF neighborhood function (operators/graph.py::
    neighborhood_function): reachable-pairs-within-t-hops over the
    hash-folded undirected trade graph — per-node 16-register HLL
    sketches max-merged along edges each round, exact-integer
    harmonic denominators, pre-floored linear-counting lookup (no
    runtime transcendentals). The oracle replays the register tables
    round by round and every per-node estimate as chained CTEs —
    bit-exact, the determinism certificate for the distance-
    distribution estimator."""
    from serd_spark.operators.graph import neighborhood_function

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") % 9973).alias("src"),
        (F.col("l_suppkey") % 9973).alias("dst"),
    )
    return neighborhood_function(edges, n_rounds=3)


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count (operators/graph.py triangle_count) over
    a hash-folded trade graph (customer/supplier keys folded into one
    id space mod 9973, so the bipartite structure closes into
    triangles). Degree-ordered orientation keeps the wedge join near
    m^1.5 — hub nodes get LOW out-degree. The DuckDB oracle
    brute-forces the count with a canonical a<b<c three-way
    self-join over the identically derived edge set."""
    from serd_spark.operators.graph import triangle_count

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") % 9973).alias("src"),
        (F.col("l_suppkey") % 9973).alias("dst"),
    )
    return triangle_count(edges)


def _inc_split(spark: SparkSession, sf_dir: str):
    """old = two thirds of the corpus; new = the other third PLUS
    re-keyed copies (id + 100000) of every old doc with id % 17 == 1,
    so exact cross-snapshot duplicates provably exist (the corpus has
    no natural byte-dups — same trick as q_decontaminate's planted
    benchmark)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 3 != 0)
    new = d.filter(F.col("doc_id") % 3 == 0).unionByName(
        old.filter(F.col("doc_id") % 17 == 1).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return new, old


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup (operators/dedup.py::
    incremental_dedup): the new-crawl increment deduped against the
    existing corpus — exact fingerprint stage first, then NEW × OLD
    LSH band join only (never new×new), best old match per new doc.
    Signatures/bands for both sides are materialized so DuckDB
    replays the band join, the agreement verify, the (jaccard DESC,
    old id ASC) argmax, and the three-way status CASE."""
    from serd_spark.operators.dedup import incremental_dedup

    new, old = _inc_split(spark, sf_dir)
    _materialize_minhash(spark, sf_dir, new, "inc/sigs_new", "inc/bands_new")
    _materialize_minhash(spark, sf_dir, old, "inc/sigs_old", "inc/bands_old")
    return incremental_dedup(new, old, threshold=0.5)


def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): 8 subspaces × 16
    codes trained with 3 exact-integer Lloyd rounds, vectors encoded
    to 8 codes, and the vec-0 query answered by ADC — the m × k
    lookup table folded into codegen as literal arrays. The oracle
    replays the ENTIRE pipeline (all subspace trainings iteration by
    iteration, the encoding, and the ADC search) from raw parquet —
    no materialized intermediate, bit-exact."""
    from serd_spark.operators.pq import pq_encode, pq_topk, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=8, k=16, n_iter=3)
    enc = pq_encode(emb, books)
    q = list(emb.filter(F.col("vec_id") == 0).first().embedding)
    return pq_topk(enc, books, q, top_k=10)


def q_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization + quantized-L2 top-k
    (operators/quant.py): per-dimension min/max stats (one dim-keyed
    aggregate), a shuffle-free encode to one byte per dimension (4×
    smaller vector storage at 100 TB), and the vec-0 query answered
    with pure-integer codegen arithmetic — query codes and spans fold
    in as literals, like q_pq_search's ADC table. The oracle replays
    stats → codes → distance → top-k from raw parquet with identical
    non-negative integer division everywhere."""
    from serd_spark.operators.quant import sq_encode, sq_stats, sq_topk

    emb = _t(spark, sf_dir, "embeddings")
    lo, hi = sq_stats(emb)
    q = list(emb.filter(F.col("vec_id") == 0).first().embedding)
    return sq_topk(sq_encode(emb, lo, hi), lo, hi, q, top_k=10)


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table exact k-means (k=8, 5 Lloyd rounds) over the
    embeddings table — operators/clustering.py. Power-of-two
    quantization (floor(v * 2^20): exact in IEEE double, no rounding
    mode to disagree on), md5-ordered seeding, truncating-division
    centroid updates. The oracle replays every iteration as chained
    CTEs; (vec_id, cluster, dist) pins each assignment AND the exact
    integer distance to the final centroid."""
    from serd_spark.operators.clustering import kmeans

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans(emb, k=8, n_iter=5)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (clustering.py::semdedup): exact
    k-means partitions the embedding space, then a vector is dropped
    iff a SMALLER-id vector in its cluster has cosine >= 0.4 (6 dp,
    the repo's cross-engine float rule) — so exactly the smallest id
    of each in-cluster duplicate group survives. The k-means pipeline
    itself is certified by q_kmeans; here the deterministic
    assignment is materialized and DuckDB independently replays the
    within-cluster cosine join + id-argmin verdict. dup_of = -1
    sentinel when kept (never NULL)."""
    from serd_spark.operators.clustering import kmeans, semdedup

    emb = _t(spark, sf_dir, "embeddings")
    _materialize(
        sf_dir, "semdedup_assign",
        lambda: kmeans(emb, k=8, n_iter=2).select("vec_id", "cluster"),
    )
    return semdedup(emb, k=8, n_iter=2, threshold=0.4).orderBy("vec_id")


def q_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PCA (operators/pca.py): top principal component
    of the embeddings table by power iteration on a quantized,
    mean-centered integer covariance — two tree-aggregate Arrow
    passes (dim and dim² partial rows per task), a 4096-cell driver
    iteration, one projection pass. Everything truncating-division
    deterministic, so the oracle replays quantization, means,
    covariance, all 8 matvec+rescale rounds AND the projections —
    any float leak or division-sign slip desynchronizes it."""
    from serd_spark.operators.pca import pca_power_iteration

    emb = _t(spark, sf_dir, "embeddings")
    proj, _w = pca_power_iteration(emb, n_iter=8, dim=64)
    return proj.orderBy("vec_id")


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=35, 4 synchronous peel rounds — the
    sf0.01 graph reaches its fixpoint in 2) over the same hash-folded
    trade graph as q_triangles. The oracle replays the identical
    rounds as chained CTEs; the fixed round count is what makes the
    data-dependent peel cross-engine deterministic."""
    from serd_spark.operators.graph import k_core

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") % 9973).alias("src"),
        (F.col("l_suppkey") % 9973).alias("dst"),
    )
    return k_core(edges, k=35, n_rounds=4)


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (5 iterations, mode-of-neighbor
    labels, min-label tie-break) over the hash-folded trade graph —
    the deterministic LPA variant (operators/graph.py). Returns the
    full (node, label) table so the oracle pins every assignment, not
    just community sizes."""
    from serd_spark.operators.graph import label_propagation

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") % 9973).alias("src"),
        (F.col("l_suppkey") % 9973).alias("dst"),
    )
    return label_propagation(edges, n_iter=5)


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-folded trade graph shared by the graph family
    (q_triangles/q_kcore/q_label_prop and the walk/BFS/link-predict
    queries): customer and supplier keys folded into one id space mod
    9973 so the bipartite structure closes into wedges and cycles."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") % 9973).alias("src"),
        (F.col("l_suppkey") % 9973).alias("dst"),
    )


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source shortest paths (graph.py::sssp —
    frontier-active Bellman-Ford, integer weights derived closed-form
    from the edge endpoints) over the hash-folded trade graph, seeds
    node % 997 == 0, 3 rounds. The oracle replays the rounds as
    FULL-relax chained CTEs — a structurally different formulation
    whose r-round invariant (min cost over ≤ r-edge paths) provably
    coincides with the frontier version's, so matching rows certify
    the frontier optimization preserved semantics."""
    from serd_spark.operators.graph import sssp

    e = _trade_edges(spark, sf_dir).select(
        "src",
        "dst",
        (1 + (F.col("src") * 7 + F.col("dst") * 13) % 9).alias("w"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") % 997 == 0)
    return (
        sssp(e, seeds, n_rounds=3)
        .select("node", F.col("dist").cast("long").alias("dist"))
        .orderBy("node")
    )


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance (graph.py::bfs_distance) from a
    deterministic seed set (node % 997 == 0) over the hash-folded
    trade graph — frontier-only propagation, so each reachable edge
    is traversed once across all rounds, not once per round. The
    oracle replays all 3 frontier/settled rounds as chained CTEs with
    the identical anti-join."""
    from serd_spark.operators.graph import bfs_distance

    edges = _trade_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") % 997 == 0)
    return (
        bfs_distance(edges, seeds, n_rounds=3, undirected=True)
        .select("node", F.col("dist").cast("int").alias("dist"))
        .orderBy("node")
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel view → click → purchase per user
    (funnel.py::funnel): chained-earliest semantics (each step's
    timestamp is the earliest occurrence STRICTLY after the previous
    step), computed with ONE shuffle — filter to the funnel types,
    group by user, row-local array scan. The oracle replays the
    chain as three chained min-aggregate CTEs with the identical
    strict-> tie rule; timestamps emitted as formatted strings with
    the null chain tail pinned to '' (driver NULL sort rule)."""
    from serd_spark.operators.funnel import funnel

    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    out = funnel(e, ["view", "click", "purchase"])
    fmt = lambda c, a: F.coalesce(  # noqa: E731
        F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS"), F.lit("")
    ).alias(a)
    return out.select(
        "user_id",
        "steps_completed",
        fmt("t_1", "t1"),
        fmt("t_2", "t2"),
        fmt("t_3", "t3"),
    ).orderBy("user_id")


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of parts — Pareto frontier for (minimize price,
    maximize size), i.e. "no other part is at least as big for less"
    (skyline.py::skyline2d). Two-level plan: fixed-width price
    buckets, per-bucket local skyline via one RANGE-framed window,
    then a prefix-max over the tiny bucket table broadcast back — no
    global-order window anywhere. Money as integer cents per row.
    The oracle is the dominance definition itself: NOT EXISTS a
    strictly-better row — a fully independent formulation."""
    from serd_spark.operators.skyline import skyline2d

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        _cents(F.col("p_retailprice")).alias("price_c"),
        F.col("p_size").cast("long").alias("size"),
    )
    return skyline2d(p, "price_c", "size", bucket_width=5000).orderBy(
        "p_partkey"
    )


def q_kg_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG snapshot diff (diff.py::triple_diff) certified by a
    perturb-and-diff harness: the "old" snapshot is derived from the
    freshly-extracted triple table by two md5-url-class mutations —
    class-0 urls lose their relatedLink statements (diff must report
    them ADDED) and class-1 urls get their name literals rewritten to
    a stale spelling (diff must report the stale form REMOVED and the
    current form ADDED). One union+groupBy pass, no joins. The oracle
    replays the class rules, the mutation, and the set diff wholesale
    from the materialized triple parquet."""
    from serd_spark.operators.diff import triple_diff

    _materialize_triples(spark, sf_dir)
    t = _kg_triples(spark, sf_dir)
    cls = (
        F.conv(F.substring(F.md5("url"), 1, 4), 16, 10).cast("long") % 10
    )
    rel_p = "http://schema.org/relatedLink"
    name_p = "http://schema.org/name"
    old = (
        t.withColumn("_cls", cls)
        .filter(~((F.col("_cls") == 0) & (F.col("p") == rel_p)))
        .withColumn(
            "o",
            F.when(
                (F.col("_cls") == 1)
                & (F.col("p") == name_p)
                & (F.col("o_kind") == 1),
                F.concat(F.col("o"), F.lit(" (stale)")),
            ).otherwise(F.col("o")),
        )
        .drop("_cls")
    )
    d = triple_diff(old, t)
    pin = F.conv(
        F.substring(
            F.md5(F.concat_ws("\u0001", "g", "s", "p", "o")), 1, 10
        ),
        16,
        10,
    ).cast("long")
    return (
        d.groupBy("p", "change")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(pin).cast("long").alias("pin"),
        )
        .orderBy("p", "change")
    )


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (graph.py::assortativity) over the
    undirected hash-folded trade graph — exact-integer Pearson
    moments (the certificate pins all five sums, not just the
    rounded ratio; the one float division runs on identical operands
    in both engines). One degree hash-agg + two co-partitioned
    joins + one final aggregate."""
    from serd_spark.operators.graph import assortativity

    return assortativity(
        _trade_edges(spark, sf_dir), undirected=True
    )


def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING funnel driven end-to-end: events flow through an
    availableNow stream into the chained-earliest funnel state
    (streaming/incremental.streaming_funnel); a user's completion
    row is emitted exactly once, in the batch where the purchase
    fires. One data batch by design (the stream_sessions argument:
    multi-file batch assignment is not event-time-ordered, and the
    operator's exactness premise is in-order arrival — cross-batch
    chaining is certified by a controlled-arrival-order unit test).
    The oracle replays the chain as q_funnel's min-aggregate CTEs
    restricted to completed users."""
    import shutil

    from serd_spark.streaming.incremental import streaming_funnel

    base = os.path.join(
        "/tmp/serd_spark_stream_funnel",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    in_dir = os.path.join(base, "events")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    _ensure_shipped(spark)
    _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    ).repartition(6).write.parquet(in_dir)

    ev = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string"
    ).parquet(in_dir)
    fun = streaming_funnel(ev, ["view", "click", "purchase"])

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    q = (
        fun.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "user_id",
        F.date_format("t_1", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("t1"),
        F.date_format("t_2", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("t2"),
        F.date_format("t_3", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("t3"),
    ).orderBy("user_id")


def stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MERGE driven end-to-end
    (streaming/incremental.streaming_upsert_sink): raw pages with
    re-crawl duplicates flow through a multi-batch availableNow
    stream whose foreachBatch body upserts latest-wins winners into
    a bucket-partitioned keyed table. Files are NOT url-colocated —
    a url's re-crawls may land in different micro-batches in either
    order, and the conditional merge (max (warc_ts, xxhash64) over
    existing ∪ batch) makes the final table equal batch latest_crawl
    anyway. The oracle replays arg_max per url over the materialized
    raw pages."""
    import shutil

    from serd_spark.sources.pages import synthesize_pages
    from serd_spark.streaming.incremental import (
        stream_pages,
        streaming_upsert_sink,
    )

    n = max(100, _n_pages(sf_dir) // 4)
    base = os.path.join(
        "/tmp/serd_spark_stream_upsert",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    pages_dir = os.path.join(base, "pages")
    tbl = os.path.join(base, "tbl")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    _ensure_shipped(spark)
    synthesize_pages(spark, n, seed=42).repartition(6).write.parquet(
        pages_dir
    )

    src = stream_pages(
        spark, pages_dir, max_files_per_trigger=2
    ).withColumn("_h", F.xxhash64("html"))
    sink = streaming_upsert_sink(
        spark, tbl, key="url", order_cols=["warc_ts", "_h"], n_buckets=8
    )
    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # _h (xxhash64, JVM-only) is materialized so the oracle can mirror
    # the sink's FULL (warc_ts, _h) tie-break — ARG_MAX(hmd5, warc_ts)
    # alone is nondeterministic if two crawls of one url ever share a
    # timestamp (ADVICE r4). Fresh name: the deriving lambda changed.
    _materialize(
        sf_dir, "upsert_raw_pages_h",
        lambda: spark.read.parquet(pages_dir).select(
            "url", "warc_ts", F.xxhash64("html").alias("_h"),
            F.md5("html").alias("hmd5"),
        ),
    )
    return (
        spark.read.parquet(tbl)
        .select(
            "url",
            F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "ts"
            ),
            F.md5("html").alias("hmd5"),
        )
        .orderBy("url")
    )


def q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching (packing.py::length_batches): docs
    grouped into fixed-count batches of similar token length so
    padding-to-batch-max stays small; rank windows are PARTITIONED
    by length bucket, never global. Output is per-batch padding
    accounting; the oracle replays the bucket/rank/batch derivation
    with a plain SQL window and the identical (n_tokens, doc_id)
    tie-break."""
    from serd_spark.operators.packing import length_batches

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lb = length_batches(d, batch_size=8, bucket_width=16)
    return (
        lb.groupBy("bucket", "batch_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("n_tokens").cast("long").alias("max_tok"),
            F.sum("n_tokens").cast("long").alias("sum_tok"),
        )
        .withColumn(
            "padding_waste",
            (F.col("max_tok") * F.col("n_docs") - F.col("sum_tok"))
            .cast("long"),
        )
        .orderBy("bucket", "batch_idx")
    )


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (corpus.py::c4_line_filters —
    terminal punctuation, min-words, curly braces, lorem ipsum) over
    the latest-crawl page text, entirely row-local (split + HOF
    filter + re-join, no explode/shuffle). The oracle replays every
    predicate with DuckDB list_filter lambdas over the materialized
    page text and pins the kept text by md5."""
    from serd_spark.operators.corpus import c4_line_filters
    from serd_spark.sources.pages import latest_crawl

    p = latest_crawl(_pages(spark, sf_dir)).select("url", "text")
    _materialize(sf_dir, "pages_text_latest", lambda: p)
    out = c4_line_filters(p, text_col="text", id_col="url")
    return out.select(
        "url",
        "n_lines",
        "n_kept",
        F.md5("kept_text").alias("kept_md5"),
    ).orderBy("url")


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch / Flesch–Kincaid readability per document
    (text.py::readability) — integer-micros formulas over pinned
    word/sentence/syllable heuristics, pure JVM map-only. The oracle
    recomputes every row from the documents table with the identical
    regex counts and integer divisions."""
    from serd_spark.operators.text import readability

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return readability(d).orderBy("doc_id")


def q_wet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET derivation fixpoint (sources/warc.py::write_wet/read_wet):
    the pages corpus' EXTRACTED TEXT is written as Common-Crawl-style
    .wet conversion shards and read back; per-url record counts,
    formatted max timestamp and text md5s must equal the original
    table — the archival face of the north-star byte-identical-text
    invariant (one mangled byte anywhere in the record writer, the
    parser, or the UTF-8 round trip fails the hash)."""
    import shutil

    from serd_spark.sources.warc import read_wet, write_wet

    src = _pages(spark, sf_dir).select("url", "warc_ts", "text")
    _materialize(sf_dir, "wet_src", lambda: src)
    out = os.path.join(
        "/tmp/serd_spark_wet", os.path.basename(os.path.normpath(sf_dir))
    )
    shutil.rmtree(out, ignore_errors=True)
    write_wet(src, out, n_files=8).collect()
    return (
        read_wet(spark, out + "/*.wet")
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.date_format(
                F.max("warc_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("ts_max"),
            F.min(F.md5(F.encode("text", "UTF-8"))).alias("h_min"),
            F.max(F.md5(F.encode("text", "UTF-8"))).alias("h_max"),
        )
        .orderBy("url")
    )


def q_wat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT derivation fixpoint (sources/warc.py::wat_payload +
    write_wat/read_wat): per-page metadata JSON — url, title, href
    links — derived entirely JVM-side, written as Common-Crawl-style
    .wat metadata shards and read back. Per url the round-tripped
    JSON must md5-match the freshly-derived table (determinism +
    writer/parser integrity) and re-parse as JSON with the declared
    shape (links count extracted via from_json)."""
    import shutil

    from serd_spark.sources.warc import read_wat, wat_payload, write_wat

    src = _pages(spark, sf_dir).select(
        "url", "warc_ts", wat_payload().alias("wat")
    )
    _materialize(sf_dir, "wat_src", lambda: src)
    out = os.path.join(
        "/tmp/serd_spark_wat", os.path.basename(os.path.normpath(sf_dir))
    )
    shutil.rmtree(out, ignore_errors=True)
    write_wat(src, out, n_files=8).collect()
    back = read_wat(spark, out + "/*.wat")
    links = F.from_json(
        "wat", "struct<url:string,title:string,links:array<string>>"
    )["links"]
    return (
        back.groupBy("url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(F.md5(F.encode("wat", "UTF-8"))).alias("h_min"),
            F.max(F.md5(F.encode("wat", "UTF-8"))).alias("h_max"),
            F.sum(F.size(links)).cast("long").alias("n_links"),
        )
        .orderBy("url")
    )


def q_bitext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (bitext.py::bitext_mine — the
    LASER/CCMatrix ratio-margin recipe) across the even/odd halves of
    the embedding table: coarse-quantizer cells, query-side
    multi-probe, cell-equi-join candidates (never all-pairs), and
    exact integer-micros margin scoring. The probe/assignment tables
    are materialized; the oracle rebuilds candidates from them and
    replays cosines, both neighborhood rankings, the margin division
    and the forward-best rule in SQL."""
    from serd_spark.operators.bitext import bitext_mine

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    # IVF discipline: cells scale with the table (~64 vectors/cell)
    # so candidate volume stays ~n·n_probe·cell, linear in n — at
    # sf0.01 this resolves to the 16 cells the oracle replays
    n_cells = max(16, emb.count() // 64)
    pairs, a_probed, b_assigned = bitext_mine(
        a, b, n_centroids=n_cells, n_probe=3, k=4,
        margin_threshold_micros=1_020_000,
    )
    _materialize(
        sf_dir, "bitext_probes",
        lambda: a_probed.select("a_id", "centroid"),
    )
    _materialize(
        sf_dir, "bitext_assign",
        lambda: b_assigned.select("b_id", "centroid"),
    )
    return pairs.orderBy("a_id")


def q_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML <table> extraction to (page, table, row, col, cell) long
    form (tables.py::extract_tables — three chained regex+posexplode
    stages, pure JVM, map-only). Certified by declared ground truth:
    the generator renders 7 markup variants to match per-page
    table/row/cell counts and an md5 cell-content pin; the Spark side
    recovers all four from markup alone and counts exact matches,
    while the oracle aggregates only declared columns and asserts
    n_exact == n per variant."""
    from serd_spark.operators.tables import (
        cells_pin,
        extract_tables,
        synthesize_table_pages,
    )

    src = synthesize_table_pages(spark, max(70, _n_pages(sf_dir) // 8))
    _materialize(
        sf_dir, "tables_meta",
        lambda: src.select(
            "tbl_id", "variant", "n_tables", "n_rows", "n_cells", "pin"
        ),
    )
    ex = extract_tables(src)
    agg = ex.groupBy("tbl_id").agg(
        (F.max("t_idx") + 1).cast("long").alias("x_tables"),
        F.count_distinct(F.struct("t_idx", "r_idx"))
        .cast("long")
        .alias("x_rows"),
        F.count(F.lit(1)).cast("long").alias("x_cells"),
        cells_pin(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("t_idx", "r_idx", "c_idx", "cell")
                    )
                ),
                lambda s: s["cell"],
            )
        ).alias("x_pin"),
    )
    j = src.join(agg, "tbl_id", "left")
    exact = (
        (F.coalesce(F.col("x_tables"), F.lit(0)) == F.col("n_tables"))
        & (F.coalesce(F.col("x_rows"), F.lit(0)) == F.col("n_rows"))
        & (F.coalesce(F.col("x_cells"), F.lit(0)) == F.col("n_cells"))
        & F.col("x_pin").eqNullSafe(F.col("pin"))
    )
    return (
        j.groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(exact.cast("long")).cast("long").alias("n_exact"),
            F.sum("n_cells").cast("long").alias("cells"),
        )
        .orderBy("variant")
    )


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (stats.py::hll_sketch/hll_merge):
    per-hour HLL register tables over distinct (user, event_type),
    rolled up to an all-time estimate by register-wise MAX — raw
    events are NEVER rescanned for the coarse grain. The final rows
    pit the merged estimate against a direct full-scan sketch; max's
    associativity makes them identical, and the oracle replays hourly
    registers, the merge, and the direct sketch independently (the
    q_hll exact-integer harmonic arithmetic per grain)."""
    from serd_spark.operators.stats import (
        hll_estimate,
        hll_merge,
        hll_sketch,
    )

    e = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
        F.concat_ws("|", F.col("user_id"), F.col("event_type")).alias(
            "v"
        ),
    )
    # the register table is hours × 256 rows — checkpoint so the
    # per-hour and merged branches reuse one events scan
    hourly = hll_sketch(e, "v", p=8, by=("hour",)).localCheckpoint()
    tail = ["m", "n_regs", "zero_regs", "denom", "hll_est"]
    per_hour = hll_estimate(hourly, p=8, by=("hour",)).select(
        F.col("hour").alias("grain"), *tail
    )
    merged = hll_estimate(hll_merge(hourly), p=8).select(
        F.lit("zz:merged").alias("grain"), *tail
    )
    direct = hll_estimate(hll_sketch(e, "v", p=8), p=8).select(
        F.lit("zz:direct").alias("grain"), *tail
    )
    return (
        per_hour.unionByName(merged)
        .unionByName(direct)
        .orderBy("grain")
    )




__all__ = [
    '_inc_split',
    '_trade_edges',
    'q_anf',
    'q_asof_join',
    'q_assortativity',
    'q_bfs_hops',
    'q_bitext',
    'q_bm25',
    'q_boilerplate',
    'q_c4_filters',
    'q_chunking',
    'q_decontaminate',
    'q_dedup_incremental',
    'q_funnel',
    'q_hll_rollup',
    'q_kcore',
    'q_keyword_search',
    'q_kg_diff',
    'q_kmeans',
    'q_label_prop',
    'q_leakage_split',
    'q_length_batches',
    'q_mojibake',
    'q_pagerank',
    'q_pca',
    'q_pq_search',
    'q_readability',
    'q_semdedup',
    'q_skyline',
    'q_sq8',
    'q_sssp',
    'q_tables',
    'q_tfidf',
    'q_transitions',
    'q_triangles',
    'q_trustrank',
    'q_wat',
    'q_wet',
    'stream_funnel',
    'stream_upsert',
]
