"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Headline metric: end-to-end KG-construction throughput — pages/sec
through synthesize → extract → canonicalize → dedup → count (the
north-star pipeline). Per-query seconds for the operator families are
reported in "queries".

Scaling-efficiency protocol (BASELINE.md §6): run this twice, e.g.
  SPARK_GRAFT_CPUS=8 python bench.py
  SPARK_GRAFT_CPUS=32 python bench.py
and compare pages_per_sec; efficiency = (tp32 / tp8) / 4.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the per-query timings, in the order the "queries" JSON object has
# always printed them: new names are appended, so round-over-round
# comparison holds
BENCH_QUERIES = (
    "kg_pipeline", "kg_roundtrip", "kg_linking", "q_agg_pricing",
    "q_multi_join", "q_window_toporder", "q_dedup_exact", "q_minhash_md5",
    "q_cosine_topk", "dedup_simhash", "q_sessionize", "q_span_dedup",
    "q_unigram_lm", "mm_frames", "q_asof_join", "q_range_join", "q_pagerank",
    "q_quantiles", "q_decontaminate", "q_pack_sequences", "q_bpe_train",
    "q_session_window", "mm_frame_decode", "q_triangles", "q_bpe_tokenize",
    "q_bm25", "q_kcore", "q_label_prop", "q_kmeans", "q_pq_search",
    "q_line_dedup", "q_bigram_lm", "q_url_canon", "q_winnow",
    "q_dedup_incremental", "q_domain_cap", "q_semdedup", "q_host_graph",
    "q_host_rank", "q_zorder", "q_dsir", "q_sketch_quantiles", "q_wminhash",
    "q_bloom_decon", "q_countmin", "q_rrf_fusion", "q_hll", "q_sq8", "q_mix",
    "q_hits", "q_nb_quality", "q_gazetteer", "q_collocations", "q_sem_decon",
    "q_ccnet", "q_dup_clusters", "q_mm_dhash", "q_mm_audio",
    "q_heavy_hitters", "q_pair_mining", "q_crawl", "q_rare_mask",
    "q_blocklist", "q_entropy", "q_kg_twohop", "q_kg_negatives",
    "q_json_props", "q_mm_vp8", "q_chunking", "q_leakage_split", "q_mojibake",
    "q_transitions", "q_boilerplate", "q_profile", "q_crawl_delta",
    "q_sql_q5", "q_pca", "q_rdfs_entail", "q_sparql", "q_sparql_path",
    "q_sparql_agg", "q_sameas", "q_robots", "q_frontier", "q_sitemap",
    "q_graphs", "q_c14n", "q_mm_exif", "q_anchor_text", "q_nfc", "q_rdfxml",
    "q_shacl", "stream_hll", "q_sparql_star", "q_span_strip", "q_sniff",
    "q_transcode", "q_fuzzy_join", "q_setsim", "q_phrase", "q_sssp",
    "q_feeds", "q_apportion", "q_url_templates", "q_priority_sample",
    "q_rollup_cascade", "q_funnel", "q_skyline", "q_kg_diff", "q_hll_rollup",
    "q_tables", "q_bitext", "q_readability", "q_c4_filters",
    "q_length_batches", "q_sql_q3",
)
# bench name -> queries() name
_ALIASES = {"kg_pipeline": "kg_predicates"}  # extract+canon+dedup+agg


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as entrymod
    from serd_spark.session import get_spark
    from tools.hostmem import driver_mem

    # many executor threads in one JVM need heap headroom, but never
    # more than the host can give
    driver_mem()

    spark = get_spark(
        app_name="serd_spark-bench",
        master=f"local[{cpus}]",
        extra_conf={
            # tmpfs shuffle dirs + decoded-size-aware split sizing +
            # bounded Arrow batches: the conf the scaling protocol
            # validated (tools/scaling_bench.py)
            "spark.local.dir": "/dev/shm/spark-local"
            if os.path.isdir("/dev/shm")
            else "/tmp",
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    m = None
    try:
        import re

        m = re.search(r"sf([0-9.]+)", sf_dir)
    except Exception:
        pass
    sf = float(m.group(1)) if m else 0.1

    contract = entrymod.queries()
    queries = {n: contract[_ALIASES.get(n, n)] for n in BENCH_QUERIES}

    # warm the JVM AND the per-core Python workers once so per-query
    # numbers measure the queries, not session/worker startup
    spark.range(1000).selectExpr("sum(id)").collect()
    import pandas as pd  # noqa: F401

    def _warm(batches):
        for b in batches:
            yield b

    spark.range(0, 10000, 1, int(cpus)).mapInPandas(
        _warm, schema="id long"
    ).count()

    # headline FIRST (right after warmup, before the 22 query runs):
    # pages/sec through the fused extraction pipeline (scan parquet
    # pages → extract+canonicalize+dedup → count) on a realistic-
    # page-size corpus (richness 8 ≈ tens-of-KB documents). Measuring
    # it after the query sweep let accumulated JVM heap/GC state
    # contaminate the flagship number.
    n_pages = int(
        os.environ.get("SPARK_GRAFT_BENCH_PAGES", str(int(1_000_000 * sf)))
    )
    from serd_spark.operators.extract import extract_triples, triples_only
    from serd_spark.sources.pages import latest_crawl, synthesize_pages

    # cache key = (rows, seed, richness, package hash): the generator
    # imports beyond sources/pages.py (rdf/ntriples escaping), so any
    # package edit invalidates the cached corpus — a narrower key would
    # silently benchmark stale input across rounds
    seed, richness = 42, 8
    corpus = (
        f"/tmp/serd_spark_bench_corpus_{n_pages}_s{seed}_r{richness}"
        f"_{entrymod._pkg_hash()}"
    )
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        latest_crawl(
            synthesize_pages(spark, n_pages, seed=seed, richness=richness)
        ).repartition(96).write.mode("overwrite").parquet(corpus)
    pages = spark.read.parquet(corpus)

    # min of 2: this host shows epoch-scale external interference
    # (±30%, occasional 5× spikes — BENCH/BASELINE.md); a single-shot
    # headline can record a spike instead of the engine
    wall = float("inf")
    n_triples = 0
    for _ in range(2):
        t0 = time.time()
        triples = triples_only(
            extract_triples(pages, lax=True, canonicalize=True, dedup=True)
        )
        n_triples = triples.count()
        wall = min(wall, time.time() - t0)
    pages_per_sec = n_pages / wall

    # min of 2 per query (same epoch-interference rationale as the
    # headline; the second run is also closer to steady-state codegen)
    timings: dict[str, float] = {}
    for name, fn in queries.items():
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        _ = n

    print(
        json.dumps(
            {
                "metric": "kg_pipeline_pages_per_sec",
                "value": round(pages_per_sec, 2),
                "unit": "pages/sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "n_pages": n_pages,
                "n_triples": n_triples,
                "triples_per_sec": round(n_triples / wall, 2),
                "pipeline_wall_sec": round(wall, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
