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

    queries = {
        "kg_pipeline": entrymod.kg_predicates,  # extract+canon+dedup+agg
        "kg_roundtrip": entrymod.kg_roundtrip,
        "kg_linking": entrymod.kg_linking,
        "q_agg_pricing": entrymod.q_agg_pricing,
        "q_multi_join": entrymod.q_multi_join,
        "q_window_toporder": entrymod.q_window_toporder,
        "q_dedup_exact": entrymod.q_dedup_exact,
        "q_minhash_md5": entrymod.q_minhash_md5,
        "q_cosine_topk": entrymod.q_cosine_topk,
        "dedup_simhash": entrymod.dedup_simhash,
        "q_sessionize": entrymod.q_sessionize,
        "q_span_dedup": entrymod.q_span_dedup,
        "q_unigram_lm": entrymod.q_unigram_lm,
        "mm_frames": entrymod.mm_frames,
        # round-3 late additions (keys are additive; earlier keys stay
        # comparable round-over-round)
        "q_asof_join": entrymod.q_asof_join,
        "q_range_join": entrymod.q_range_join,
        "q_pagerank": entrymod.q_pagerank,
        "q_quantiles": entrymod.q_quantiles,
        "q_decontaminate": entrymod.q_decontaminate,
        "q_pack_sequences": entrymod.q_pack_sequences,
        "q_bpe_train": entrymod.q_bpe_train,
        "q_session_window": entrymod.q_session_window,
        # round-4 additions
        "mm_frame_decode": entrymod.mm_frame_decode,
        "q_triangles": entrymod.q_triangles,
        "q_bpe_tokenize": entrymod.q_bpe_tokenize,
        "q_bm25": entrymod.q_bm25,
        "q_kcore": entrymod.q_kcore,
        "q_label_prop": entrymod.q_label_prop,
        "q_kmeans": entrymod.q_kmeans,
        "q_pq_search": entrymod.q_pq_search,
        "q_line_dedup": entrymod.q_line_dedup,
        "q_bigram_lm": entrymod.q_bigram_lm,
        "q_url_canon": entrymod.q_url_canon,
        "q_winnow": entrymod.q_winnow,
        "q_dedup_incremental": entrymod.q_dedup_incremental,
        "q_domain_cap": entrymod.q_domain_cap,
        "q_semdedup": entrymod.q_semdedup,
        "q_host_graph": entrymod.q_host_graph,
        "q_host_rank": entrymod.q_host_rank,
        "q_zorder": entrymod.q_zorder,
        # round-4 session-3 additions
        "q_dsir": entrymod.q_dsir,
        "q_sketch_quantiles": entrymod.q_sketch_quantiles,
        "q_wminhash": entrymod.q_wminhash,
        "q_bloom_decon": entrymod.q_bloom_decon,
        "q_countmin": entrymod.q_countmin,
        "q_rrf_fusion": entrymod.q_rrf_fusion,
        # round-4 session-4 additions
        "q_hll": entrymod.q_hll,
        "q_sq8": entrymod.q_sq8,
        "q_mix": entrymod.q_mix,
        "q_hits": entrymod.q_hits,
        # round-4 session-5 additions
        "q_nb_quality": entrymod.q_nb_quality,
        "q_gazetteer": entrymod.q_gazetteer,
        "q_collocations": entrymod.q_collocations,
        "q_sem_decon": entrymod.q_sem_decon,
        "q_ccnet": entrymod.q_ccnet,
        "q_dup_clusters": entrymod.q_dup_clusters,
        "q_mm_dhash": entrymod.q_mm_dhash,
        "q_mm_audio": entrymod.q_mm_audio,
        "q_heavy_hitters": entrymod.q_heavy_hitters,
        "q_pair_mining": entrymod.q_pair_mining,
        "q_crawl": entrymod.q_crawl,
        "q_rare_mask": entrymod.q_rare_mask,
        "q_blocklist": entrymod.q_blocklist,
        "q_entropy": entrymod.q_entropy,
        "q_kg_twohop": entrymod.q_kg_twohop,
        "q_kg_negatives": entrymod.q_kg_negatives,
        "q_json_props": entrymod.q_json_props,
        # round-4 session-6 additions
        "q_mm_vp8": entrymod.q_mm_vp8,
        "q_chunking": entrymod.q_chunking,
        "q_leakage_split": entrymod.q_leakage_split,
        "q_mojibake": entrymod.q_mojibake,
        "q_transitions": entrymod.q_transitions,
        "q_boilerplate": entrymod.q_boilerplate,
        "q_profile": entrymod.q_profile,
        "q_crawl_delta": entrymod.q_crawl_delta,
        "q_sql_q5": entrymod.q_sql_q5,
        # round-4 session-7/8 additions
        "q_pca": entrymod.q_pca,
        "q_rdfs_entail": entrymod.q_rdfs_entail,
        "q_sparql": entrymod.q_sparql,
        "q_sparql_path": entrymod.q_sparql_path,
        "q_sparql_agg": entrymod.q_sparql_agg,
        "q_sameas": entrymod.q_sameas,
        "q_robots": entrymod.q_robots,
        "q_frontier": entrymod.q_frontier,
        "q_sitemap": entrymod.q_sitemap,
        "q_graphs": entrymod.q_graphs,
        # round-4 session-9 additions
        "q_c14n": entrymod.q_c14n,
        "q_mm_exif": entrymod.q_mm_exif,
        "q_anchor_text": entrymod.q_anchor_text,
        "q_nfc": entrymod.q_nfc,
        # round-4 session-10 additions
        "q_rdfxml": entrymod.q_rdfxml,
        "q_shacl": entrymod.q_shacl,
        "stream_hll": entrymod.stream_hll,
        "q_sparql_star": entrymod.q_sparql_star,
        "q_span_strip": entrymod.q_span_strip,
        # round-4 session-13 additions
        "q_sniff": entrymod.q_sniff,
        "q_transcode": entrymod.q_transcode,
        "q_fuzzy_join": entrymod.q_fuzzy_join,
        "q_setsim": entrymod.q_setsim,
        "q_phrase": entrymod.q_phrase,
        "q_sssp": entrymod.q_sssp,
        "q_feeds": entrymod.q_feeds,
        "q_apportion": entrymod.q_apportion,
        "q_url_templates": entrymod.q_url_templates,
        "q_priority_sample": entrymod.q_priority_sample,
        "q_rollup_cascade": entrymod.q_rollup_cascade,
        # round-4 session-14 additions
        "q_funnel": entrymod.q_funnel,
        "q_skyline": entrymod.q_skyline,
        "q_kg_diff": entrymod.q_kg_diff,
        "q_hll_rollup": entrymod.q_hll_rollup,
        "q_tables": entrymod.q_tables,
        "q_bitext": entrymod.q_bitext,
        "q_readability": entrymod.q_readability,
        "q_c4_filters": entrymod.q_c4_filters,
        "q_length_batches": entrymod.q_length_batches,
        "q_sql_q3": entrymod.q_sql_q3,
    }

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

    # cache key = (rows, seed, richness, generator-code hash): editing
    # sources/pages.py invalidates the cached corpus — a cache keyed
    # only by row count would silently benchmark stale input across
    # rounds
    import hashlib

    import serd_spark.sources.pages as _pages_mod

    seed, richness = 42, 8
    with open(_pages_mod.__file__, "rb") as fh:
        gen_hash = hashlib.blake2b(fh.read(), digest_size=6).hexdigest()
    corpus = (
        f"/tmp/serd_spark_bench_corpus_{n_pages}_s{seed}_r{richness}_{gen_hash}"
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
