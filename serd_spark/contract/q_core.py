"""Driver-contract query family (split out of __spark_entry__.py; same
functions, same names — the entry module re-exports everything)."""

from serd_spark.contract.helpers import *  # noqa: F401,F403


def kg_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.extract import extract_triples

    _materialize_extraction(spark, sf_dir)
    ext = extract_triples(_pages(spark, sf_dir), lax=True)
    return (
        ext.groupBy("syntax", "rec")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("syntax", "rec")
    )


def kg_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    _materialize_triples(spark, sf_dir)
    return (
        _kg_triples(spark, sf_dir)
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.count_distinct("s").alias("n_subjects"),
        )
        .orderBy(F.desc("n_triples"), "p")
        .limit(20)
    )


def kg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize every extracted triple to N-Triples, reparse the
    lines, count exact statement matches — the serd_writer round-trip
    invariant at corpus scale. Fused write+parse, one Python crossing
    (serialize.roundtrip_check)."""
    from serd_spark.operators.serialize import roundtrip_check

    _materialize_triples(spark, sf_dir)
    triples = _kg_triples(spark, sf_dir)
    per_batch = roundtrip_check(triples)
    return per_batch.agg(
        F.sum("n_lines").alias("n_lines"),
        F.sum("n_roundtrip").alias("n_roundtrip"),
    )


def kg_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash entity linking over the extracted graph: component
    sizes of linked surface IRIs."""
    from serd_spark.operators.linking import link_entities

    links, entities = link_entities(
        _kg_triples(spark, sf_dir), threshold=0.6
    )
    # Materialize the verified-link edge list: DuckDB recomputes the
    # connected components (recursive-CTE reachability closure + min
    # label) independently of Spark's union-find / label propagation.
    _materialize(
        sf_dir, "links", lambda: links.select("entity_a", "entity_b")
    )
    return (
        entities.groupBy("canon")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > 1)
        .orderBy(F.desc("n_members"), "canon")
        .limit(50)
    )


def kg_linking_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same linking stage forced down the DISTRIBUTED
    pointer-jumping connected-components path (driver_threshold=0 —
    the code that actually runs on a 100 TB link graph, linking.py
    label-propagation loop).  The DuckDB oracle recomputes the
    components with a recursive-CTE reachability closure over the
    independently-materialized edge list, so a hash match certifies
    the distributed path, not just the driver union-find."""
    from serd_spark.operators.linking import link_entities

    links, entities = link_entities(
        _kg_triples(spark, sf_dir), threshold=0.6, driver_threshold=0
    )
    _materialize(
        sf_dir, "links_dist", lambda: links.select("entity_a", "entity_b")
    )
    return (
        entities.groupBy("canon")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > 1)
        .orderBy(F.desc("n_members"), "canon")
        .limit(50)
    )


def kg_bad_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lax-mode side output: malformed-island counts by syntax
    (≙ serdi -l skip-and-count)."""
    from serd_spark.operators.extract import errors_only, extract_triples

    _materialize_extraction(spark, sf_dir)
    ext = extract_triples(_pages(spark, sf_dir), lax=True)
    return (
        errors_only(ext)
        .groupBy("syntax")
        .agg(
            F.count(F.lit(1)).alias("n_errors"),
            F.count_distinct("url").alias("n_docs"),
        )
        .orderBy("syntax")
    )


def kg_turtle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abbreviating Turtle writer (serd op-12): serialize each
    document, reparse, prove statement-count fixpoint."""
    from collections.abc import Iterator

    import pandas as pd

    from serd_spark.operators.serialize import serialize_turtle_documents
    from serd_spark.rdf.turtle import parse_turtle

    _materialize_triples(spark, sf_dir)
    docs = serialize_turtle_documents(
        _kg_triples(spark, sf_dir), prefixes={"s": "http://schema.org/"}
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok = 0
            for turtle, n in zip(pdf["turtle"], pdf["n_statements"]):
                stmts, errs = parse_turtle(turtle, "")
                if not errs and len(stmts) == n:
                    ok += 1
            yield pd.DataFrame(
                {"n_docs": [len(pdf)], "n_roundtrip": [ok]}
            )

    return docs.mapInPandas(
        verify, schema="n_docs long, n_roundtrip long"
    ).agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_roundtrip").alias("n_roundtrip"),
    )


def kg_hub_salting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew handling: hub detection + content-derived salting; output
    = per-salt row counts for the detected hub subjects (must spread
    across salts, non-hubs all salt 0)."""
    from serd_spark.operators.materialize import bucket_and_salt, detect_hubs

    triples = _kg_triples(spark, sf_dir)
    # sf-proportional threshold: ~1% of pages reference a hub, so a
    # few refs each at sf0.01 — production uses min_hub_refs=10_000
    hubs = detect_hubs(triples, top_k=8)
    bucketed = bucket_and_salt(triples, hubs, min_hub_refs=2)
    # Materialize the salted/bucketed table: the fresh Spark recompute
    # below must agree with DuckDB's re-aggregation of this file
    # (determinism of xxhash64 bucketing + content-derived salts).
    _materialize(
        sf_dir, "bucketed",
        lambda: bucketed.select("s", "subj_bucket", "salt"),
    )
    return (
        bucketed.groupBy((F.col("salt") > 0).alias("is_salted"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("salt").alias("n_salts"),
            F.count_distinct("subj_bucket").alias("n_buckets"),
        )
        .orderBy("is_salted")
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.dedup import (
        simhash_near_dups,
        simhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    # Materialize per-doc signatures so DuckDB can BRUTE-FORCE the
    # Hamming-≤3 pair set independently — a genuine oracle for the
    # chunk-LSH recall guarantee (4×16-bit chunks cover Hamming ≤3
    # fully by pigeonhole), not just a re-aggregation.
    _materialize(sf_dir, "simhash_sigs", lambda: simhash_signatures(docs))
    # max_hamming=3 is the chunk-LSH recall guarantee (4×16-bit
    # chunks cover Hamming ≤3 fully; beyond that recall is partial).
    # max_bucket=None: the DuckDB brute-force oracle expects the
    # COMPLETE pair set; the production default caps degenerate
    # buckets (tested separately in test_textops).
    return simhash_near_dups(docs, max_hamming=3, max_bucket=None).orderBy(
        "id_a", "id_b"
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.dedup import minhash_near_dups

    docs = _t(spark, sf_dir, "documents")
    _materialize_minhash(
        spark, sf_dir, docs, "minhash/sigs", "minhash/bands"
    )
    return minhash_near_dups(docs, threshold=0.5).orderBy(
        "entity_a", "entity_b"
    )


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.dedup import (
        embedding_near_dups,
        hyperplane_buckets,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # Materialize the LSH bucket assignment so DuckDB can replay the
    # bucket join + exact cosine independently (same plane seed).
    _materialize(
        sf_dir, "emb_buckets",
        lambda: hyperplane_buckets(emb, dim=64, n_planes=4).select(
            "vec_id", "bucket"
        ),
    )
    # testdata embeddings are near-random (max pairwise cos ≈ 0.51):
    # threshold 0.4 + 4 planes yields a non-trivial pair set
    return embedding_near_dups(emb, dim=64, threshold=0.4, n_planes=4).orderBy(
        "id_a", "id_b"
    )


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.similarity import (
        assign_centroids,
        ivf_topk,
        probe_ids,
        train_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = train_centroids(emb, n_centroids=16)
    assigned = assign_centroids(emb, cents)
    q = emb.filter(F.col("vec_id") == 0).first().embedding
    # Materialize the centroid assignment and probe list: DuckDB then
    # independently reruns the probe-filtered exact top-k search.
    _materialize(
        sf_dir, "ann_assign", lambda: assigned.select("vec_id", "centroid")
    )
    _materialize(
        sf_dir, "ann_probes",
        lambda: spark.createDataFrame(
            [(c,) for c in probe_ids(cents, list(q), 4)], "centroid int"
        ),
    )
    return ivf_topk(assigned, cents, list(q), k=10, n_probe=4)


def curate_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation (lang → quality → exact dedup →
    near-dup removal) with per-stage survivor counts."""
    from serd_spark.plans.curate import curate_documents, metrics_df

    docs = _t(spark, sf_dir, "documents")
    res = curate_documents(docs, keep_langs=("en",), near_dup_threshold=0.9)
    # The filter stages (lang, quality, exact dedup) are replayed
    # fully independently in the DuckDB mirror; only the LSH loser set
    # (non-SQL minhash) is materialized for the final subtraction.
    _materialize(sf_dir, "curate_losers", lambda: res.losers)
    return metrics_df(spark, res)


def curate_metrics_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 7-stage curation funnel: lang → quality → unigram-LM floor
    → exact dedup → duplicated-span cap → near-dup removal. The DuckDB
    mirror replays ALL filter stages independently (including the LM
    model fit on the post-quality corpus and the span frequency table
    over the post-exact corpus); only the LSH loser set is
    materialized."""
    from serd_spark.plans.curate import curate_documents, metrics_df

    docs = _t(spark, sf_dir, "documents")
    res = curate_documents(
        docs,
        keep_langs=("en",),
        near_dup_threshold=0.9,
        min_lp_mean_micros=-3_450_000,
        max_dup_span_frac=0.5,
    )
    _materialize(sf_dir, "curate_full_losers", lambda: res.losers)
    return metrics_df(spark, res)


def stream_extract_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end check: pages parquet dir →
    availableNow micro-batched extraction (maxFilesPerTrigger=2, so
    the corpus really flows through MULTIPLE batches + the streaming
    checkpoint/foreachBatch sink) → per-(syntax, rec) counts. The
    DuckDB oracle aggregates a BATCH extraction of the same pages —
    streaming-vs-batch equivalence, verified cross-engine."""
    import shutil

    from serd_spark.operators.extract import extract_triples
    from serd_spark.sources.pages import latest_crawl, synthesize_pages
    from serd_spark.streaming.incremental import run_incremental

    n = max(100, _n_pages(sf_dir) // 4)
    base = os.path.join(
        "/tmp/serd_spark_stream", os.path.basename(os.path.normpath(sf_dir))
    )
    pages_dir = os.path.join(base, "pages")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    _ensure_shipped(spark)
    latest_crawl(synthesize_pages(spark, n, seed=42)).repartition(
        6
    ).write.parquet(pages_dir)
    q = run_incremental(
        spark, pages_dir, out_dir, ckpt, max_files_per_trigger=2
    )
    q.awaitTermination()
    _materialize(
        sf_dir, "stream_batch_extract",
        lambda: extract_triples(
            spark.read.parquet(pages_dir),
            lax=True, canonicalize=True, dedup=True,
        ),
    )
    return (
        spark.read.parquet(out_dir)
        .groupBy("syntax", "rec")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("syntax", "rec")
    )


def stream_dedup_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming url dedup (applyInPandasWithState) driven
    end-to-end: raw pages (WITH re-crawl duplicates) flow through a
    multi-batch availableNow stream; the stateful operator keeps the
    deterministic (warc_ts, xxhash64(html))-max winner per url.  Files
    are url-partitioned so each url's rows land in ONE micro-batch —
    making the stream's output equal batch ``latest_crawl``, which the
    DuckDB oracle replays independently (arg_max per url over the
    materialized raw pages)."""
    import shutil

    from serd_spark.sources.pages import synthesize_pages
    from serd_spark.streaming.incremental import (
        stream_dedup_urls,
        stream_pages,
    )

    n = max(100, _n_pages(sf_dir) // 4)
    base = os.path.join(
        "/tmp/serd_spark_stream_dedup",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    pages_dir = os.path.join(base, "pages")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    _ensure_shipped(spark)
    # NO latest_crawl here — the duplicates are the point; url-hash
    # partitioning colocates every url's re-crawls in one file
    synthesize_pages(spark, n, seed=42).repartition(6, "url").write.parquet(
        pages_dir
    )

    ded = stream_dedup_urls(
        stream_pages(spark, pages_dir, max_files_per_trigger=2)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    q = (
        ded.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _materialize(
        sf_dir, "stream_raw_pages",
        lambda: spark.read.parquet(pages_dir).select(
            "url", "warc_ts", "text"
        ),
    )
    out = spark.read.parquet(out_dir)
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("url").alias("n_urls"),
        F.sum(F.unix_timestamp("warc_ts")).alias("sum_ts"),
        F.sum(F.length("text")).alias("total_len"),
    )


def stream_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-duplicate detection (applyInPandasWithState over
    SimHash chunk buckets) driven end-to-end: the documents table is
    staged as FOUR doc_id-ordered slice files written in mtime order,
    so arrival order == id order and the stream's "dup of the best
    earlier doc" rule equals the batch rule "dup of the (min hamming,
    then min id) doc with a smaller id" — which the DuckDB oracle
    brute-forces from independently materialized signatures. Recall
    below the state cap is exact (4×16-bit chunks cover Hamming ≤ 3
    by pigeonhole; sf0.01's 500 docs sit far below the cap)."""
    import shutil
    import time as _time

    from serd_spark.operators.dedup import simhash_signatures
    from serd_spark.streaming.incremental import stream_near_dup_docs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = os.path.join(
        "/tmp/serd_spark_stream_neardup",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    docs_dir = os.path.join(base, "docs")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    _ensure_shipped(spark)
    # four id-range slices, written sequentially: the file source
    # processes oldest-mtime first, making arrival order = id order
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    step = max(1, (hi - lo + 1) // 4)
    for k in range(4):
        a = lo + k * step
        b = hi + 1 if k == 3 else lo + (k + 1) * step
        sl = docs.filter((F.col("doc_id") >= a) & (F.col("doc_id") < b))
        if k:
            _time.sleep(1.05)  # distinct mtimes: deterministic order
        sl.coalesce(1).write.mode("append").parquet(docs_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    ded = stream_near_dup_docs(stream)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    q = (
        ded.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _materialize(
        sf_dir, "stream_simhash_sigs", lambda: simhash_signatures(docs)
    )
    # explicit schema: a corpus with NO near-dups leaves every batch
    # dir holding only _SUCCESS, and schema inference would raise
    out = spark.read.schema("doc_id long, dup_of long, hamming int").parquet(
        out_dir
    )
    return (
        out.groupBy("doc_id")
        .agg(F.min(F.struct("hamming", "dup_of")).alias("m"))
        .select(
            "doc_id",
            F.col("m.dup_of").alias("dup_of"),
            F.col("m.hamming").alias("hamming"),
        )
        .orderBy("doc_id")
    )


def kg_node_ctors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver exposure for the node constructors and the file-URI
    bridge (SURVEY §2A rows 8/15 — serd_node_new_integer/decimal/blob,
    serd_node_new_file_uri/serd_file_uri_parse equivalents): per-doc
    lexical forms computed by the Python ctors inside an Arrow batch,
    round-tripped in-process (parse(new_file_uri)==path,
    blob_decode(new_blob)==bytes — any violation raises and fails the
    query), then value-compared against a DuckDB mirror that rebuilds
    the same lexical forms in SQL."""
    from collections.abc import Iterator

    import pandas as pd

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from serd_spark.rdf.nodes import (
            blob_decode,
            file_uri_parse,
            new_blob,
            new_decimal,
            new_file_uri,
            new_integer,
            uri_to_path,
        )

        for pdf in batches:
            ids, int_lex, dec_lex, b64, furi, furi_host = (
                [], [], [], [], [], []
            )
            for i, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                raw = (text or "")[:8].encode("utf-8")
                blob = new_blob(raw)
                if blob_decode(blob) != raw:
                    raise AssertionError("blob round-trip failed")
                path = f"/data/doc {i}.nt"
                uri = new_file_uri(path)
                if file_uri_parse(uri) != (path, ""):
                    raise AssertionError("file URI round-trip failed")
                uri_h = new_file_uri(path, hostname="host.example")
                if file_uri_parse(uri_h) != (path, "host.example"):
                    raise AssertionError("hosted file URI round-trip failed")
                if uri_to_path(uri_h) != path:
                    raise AssertionError("uri_to_path mismatch")
                ids.append(i)
                int_lex.append(new_integer(i).value)
                dec_lex.append(new_decimal(i * 0.25, 2).value)
                b64.append(blob.value)
                furi.append(uri)
                furi_host.append(uri_h)
            yield pd.DataFrame(
                {
                    "doc_id": ids, "int_lex": int_lex, "dec_lex": dec_lex,
                    "b64": b64, "file_uri": furi, "file_uri_host": furi_host,
                }
            )

    _ensure_shipped(spark)
    return d.mapInPandas(
        run,
        schema=(
            "doc_id long, int_lex string, dec_lex string, b64 string, "
            "file_uri string, file_uri_host string"
        ),
    ).orderBy("doc_id")


def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.multimodal import (
        extract_features,
        synthesize_media,
    )

    media = synthesize_media(spark, max(64, _n_pages(sf_dir) // 8))
    feats = extract_features(media)
    _materialize(sf_dir, "mm_features", lambda: extract_features(media))
    # f0 summed in integer millionths (per-row round, then exact
    # integer sum) so the cross-engine compare is order-insensitive
    return feats.agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum(
            F.round(F.element_at("feature", 1).cast("double") * 1000000)
            .cast("long")
        ).alias("f0_millionths"),
    )




__all__ = [
    'ann_ivf',
    'curate_metrics',
    'curate_metrics_full',
    'dedup_embedding',
    'dedup_minhash_lsh',
    'dedup_simhash',
    'kg_bad_docs',
    'kg_extract',
    'kg_hub_salting',
    'kg_linking',
    'kg_linking_dist',
    'kg_node_ctors',
    'kg_predicates',
    'kg_roundtrip',
    'kg_turtle',
    'mm_features',
    'stream_dedup_pages',
    'stream_extract_counts',
    'stream_near_dups',
]
