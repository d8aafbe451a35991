"""Driver-contract query family (split out of __spark_entry__.py; same
functions, same names — the entry module re-exports everything)."""

from serd_spark.contract.helpers import *  # noqa: F401,F403


# ---------------------------------------------------------------------
# SQL-expressible queries (DuckDB-oracled)
# ---------------------------------------------------------------------

def mm_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-metadata probing WITHOUT decode: per-payload byte
    parsing (BMP/PNG/JPEG headers, WAV sample math, MP4 moov boxes)
    aggregated per container.  The DuckDB oracle recomputes the same
    aggregates from the media table's DECLARED metadata columns —
    which never touched the payload bytes — so a hash match proves
    byte-level probing reproduces the generator's ground truth."""
    from serd_spark.operators.multimodal import (
        probe_media,
        synthesize_media,
    )

    media = synthesize_media(spark, max(64, _n_pages(sf_dir) // 8))
    _materialize(
        sf_dir, "mm_media_meta",
        lambda: media.select(
            "media_id", "kind", "mime", "width", "height", "duration_ms"
        ),
    )
    return (
        probe_media(media)
        .groupBy("container")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("width").alias("sum_w"),
            F.sum("height").alias("sum_h"),
            F.sum("duration_ms").alias("sum_dur"),
            F.sum("n_tracks").alias("sum_tracks"),
        )
        .orderBy("container")
    )


def mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-range video frame sampling over REAL parsed MP4 sample
    tables (stts/stsz/stsc/stco). The DuckDB oracle rebuilds the whole
    sample layout — 10 fps schedule, per-sample size formula,
    contiguous chunk offsets from 4096 — from DECLARED metadata that
    never touched the payload bytes, so a hash match proves the box
    parser recovers the generator's ground-truth byte ranges."""
    from serd_spark.operators.multimodal import (
        sample_frames,
        synthesize_media,
    )

    media = synthesize_media(spark, max(64, _n_pages(sf_dir) // 8))
    _materialize(
        sf_dir, "mm_media_meta",
        lambda: media.select(
            "media_id", "kind", "mime", "width", "height", "duration_ms"
        ),
    )
    return sample_frames(media, every_ms=1000).groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.max("frame_idx").cast("long").alias("max_frame"),
        F.sum("n_bytes").cast("long").alias("sum_bytes"),
        F.max(F.col("byte_off") + F.col("n_bytes"))
        .cast("long")
        .alias("max_end_off"),
    )


def mm_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling that ends in PIXELS: MJPEG-in-MP4 payloads
    (every mdat sample a real baseline JPEG) → sample table parse →
    ranged slice → JPEG decode → per-frame luminance features. The
    oracle is hybrid: the STRUCTURE columns (n_sampled, max_frame,
    frame dims) are recomputed by DuckDB from the generator formulas
    alone — no payload bytes — while the luminance sums re-aggregate
    the materialized per-frame rows (mm_features pattern: the Spark
    side decodes from scratch, so a hash match proves deterministic
    decode + structural agreement with declared ground truth)."""
    from serd_spark.operators.multimodal import (
        decode_frames,
        synthesize_mjpeg_media,
    )

    media = synthesize_mjpeg_media(spark, max(32, _n_pages(sf_dir) // 64))
    _materialize(
        sf_dir, "mm_frame_decode",
        lambda: decode_frames(media, every_ms=300),
    )
    return decode_frames(media, every_ms=300).groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.max("frame_idx").cast("long").alias("max_frame"),
        F.max("fw").cast("long").alias("fw"),
        F.max("fh").cast("long").alias("fh"),
        F.sum("lum_mean_u").cast("long").alias("sum_lum_mean_u"),
        F.sum("lum_std_u").cast("long").alias("sum_lum_std_u"),
    )


def q_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIME + charset sniffing from payload BYTES alone (magic numbers,
    BOMs, WHATWG control-byte rule, ASCII meta/encoding declarations —
    one pure-JVM codegen projection, serd's choose_syntax role widened
    to web containers). Grouped by the generator's DECLARED ground
    truth with an exact-match counter: the DuckDB oracle aggregates the
    declared columns (never touching a payload byte) and asserts
    n_exact == n, so a hash match proves the sniffer recovers the
    ground truth on EVERY row of all 18 variants."""
    from serd_spark.operators.sniff import (
        sniff_responses,
        synthesize_responses,
    )

    resp = synthesize_responses(spark, max(72, _n_pages(sf_dir) // 8))
    _materialize(
        sf_dir, "sniff_meta",
        lambda: resp.select("resp_id", "mime", "charset"),
    )
    return (
        sniff_responses(resp)
        .groupBy("mime", "charset")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                (
                    (F.col("sniffed_mime") == F.col("mime"))
                    & (F.col("sniffed_charset") == F.col("charset"))
                ).cast("long")
            ).alias("n_exact"),
        )
        .orderBy("mime", "charset")
    )


def q_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search for "table hash" — consecutive-token
    matching, row-local (no explode/join/shuffle on the corpus side;
    corpus.py::phrase_search). Emits per-doc match count and the
    1-based first position; the oracle replays the token array and
    the start-offset filter with DuckDB list ops."""
    from serd_spark.operators.corpus import phrase_search

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_search(d, "table hash").orderBy("doc_id")


def q_setsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard≥0.8 similarity self-join (prefix filtering, no
    LSH approximation, no cartesian — fuzzy.py::set_similarity_join)
    over word-3-gram shingle sets: documents plus an appended-token
    twin for every 7th doc. The oracle replays shingling, the global
    (df, token) order, per-set prefix math, the size bound and its
    own list_intersect verify — the whole AllPairs pipeline twice."""
    from serd_spark.operators.fuzzy import set_similarity_join

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id"), "text"
    )
    twins = d.filter(F.col("id") % 7 == 0).select(
        (F.col("id") + 1000000).alias("id"),
        F.concat(F.col("text"), F.lit(" mut alpha beta gama")).alias(
            "text"
        ),
    )
    arr = F.split(
        F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")),
        " ",
    )
    # BOUND-COLUMN staging (the winnow-HOF discipline, CLAUDE.md):
    # element_at over the inline `arr` expression re-evaluates the
    # whole split per lambda element — quadratic per document.
    # Materializing the token array as a column first, then building
    # grams over the bound column, dropped the shingle stage from
    # ~26 s to ~2 s at sf0.1.
    a = F.col("_a")
    grams = F.when(
        F.size(a) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(a) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(a, i),
                    F.element_at(a, i + 1),
                    F.element_at(a, i + 2),
                ),
            )
        ),
    )
    # the 2 MB split cap leaves this small parquet on ~2 input
    # splits — spread the (interpreted) shingle HOF across ALL cores
    # (cores-derived, not a baked local constant: 2× parallelism is
    # the floor that keeps every core busy through the stragglers)
    # and pin the arrays ONCE for the join's multiple consumers
    n_parts = 2 * spark.sparkContext.defaultParallelism
    sets = (
        d.unionAll(twins)
        .repartition(n_parts, "id")
        .select("id", arr.alias("_a"))
        .select("id", grams.alias("toks"))
        .filter(F.col("toks").isNotNull())
        .localCheckpoint()
    )
    # explicit (survives python -O) and JVM-side: the partition count
    # of the checkpointed RDD, without a DataFrame→Python-RDD hop
    if (
        sets._jdf.queryExecution().toRdd().getNumPartitions()
        < spark.sparkContext.defaultParallelism
    ):
        raise RuntimeError(
            "q_setsim: shingle stage collapsed below one partition per core"
        )
    return set_similarity_join(sets, t_permille=800).orderBy(
        "id_a", "id_b"
    )


def q_transcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset transcoding to UTF-8 character text driven by the
    SNIFFED charset (sniff.py::transcode_text — total, pure JVM):
    per declared charset, how many payloads decode and how many
    recover the generator's declared text EXACTLY (null-safe
    equality), plus an md5 content pin over the recovered text. The
    oracle reads only declared columns and asserts n_exact == n — a
    hash match proves byte→character recovery is exact on every text
    variant (utf-8, BOM'd, latin-1, utf-16le/be) and null on every
    binary one."""
    from serd_spark.operators.sniff import (
        sniff_responses,
        synthesize_responses,
        transcode_text,
    )

    resp = synthesize_responses(spark, max(72, _n_pages(sf_dir) // 8))
    _materialize(
        sf_dir, "sniff_text",
        lambda: resp.select("resp_id", "charset", "text"),
    )
    out = sniff_responses(resp).withColumn(
        "rec", transcode_text(F.col("payload"), F.col("sniffed_charset"))
    )
    pin = F.conv(F.substring(F.md5("rec"), 1, 10), 16, 10).cast("long")
    return (
        out.groupBy("charset")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("rec").alias("n_text"),
            F.sum(
                F.col("rec").eqNullSafe(F.col("text")).cast("long")
            ).alias("n_exact"),
            F.sum(pin).alias("pin"),
        )
        .orderBy("charset")
    )


def q_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC snippets for the phrase "table hash", 3 context tokens
    each side (corpus.py::phrase_snippets — row-local, bounded
    output). The oracle rebuilds each snippet with list_slice over
    the same token arrays."""
    from serd_spark.operators.corpus import phrase_snippets

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_snippets(d, "table hash", window=3).orderBy("doc_id")


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 similarity join WITHOUT a cartesian product:
    SymSpell deletion-neighborhood blocking (exact recall at k=1 by
    the pigeonhole argument — fuzzy.py) + JVM levenshtein verify.
    Input: md5-prefix names from customer plus a mutated twin (one
    char deleted at a closed-form position) for every 5th row; the
    oracle replays the generation, the blocking (DuckDB
    list_transform range-deletes) and its own levenshtein end to end,
    so matching rows certify recall AND precision of the whole join."""
    from serd_spark.operators.fuzzy import fuzzy_join

    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id"),
        F.concat(
            F.lower("c_mktsegment"),
            F.lit(" "),
            F.substring(F.md5("c_name"), 1, 12),
        ).alias("name"),
    )
    t = base.filter(F.col("id") % 5 == 0).withColumn(
        "pos", (F.col("id") % 8 + 3).cast("int")
    )
    twins = t.select(
        (F.col("id") + 1000000).alias("id"),
        F.concat(
            F.substring(F.col("name"), F.lit(1), F.col("pos") - 1),
            F.substring(
                F.col("name"), F.col("pos") + 1, F.length("name")
            ),
        ).alias("name"),
    )
    return fuzzy_join(base.unionAll(twins)).orderBy("id_a", "id_b")


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 45)
        & (F.col("l_shipdate") >= F.lit("1995-01-01"))
    ).select(
        "l_orderkey",
        "l_linenumber",
        _cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "gross_cents"
        ),
    )


def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("sum_disc_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("revenue_cents"),
        )
        .orderBy("c_mktsegment")
    )


def q_multi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents")
        )
        .orderBy("r_name", "n_name")
    )


def q_window_toporder(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            _cents(F.col("o_totalprice")).alias("top_cents"),
        )
    )


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", _cents(F.col("o_totalprice")).alias("price_cents"))
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    no_orders = c.subtract(o).withColumn("tag", F.lit("no_orders"))
    has_orders = c.intersect(o).withColumn("tag", F.lit("has_orders"))
    return no_orders.union(has_orders).select("tag", "c_custkey")


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("sum_cents"),
        )
        .orderBy("o_orderpriority", "o_orderstatus")
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("value_cents"),
        )
        .orderBy("hour_start", "event_type")
    )


def q_events_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        )
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    # events.ts is TIMESTAMP_NTZ in the parquet; unix_micros wants TIMESTAMP
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    boundary = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    return (
        e.withColumn("boundary", boundary)
        .groupBy("user_id")
        .agg(
            F.sum("boundary").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents")).orderBy("fp")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import bpe_ish_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    # Counts cast to LONG so the Arrow dtype matches DuckDB's BIGINT
    # (the driver compare is representation-sensitive).
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_pieces"),
        F.length(F.trim(F.col("text"))).cast("long").alias("n_chars_trim"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import quality_features

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = quality_features(d).drop("text")
    # Integer feature columns → LONG to match DuckDB BIGINT in the oracle.
    return out.select(
        *[
            F.col(c).cast("long").alias(c)
            if t in ("int", "smallint", "tinyint")
            else F.col(c)
            for c, t in out.dtypes
        ]
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp_md5"))


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document (type-token ratio,
    top-2-gram fraction, duplicate-3-gram fraction, duplicate-line
    fraction) — pure built-ins; the per-doc mode is a JVM fold over
    the sorted shingle array, no explode/groupBy shuffle."""
    from serd_spark.operators.text import repetition_features

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_features(d).drop("text")


def q_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII flag + redaction counts. The synthetic documents carry no
    contact spans, so the query first derives a text that provably
    does — a deterministic pure function of (doc_id, text), built
    identically in the SQL mirror — then counts and redacts."""
    from serd_spark.operators.text import pii_counts, redact_pii

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    c = F.concat(
        F.col("text"),
        F.lit(" contact user"), did, F.lit("@mail.example.com or 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    return d.select(
        "doc_id",
        *[cnt.cast("long").alias(f"pii_{kind}") for kind, cnt in pii_counts(c)],
        F.length(redact_pii(c)).cast("long").alias("redacted_len"),
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    ids = d.select(F.col("doc_id").alias("id_a"))
    pairs = ids.withColumn("id_b", F.col("id_a") + 1).join(
        d.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
    )
    return ngram_jaccard_pairs(pairs, d).orderBy("id_a")


def q_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-mirrorable minhash: per-doc min of md5(3-gram ‖ seed) for
    4 seeds — the signature construction the LSH path vectorizes with
    numpy, here in pure built-ins so DuckDB can verify it."""
    from serd_spark.operators.dedup import char_ngrams

    d = _t(spark, sf_dir, "documents")
    # min-per-seed computed with array_min over a transform of the
    # per-row gram array: shuffle-free (no explode + groupBy), same
    # result as the grouped form the oracle uses
    grams = char_ngrams(F.col("text"), 3)
    return d.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(grams, lambda g: F.md5(F.concat(g, F.lit(str(s)))))
            ).alias(f"h{s}")
            for s in range(4)
        ],
    ).orderBy("doc_id")


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).first().embedding
    return brute_force_topk(emb, list(q), k=10)


# Brute-force certification queries are capped: a crossJoin over the
# embeddings table is O(n²) by construction and exists ONLY to certify
# the bucketed scale paths (dedup_embedding / ann_ivf) at oracle scale.
# Above this many rows the guard refuses rather than silently launching
# a cartesian product that would never finish at 100 TB.
def q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup pairs (cos ≥ 0.45, brute force) —
    the DuckDB-checkable baseline for the LSH-bucketed
    ``dedup_embedding`` scale path. Guarded: refuses inputs past
    ``_BRUTE_FORCE_ROW_CAP`` rows instead of going O(n²) at scale."""
    from serd_spark.operators.dedup import cosine

    emb = _t(spark, sf_dir, "embeddings")
    _assert_brute_force_scale(emb, "q_embedding_dups")
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("cos") >= 0.45)
        .select("id_a", "id_b", "cos")
    )


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN join for 5 query vectors (brute force) — the
    DuckDB-checkable baseline for the IVF-pruned ``ann_ivf`` scale
    path. Guarded like ``q_embedding_dups``."""
    from serd_spark.operators.dedup import cosine

    emb = _t(spark, sf_dir, "embeddings")
    _assert_brute_force_scale(emb, "q_knn_join")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    pairs = qs.crossJoin(emb).filter(F.col("vec_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        F.col("vec_id").alias("n_id"),
        F.round(cosine(F.col("q_vec"), F.col("embedding")), 6).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.col("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("q_id", "n_id", "cos")
    )


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplicated k-token span statistics per document (the
    exact-substring dedup signal). The DuckDB mirror re-shingles the
    corpus and recomputes the span frequency table independently."""
    from serd_spark.operators.corpus import span_dedup_stats

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return span_dedup_stats(d, k=10)


def q_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring REMOVAL (corpus.py::strip_duplicated_spans —
    Lee et al. 2022): every corpus-duplicated 10-token span keeps its
    globally-first (doc_id, pos) occurrence, all other occurrences'
    tokens are removed with overlaps unioned, and each document's
    surviving text is rebuilt in ONE numpy mapInPandas crossing
    (O(n) diff/cumsum interval union). The oracle replays the whole
    pass on raw grams: positioned shingles, per-span (count, first)
    via windows, coverage expansion, anti-join, ORDER-pinned
    reassembly and md5."""
    from serd_spark.operators.corpus import strip_duplicated_spans

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = strip_duplicated_spans(d, k=10)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5("kept_text").alias("kept_md5"),
    ).orderBy("doc_id")


def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived unigram LM score per document. vocab_size=32 is
    deliberately below the corpus vocabulary so the out-of-vocabulary
    pricing path is exercised and cross-checked too."""
    from serd_spark.operators.corpus import unigram_logprob

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_logprob(d, vocab_size=32)


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints (corpus.py::winnow_stats,
    k=10 w=4): per-doc span count, fingerprint count (~2/(w+1)
    compression), and the XOR of the distinct fingerprint set — an
    order-independent value pin. The positioned span hashes are
    materialized; DuckDB replays the winnow itself (per-position
    w-window MIN → distinct → count/xor) independently. The hash
    layer below is certified separately by q_span_dedup's raw-gram
    oracle."""
    from serd_spark.operators.corpus import span_hashes, winnow_stats

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    _materialize(
        sf_dir, "winnow_spans",
        lambda: d.select(
            "doc_id",
            F.posexplode(span_hashes(F.col("text"), 10)).alias("pos", "h"),
        ),
    )
    return winnow_stats(d, k=10, w=4)


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs from SHARED winnowing fingerprints —
    the MOSS end use of q_winnow's fingerprint sets: docs that share
    a min-window fingerprint are exact-overlap candidates, with
    n_shared as the match-strength signal. k=3 spans (short, so the
    synthetic 40-word-vocabulary corpus genuinely collides — real
    text uses k=8-10, where winnowed collisions mean real overlap;
    at sf0.1 this deliberate miscalibration yields 337k candidate
    pairs from 5k docs, which is the corpus's property, not the
    plan's), w=4 windows; fingerprint
    buckets larger than 32 docs are pruned before the self-join
    (boilerplate guard — the linking.candidate_pairs shape; a no-op
    at this scale, load-bearing at 100 TB). The oracle replays prune
    + join + count from the materialized (doc_id, f) table; the
    winnow derivation itself is pinned by q_winnow's XOR oracle and
    the unit reference."""
    from serd_spark.operators.corpus import (
        _min_parallelism,
        span_hashes,
        winnow_from_spans,
    )

    d = _min_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    fps = (
        d.select("doc_id", span_hashes(F.col("text"), 3).alias("_spans"))
        .select(
            "doc_id",
            F.explode(winnow_from_spans(F.col("_spans"), 4)).alias("f"),
        )
        .distinct()
    )
    _materialize(sf_dir, "winnow_pair_fps", lambda: fps)
    hot = (
        fps.groupBy("f")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") > 32)
    )
    kept = fps.join(F.broadcast(hot), "f", "left_anti")
    a = kept.select(F.col("f"), F.col("doc_id").alias("id_a"))
    b = kept.select(F.col("f"), F.col("doc_id").alias("id_b"))
    return (
        a.join(b, "f")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (corpus.py::canonical_url — JVM regex
    only) over messy URLs synthesized deterministically from doc_id
    on BOTH engines (the PII-op precedent): six junk classes (upper
    case, default ports, fragments, utm_*/fbclid/gclid params).
    n_variants counts how many raw variants collapse onto each
    canonical key — the crawl-dedup use. The oracle re-synthesizes
    the URLs and re-canonicalizes with its own regex chain."""
    from pyspark.sql import Window
    from serd_spark.operators.corpus import canonical_url

    d = _t(spark, sf_dir, "documents").select("doc_id")
    c = F.col("doc_id")
    site = F.concat(F.lit("site"), (c % 20).cast("string"))
    pid = (c % 100).cast("string")
    qid = (c % 50).cast("string")
    u = (
        F.when(c % 6 == 0, F.concat(
            F.lit("HTTPS://"), F.upper(site),
            F.lit(".Example.COM:443/p/"), pid,
            F.lit("?utm_source=x&id="), qid))
        .when(c % 6 == 1, F.concat(
            F.lit("https://"), site, F.lit(".example.com/p/"), pid,
            F.lit("?id="), qid))
        .when(c % 6 == 2, F.concat(
            F.lit("http://"), site, F.lit(".example.com:80/p/"), pid,
            F.lit("#sec")))
        .when(c % 6 == 3, F.concat(
            F.lit("https://"), site, F.lit(".example.com/p/"), pid,
            F.lit("?fbclid=ABC"), qid))
        .when(c % 6 == 4, F.concat(
            F.lit("https://"), site, F.lit(".example.com/p/"), pid,
            F.lit("?gclid=1&id="), qid, F.lit("&utm_medium=m")))
        .otherwise(F.concat(
            F.lit("http://"), site, F.lit(".example.com/p/"), pid))
    )
    out = d.select("doc_id", u.alias("url")).withColumn(
        "canon", canonical_url(F.col("url"))
    )
    return out.withColumn(
        "n_variants",
        F.count(F.lit(1)).over(Window.partitionBy("canon")).cast("long"),
    )


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived BIGRAM LM score per document
    (corpus.py::bigram_logprob — conditional ln(c(prev,w)/c(prev)) in
    integer micros, the KenLM-shaped transition-fluency signal).
    vocab_size=32 is deliberately below the corpus pair vocabulary so
    the OOV pricing path is exercised; the oracle rebuilds the whole
    model from raw text with a structurally DIFFERENT pair derivation
    (positional lateral unnest vs Spark's shifted-array transform)."""
    from serd_spark.operators.corpus import bigram_logprob

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_logprob(d, vocab_size=32)


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (corpus.py::dsir_weights — hashed
    word-bigram features, add-1-smoothed target/raw bucket
    distributions, per-term integer-micros ln ratios). Target
    distribution = English documents; selected ⇔ more target-like
    than raw-like. The oracle rebuilds BOTH distributions and every
    document weight from raw text with its own bigram derivation
    (positional lateral unnest vs Spark's shifted-array transform)
    and DuckDB's own hex→int bucket cast."""
    from serd_spark.operators.corpus import dsir_weights

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return dsir_weights(d, F.col("lang") == "en", n_buckets=512)


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3/PaLM-style weak-label quality classifier
    (classify.py::nb_quality): multinomial Naive Bayes trained in one
    hash aggregate on "source is in the trusted set" labels, then
    every document scored by a broadcast-model join — the classifier
    family whose training IS a groupBy, so the whole fit+score is
    SQL-replayable. All log terms integer micros; pred = keep
    decision. The oracle rebuilds counts, totals, vocabulary size,
    prior and every document score from raw text."""
    from serd_spark.operators.classify import nb_quality

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return nb_quality(
        d, F.col("source").isin("src0", "src1", "src2", "src3")
    )


# shared by the Spark query and the DuckDB oracle so the two engines
# can never disagree on the dictionary (the SQL VALUES list is
# generated from this exact list)
_GAZETTEER = ["spark", "hash join", "sort merge", "data stream", "window"]


def q_gazetteer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-based entity-mention extraction
    (classify.py::gazetteer_mentions) — the FlashText/gazetteer step
    that seeds KG entity linking: a broadcast dictionary of 1- and
    2-token surface forms matched against every document's token
    stream (bigrams formed from the shifted token array, never a
    positional self-join). The oracle re-derives unigram and bigram
    candidates with a positional lateral unnest and joins the same
    VALUES dictionary."""
    from serd_spark.operators.classify import gazetteer_mentions

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return gazetteer_mentions(d, _GAZETTEER)


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (corpus.py::pmi_collocations — the
    word2vec-phrases / Church-&-Hanks pass): adjacent-pair PMI over
    the corpus with a min-count guard and a (pmi DESC, pair ASC)
    top-k via TakeOrderedAndProject. The PMI argument is a pinned
    DOUBLE parenthesization over exact integer counts, ln'd and
    rounded to micros — the oracle replays counts, the identical
    float expression, and the cut."""
    from serd_spark.operators.corpus import pmi_collocations

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pmi_collocations(d, top_k=40, min_count=5)


def q_sem_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination
    (similarity.py::semantic_decontaminate): vec_id % 37 == 0 plays
    the benchmark set (broadcast), every other vector is corpus; per
    corpus vector the max 6-dp cosine in integer micros, the count of
    benchmark items above threshold, and the contamination flag —
    the semantic complement to q_decontaminate's exact 13-gram rule.
    The oracle replays every pair cosine, the micro scaling, and both
    aggregates."""
    from serd_spark.operators.similarity import semantic_decontaminate

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return semantic_decontaminate(
        emb, F.col("vec_id") % 37 == 0, threshold_micros=450_000
    )


def q_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (corpus.py::ccnet_buckets):
    per-language head/middle/tail thirds by bigram-LM mean log-prob
    (vocab 32 so the OOV path is exercised, as in q_bigram_lm), cuts
    at permille 333/667 via exact_quantiles' rank rule. Composition
    certificate: the oracle rebuilds the bigram model (its own pair
    derivation), the per-lang distinct-value cumsum, the ceil rank
    rule, and the bucket CASE."""
    from serd_spark.operators.corpus import ccnet_buckets

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return ccnet_buckets(d, vocab_size=32)


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate document clusters with a canonical survivor
    (dedup.py::dup_clusters): the LSH pair set closed transitively by
    connected components, min-string-id canon per cluster, singletons
    rejoined — "drop the non-canonical rows" as one filter. The
    oracle replays the ENTIRE chain from the materialized
    signatures/bands: bucket-cap prune, band join, agreement verify
    (threshold 0.5 — same contract as dedup_minhash_lsh), recursive-
    CTE reachability closure, canon labels, sizes, and flags."""
    from serd_spark.operators.dedup import dup_clusters

    docs = _t(spark, sf_dir, "documents")
    _materialize_minhash(
        spark, sf_dir, docs, "minhash/sigs", "minhash/bands"
    )
    return dup_clusters(docs, threshold=0.5)


def q_mm_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual-hash dedup (multimodal.py::dhash64 /
    image_dhash — the LAION-style multimodal near-dup primitive) over
    synthesized variant groups: the same pixels as BMP and PNG/VP8L
    must hash IDENTICALLY (lossless_match certifies real cross-format
    decode + the pinned integer dHash), the q92 JPEG re-encode of the
    same pixels reports its Hamming distance, and an unrelated
    control image anchors the far field. The oracle replays the group
    pivot and xor/bit_count arithmetic from the materialized
    (media_id, dhash) table; the hash layer itself is certified by
    the independent-reference unit tests and the cross-format match
    this query asserts."""
    from serd_spark.operators.multimodal import (
        image_dhash,
        synthesize_image_variants,
    )

    media = synthesize_image_variants(spark, max(16, _n_pages(sf_dir) // 64))
    _materialize(sf_dir, "mm_dhash", lambda: image_dhash(media))
    g = image_dhash(media).select(
        F.expr("media_id div 4").alias("group_id"),
        (F.col("media_id") % 4).alias("v"),
        "dhash",
    )
    p = g.groupBy("group_id").agg(
        *[
            F.max(F.when(F.col("v") == i, F.col("dhash"))).alias(f"h{i}")
            for i in range(4)
        ]
    )
    return p.select(
        "group_id",
        (F.col("h0") == F.col("h1")).cast("int").alias("lossless_match"),
        F.bit_count(F.col("h0").bitwiseXOR(F.col("h2")))
        .cast("long")
        .alias("jpeg_hamming"),
        F.bit_count(F.col("h0").bitwiseXOR(F.col("h3")))
        .cast("long")
        .alias("control_hamming"),
    )


def q_mm_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio energy windowing (multimodal.py::audio_energy — the
    VAD/silence-segmentation primitive) over integer-sawtooth WAVs
    whose every sample is a pure integer function of
    (media_id, index). End-to-end certificate: Spark goes
    bytes → wave decode → numpy windowed sum-of-squares; the oracle
    REGENERATES every raw sample with generate_series and re-windows
    — a divergence anywhere in the PCM path (byte order, truncation,
    window edges) breaks the hash."""
    from serd_spark.operators.multimodal import (
        audio_energy,
        synthesize_audio_saw,
    )

    media = synthesize_audio_saw(spark, max(16, _n_pages(sf_dir) // 64))
    return audio_energy(media, window_samples=100)


def q_mm_vp8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy-WebP decode certificate (vp8_codec.py — intra VP8
    keyframes, the dominant web image payload after JPEG). The synth
    table sweeps every prediction path (16x16 DC/V/H/TM + B_PRED with
    all ten 4x4 submodes) and three quantizer levels; ``exp_sum`` is
    the encoder's closed-loop integer pixel sum, so
    ``dec_sum == exp_sum`` per row certifies the FULL decode chain
    (bool decoder → token trees → dequant → inverse DCT/WHT → intra
    prediction → YUV→RGB) bit-exactly inside Spark. The oracle
    replays the per-qi aggregation from the materialized per-row
    stats; n_exact == n_media is the in-band proof."""
    from serd_spark.operators.multimodal import (
        synthesize_webp_vp8,
        vp8_decode_stats,
    )

    media = synthesize_webp_vp8(spark, max(16, _n_pages(sf_dir) // 128))
    _materialize(sf_dir, "mm_vp8", lambda: vp8_decode_stats(media))
    return (
        vp8_decode_stats(media)
        .groupBy("qi")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum((F.col("dec_sum") == F.col("exp_sum")).cast("long"))
            .alias("n_exact"),
            F.sum("dec_sum").alias("sum_pixels"),
        )
        .orderBy("qi")
    )


def q_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction (operators/pdf_codec.py): real classic
    PDFs synthesized per row — page tree, xref, Flate streams, and
    the three text-show encodings (literal-with-escapes / hex / TJ
    kerning array) rotating by id — decoded back strict through the
    bounded parser. Page text is closed-form in (id, page), so the
    oracle regenerates every document's full text, page count, char
    count and md5 from range() without reading a payload byte: a
    complete encode→parse certificate over the object scanner, page
    walk, bounded inflate, string escapes and the TJ space rule.
    One mapInPandas crossing each way, row-local, no shuffle."""
    from serd_spark.operators.pdf_codec import pdf_text, synthesize_pdfs

    media = synthesize_pdfs(spark, max(64, _n_pages(sf_dir) // 8))
    out = pdf_text(media, strict=True)
    return out.select(
        "media_id",
        "n_pages",
        "n_chars",
        F.md5("text").alias("text_md5"),
    )


def q_rdfxml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF/XML — the fourth concrete RDF syntax (rdf/rdfxml.py):
    formula-derived documents exercising typed nodes, xml:lang,
    rdf:datatype, rdf:resource, rdf:li containers, and
    property-attribute blank nodes are parsed strict; per document
    the triple count, blank count, md5 over the sorted canonical
    N-Triples lines, AND a write_rdfxml→reparse round-trip verdict
    are emitted. The oracle regenerates every expected N-Triples
    line closed-form from the doc id — a complete parse certificate
    without an XML engine on the oracle side. One mapInPandas
    crossing, document-scoped, no shuffle (the 100 TB shape)."""
    from serd_spark.operators.serialize import rdfxml_certificate

    n = max(64, _n_pages(sf_dir) // 8)
    return rdfxml_certificate(spark, n).orderBy("doc_id")


_SHACL_SHAPES_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix s: <http://schema.org/> .
@prefix ex: <http://example.org/shapes/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:ThingShape a sh:NodeShape ;
  sh:targetClass s:Thing ;
  sh:property [ sh:path s:name ; sh:minCount 1 ; sh:maxCount 1 ;
                sh:datatype xsd:string ; sh:maxLength 18 ] ;
  sh:property [ sh:path s:relatedLink ; sh:nodeKind sh:IRI ;
                sh:class s:Thing ] ;
  sh:property [ sh:path s:review ; sh:nodeKind sh:BlankNode ] ;
  sh:property [ sh:path s:ratingValue ; sh:pattern "^[0-9]+\\\\.[0-9]$" ] .
"""


def q_shacl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite validation (operators/shacl.py) over the REAL
    extracted KG: the shapes graph is Turtle parsed by this repo's
    own parser, compiled driver-side, and executed as declarative
    plans — focus filter on the type triples, one subject equi-join
    per property shape, per-focus hash-agg cardinality, row-local
    codegen value checks, left-anti class check. The report is
    aggregated per (constraint, path) with focus/value pins; the
    oracle replays every constraint relationally over the
    materialized triple table. Validation runs on the DISTINCT
    triple set (SHACL is graph semantics — a graph is a set)."""
    from serd_spark.operators.shacl import parse_shapes_turtle, validate

    _materialize_triples(spark, sf_dir)
    shapes = parse_shapes_turtle(_SHACL_SHAPES_TTL)
    graph = (
        _kg_triples(spark, sf_dir)
        .select("s", "p", "o", "o_kind", "o_dt", "o_lang")
        .distinct()
    )
    report = validate(graph, shapes)
    pin = F.conv(
        F.substring(
            F.md5(F.concat_ws("\u0001", "focus", "value")), 1, 10
        ),
        16, 10,
    ).cast("long")
    return (
        report.groupBy("constraint", "path")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("focus").alias("n_focus"),
            F.sum(pin).alias("pin"),
        )
        .orderBy("constraint", "path")
    )


def q_mm_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata extraction (operators/exif_codec.py): real APP1
    segments (TIFF IFD0 + Exif sub-IFD, alternating II/MM byte
    order) spliced into real JPEGs, parsed back byte-level by the
    bounded IFD walker, aggregated per tag with a per-row
    (media_id, value) content pin. Every tag value is closed-form in
    the media id, so the oracle regenerates ALL expected rows from
    generate_series without touching a payload byte — a full
    encode→parse certificate. Map-side only until the bounded-key
    tag aggregation."""
    from serd_spark.operators.multimodal import (
        exif_tags,
        synthesize_media_exif,
    )

    media = synthesize_media_exif(
        spark, max(64, _n_pages(sf_dir) // 64)
    )
    tags = exif_tags(media)
    pin = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\u0001",
                    F.col("media_id").cast("string"), "value"
                )
            ),
            1, 10,
        ),
        16, 10,
    ).cast("long")
    return (
        tags.groupBy("ifd", "name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("value").alias("n_vals"),
            F.sum(pin).alias("pin"),
        )
        .orderBy("ifd", "name")
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters without a full-vocabulary shuffle
    (stats.py::heavy_hitters): a count-min pass finds candidate
    cells, the row stream is filtered map-side with per-depth
    IN-lists (est >= exact ⇒ no false negatives), and only candidate
    rows reach the exact aggregate. The oracle is the NAIVE full
    GROUP BY ... HAVING — equality proves the sketch path drops
    nothing and invents nothing."""
    from serd_spark.operators.stats import heavy_hitters

    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.filter(
                F.split(
                    F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")),
                    " ",
                ),
                lambda x: x != "",
            )
        ).alias("w")
    )
    return heavy_hitters(words, "w", min_count=500)


def q_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining
    (dedup.py::mine_training_pairs): LSH candidates verified into
    POSITIVES (est >= 0.5) and HARD NEGATIVES (0.25 <= est < 0.5 —
    same-bucket mates, the negatives in-batch sampling can't
    produce). Same plan shape as dedup_minhash_lsh; the oracle
    replays prune → band join → agreement verify → label CASE from
    the materialized signatures/bands."""
    from serd_spark.operators.dedup import mine_training_pairs

    docs = _t(spark, sf_dir, "documents")
    _materialize_minhash(
        spark, sf_dir, docs, "minhash/sigs", "minhash/bands"
    )
    return mine_training_pairs(docs, pos_threshold=0.5, neg_floor=0.25)


def q_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-freshness roll-up (corpus.py::crawl_stats): per host —
    URLs, fetches, refetched URLs, total first-to-last fetch span in
    epoch seconds — the recrawl-scheduler's input table. The oracle
    re-derives hosts and re-aggregates both levels from the
    materialized (url, warc_ts) fetch log."""
    from serd_spark.operators.corpus import crawl_stats

    pages = _pages(spark, sf_dir)
    _materialize(
        sf_dir, "pages_crawl",
        lambda: _pages(spark, sf_dir).select("url", "warc_ts"),
    )
    return crawl_stats(pages)


def q_rare_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token scrubbing (corpus.py::mask_rare_tokens — the
    memorization-mitigation rewrite): tokens under the corpus count
    floor become <unk>; per doc the masked count and an md5 pinning
    the full rewritten text content AND order. The oracle rebuilds
    the keep-vocabulary, re-masks every position, and re-assembles
    the string with an order-pinned string_agg."""
    from serd_spark.operators.corpus import mask_rare_tokens

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return mask_rare_tokens(d, min_count=30)


# shared Spark-query/oracle blocklist (same one-list discipline as
# _GAZETTEER)
_BLOCKLIST = ["slow", "big table", "value"]


def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-blocklist filtering (classify.py::blocklist_stats — the
    C4/FineWeb "bad words" pass): per-doc hit counts against a
    broadcast 1-/2-token blocklist, DENSITY in integer ppm of the
    token count (a single incidental hit must not kill a long
    document), and the drop flag. The oracle replays matching
    (positional lateral unnest + the same VALUES list), token counts,
    and the exact div arithmetic."""
    from serd_spark.operators.classify import blocklist_stats

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return blocklist_stats(d, _BLOCKLIST, max_hits_ppm=60_000)


def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document
    (corpus.py::token_entropy — the frequency-weighted
    vocabulary-diversity signal beside repetition_features' TTR).
    Each (doc, token) term micro-rounded before the per-doc sum; the
    oracle rebuilds counts, totals, every term and the integer-div
    floor from raw text."""
    from serd_spark.operators.corpus import token_entropy

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return token_entropy(d)


def q_kg_twohop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-shaped graph-pattern query over the EXTRACTED triple
    graph: the 2-hop relatedLink closure ?s →(relatedLink) ?m
    →(relatedLink) ?t — a basic-graph-pattern self-join on the triple
    table (the KG-query surface, beside the host-graph analytics) —
    with per-source distinct-target and path counts, top-k by
    (paths DESC, s ASC). Edges are the deduped canonical triples, so
    the self-join keys on fixed-width IRIs; at 100 TB this is the
    (o = s) sort-merge/bucket join the subject-hash bucketing in
    materialize.py exists for. The oracle replays the join over the
    materialized triple table."""
    _materialize_triples(spark, sf_dir)
    rel = "http://schema.org/relatedLink"
    e = (
        _kg_triples(spark, sf_dir)
        .filter(F.col("p") == rel)
        .select("s", "o")
        .distinct()
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.o") == F.col("b.s"))
        .groupBy(F.col("a.s").alias("s"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paths"),
            F.count_distinct(F.col("b.o")).cast("long").alias("n_targets"),
        )
        .orderBy(F.desc("n_paths"), F.asc("s"))
        .limit(50)
    )


def q_kg_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for KG-embedding training
    (graph.py::negative_samples): tail corruptions of the extracted
    relatedLink edges drawn via md5 buckets over the node set — a
    pure function of the edge set (no RNG: retries and shards can
    never change the training data), empty buckets pinned to the
    global min node, self-corruptions flagged. The oracle replays
    nodes, buckets, representatives, fallback and flags over the
    materialized triples."""
    from serd_spark.operators.graph import negative_samples

    _materialize_triples(spark, sf_dir)
    rel = "http://schema.org/relatedLink"
    e = (
        _kg_triples(spark, sf_dir)
        .filter(F.col("p") == rel)
        .select(F.col("s").alias("src"), F.col("o").alias("dst"))
        .distinct()
    )
    return negative_samples(e, n_neg=2, n_buckets=32)




__all__ = [
    '_BLOCKLIST',
    '_GAZETTEER',
    '_SHACL_SHAPES_TTL',
    'mm_frame_decode',
    'mm_frames',
    'mm_probe',
    'q_agg_pricing',
    'q_bigram_lm',
    'q_blocklist',
    'q_ccnet',
    'q_collocations',
    'q_cosine_topk',
    'q_crawl',
    'q_dedup_exact',
    'q_dsir',
    'q_dup_clusters',
    'q_embedding_dups',
    'q_entropy',
    'q_events_hourly',
    'q_events_latest',
    'q_filter_project',
    'q_fingerprint',
    'q_fuzzy_join',
    'q_gazetteer',
    'q_heavy_hitters',
    'q_join_agg',
    'q_kg_negatives',
    'q_kg_twohop',
    'q_knn_join',
    'q_lang_id',
    'q_minhash_md5',
    'q_mm_audio',
    'q_mm_dhash',
    'q_mm_exif',
    'q_mm_vp8',
    'q_multi_join',
    'q_nb_quality',
    'q_ngram_jaccard',
    'q_pair_mining',
    'q_pdf_text',
    'q_phrase',
    'q_pii',
    'q_quality',
    'q_rare_mask',
    'q_rdfxml',
    'q_repetition',
    'q_rollup',
    'q_sem_decon',
    'q_sessionize',
    'q_set_ops',
    'q_setsim',
    'q_shacl',
    'q_sniff',
    'q_snippets',
    'q_span_dedup',
    'q_span_strip',
    'q_token_stats',
    'q_topk_orders',
    'q_transcode',
    'q_unigram_lm',
    'q_url_canon',
    'q_window_toporder',
    'q_winnow',
    'q_winnow_pairs',
]
