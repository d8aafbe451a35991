"""Structured Streaming front-end for the KG-construction pipeline.

The reference's incremental surface is the chunked pull parser
(``serd_reader_read_chunk`` — one statement per call, caller-driven;
ref: serd/serd.h, SURVEY.md §2A op-2). At pipeline scale the
equivalent increment is *one micro-batch of newly crawled pages*:

- ``stream_pages``: file-source ``readStream`` over a pages
  directory — new parquet files are discovered per micro-batch, with
  ``maxFilesPerTrigger`` bounding batch size (≙ the bounded-memory
  guarantee of chunked parsing).
- ``stream_extract``: the SAME fused extraction stage as batch
  (`extract_triples(canonicalize=True, dedup=True)`) applied to the
  stream — mapInArrow is fully streaming-composable, so nothing is
  reimplemented.
- ``run_incremental``: ``foreachBatch`` sink appending each
  micro-batch's triples to the warehouse with checkpointing —
  exactly-once via Spark's streaming checkpoint + idempotent
  extraction (every output value is a pure function of (url, bytes),
  SURVEY.md §4.2-6).
- ``streaming_predicate_counts``: windowed streaming aggregation with
  a watermark on ``warc_ts`` (late re-crawls beyond the watermark are
  dropped) — the standard monitoring rollup over the extraction
  stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serd_spark.operators.extract import extract_triples
from serd_spark.sources.pages import PAGES_SCHEMA


def stream_pages(
    spark: SparkSession,
    pages_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """File-source stream over a growing pages directory (the
    parquet/Iceberg stand-in for an incremental snapshot scan)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def stream_extract(pages_stream: DataFrame, lax: bool = True) -> DataFrame:
    """Fused extraction applied to a streaming DataFrame — identical
    code path to batch (mapInArrow composes with streaming)."""
    return extract_triples(
        pages_stream, lax=lax, canonicalize=True, dedup=True
    )


def run_incremental(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    lax: bool = True,
    max_files_per_trigger: int = 8,
    available_now: bool = True,
):
    """Incremental extraction job: new page files → triples appended
    to ``out_dir``; resume handled by the streaming checkpoint.

    ``available_now=True`` processes the current backlog then stops
    (the batch-incremental mode the north rule's checkpoint-resume
    asks for); False runs continuously.
    """
    ext = stream_extract(
        stream_pages(spark, pages_dir, max_files_per_trigger), lax=lax
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent per-batch landing: each micro-batch owns its
        # batch_id=N directory and OVERWRITES it, so a batch replayed
        # after a crash between this write and the streaming commit
        # lands exactly once (a plain append would duplicate it)
        (
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch_id={batch_id}")
            )
        )

    writer = (
        ext.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
    else:
        q = writer.start()
    return q


def streaming_crawl_stats(
    spark: SparkSession,
    pages_dir: str,
    watermark: str = "1 hour",
    window: str = "1 hour",
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Watermarked event-time rollup of the crawl stream: pages per
    tumbling ``warc_ts`` window per language. Re-crawls arriving
    later than ``watermark`` past the window close are dropped — the
    'late data' policy of SURVEY.md §2B, with bounded state."""
    pages = stream_pages(spark, pages_dir, max_files_per_trigger)
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length("html")).alias("bytes_in"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "lang",
            "n_pages",
            "bytes_in",
        )
    )


def streaming_predicate_counts(
    spark: SparkSession,
    pages_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Running triples-per-predicate counts over the extraction
    stream (update/complete output mode; the predicate key space is
    small, so unwindowed state is bounded)."""
    ext = stream_extract(
        stream_pages(spark, pages_dir, max_files_per_trigger)
    )
    return (
        ext.filter(F.col("rec") == "t")
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_triples"))
    )


def stream_dedup_urls(
    pages_stream: DataFrame, state_ttl_ms: int = 0
) -> DataFrame:
    """Custom stateful streaming operator: cross-micro-batch url
    dedup via ``applyInPandasWithState`` (the Spark-native stateful
    UDF surface — ≙ a keyed "have I seen this url" operator that the
    reference has no equivalent for; its state lives in the streaming
    state store, checkpointed with the query).

    Within a batch, the DETERMINISTIC winner is kept — max
    (warc_ts, xxhash64(html)), the EXACT key batch ``latest_crawl``
    uses (group row order after a shuffle is undefined, so "first row"
    would differ across retries, violating the
    pure-function-of-(url, bytes) invariant; and a different hash than
    batch would silently break streaming-vs-batch equivalence on
    equal-timestamp re-crawls with differing bytes). The hash is
    computed JVM-side by ``F.xxhash64`` BEFORE the stateful UDF and
    arrives as a column; winner selection inside the UDF is columnar
    (one sort over the group, no per-row Python). Across batches the
    first-arriving batch wins; re-crawls in later batches are dropped.
    State per url is one marker byte — bounded by distinct urls.  At
    10^12-url scale even marker bytes add up: ``state_ttl_ms`` > 0
    turns on processing-time state eviction (a url whose marker idles
    past the TTL is forgotten, so a re-crawl AFTER the TTL is emitted
    again — the right trade when crawl recency bounds re-crawl
    windows; 0 keeps exact forever-dedup).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_cols = [c.strip().split()[0] for c in PAGES_SCHEMA.split(",")]
    use_ttl = state_ttl_ms > 0

    def dedup(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()  # TTL expired: forget the url marker
            return
        if state.exists:
            if use_ttl:
                state.setTimeoutDuration(state_ttl_ms)  # re-arm
            for _ in pdfs:
                pass  # drain the iterator; url already emitted
            return
        chunks = [pdf for pdf in pdfs if len(pdf)]
        state.update((1,))
        if use_ttl:
            state.setTimeoutDuration(state_ttl_ms)
        if not chunks:
            return
        allp = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        best = allp.sort_values(
            ["warc_ts", "_h"], ascending=False, kind="mergesort"
        ).iloc[[0]]
        yield best[out_cols]

    withkey = pages_stream.withColumn("_h", F.xxhash64("html"))
    return withkey.groupBy("url").applyInPandasWithState(
        dedup,
        outputStructType=PAGES_SCHEMA,
        stateStructType="seen byte",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if use_ttl else GroupStateTimeout.NoTimeout
        ),
    )


def stream_near_dup_docs(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_state: int = 4096,
) -> DataFrame:
    """Cross-micro-batch streaming NEAR-duplicate detection: incoming
    documents are flagged when they sit within Hamming ``max_hamming``
    (on 64-bit SimHash) of any EARLIER-arriving document.

    Shape — the streaming twin of ``dedup.simhash_near_dups``:
    signatures come from the SAME vectorized pandas_udf as batch, the
    4×16-bit chunk explode provides the LSH keying (any pair within
    Hamming 3 shares ≥1 chunk by pigeonhole, so recall is exact below
    the state cap), and ``applyInPandasWithState`` keyed by
    (chunk, chunk_val) holds the bucket's seen (id, sig) pairs in the
    streaming state store. Per incoming doc the exact Hamming verify
    runs vectorized (SWAR popcount) against bucket state plus
    earlier-in-batch docs.

    Ordering semantics: "earlier" = arrival order; WITHIN a batch,
    ascending ``id_col`` breaks ties deterministically (group row
    order after a shuffle is undefined), so when the feed arrives in
    id order — a crawl stream's natural time order — the output
    equals the batch rule "dup of the best (min hamming, then min id)
    earlier doc", which a brute-force SQL mirror can replay.

    A doc matching in several buckets emits up to 4 rows; reduce with
    ``min(struct(hamming, dup_of))`` per doc. ``max_state`` caps each
    bucket's state arrays (first-seen kept — at web scale a
    degenerate bucket, e.g. simhash 0 of empty docs, would otherwise
    grow without bound); pairs whose every shared bucket overflowed
    are missed, the same documented trade as batch ``max_bucket``.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from serd_spark.operators.dedup import popcount64, simhash_signatures

    sigs = simhash_signatures(docs_stream, id_col, text_col)
    chunks = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("simhash", 16 * c)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select(id_col, "simhash", "ch.chunk", "ch.chunk_val")

    def run(key, pdfs, state: GroupState):
        if state.exists:
            s_ids, s_sigs = state.get
            s_ids = np.asarray(s_ids, dtype=np.int64)
            s_sigs = np.asarray(s_sigs, dtype=np.int64)
        else:
            s_ids = np.empty(0, dtype=np.int64)
            s_sigs = np.empty(0, dtype=np.int64)
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        allp = (
            (parts[0] if len(parts) == 1 else pd.concat(parts))
            .sort_values(id_col, kind="mergesort")
        )
        ids = allp[id_col].to_numpy(np.int64)
        sgs = allp["simhash"].to_numpy(np.int64)
        # one concatenation, sliced as views per row — per-row
        # np.concatenate would be O(n^2) copies near the state cap
        all_ids = np.concatenate([s_ids, ids])
        all_sigs = np.concatenate([s_sigs, sgs])
        n_state = len(s_ids)
        out_id, out_dup, out_ham = [], [], []
        for i in range(len(ids)):
            hi = n_state + i
            if not hi:
                continue
            ham = popcount64(all_sigs[:hi] ^ sgs[i])
            m = ham <= max_hamming
            if m.any():
                hm, im = ham[m], all_ids[:hi][m]
                k = np.lexsort((im, hm))[0]  # min (hamming, then id)
                out_id.append(int(ids[i]))
                out_dup.append(int(im[k]))
                out_ham.append(int(hm[k]))
        new_ids = all_ids[:max_state]
        new_sigs = all_sigs[:max_state]
        state.update((new_ids.tolist(), new_sigs.tolist()))
        if out_id:
            yield pd.DataFrame(
                {id_col: out_id, "dup_of": out_dup, "hamming": out_ham}
            )

    return chunks.groupBy("chunk", "chunk_val").applyInPandasWithState(
        run,
        outputStructType=f"{id_col} long, dup_of long, hamming int",
        stateStructType="ids array<long>, sigs array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_sessions(
    events_stream: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session-window aggregation over an event stream — Spark's
    native ``session_window`` under a watermark, the stateful
    merge-as-events-arrive operator (two events of one user arriving
    in different micro-batches merge into one session in the state
    store).

    Append-mode emission semantics, pinned empirically and mirrored
    by the DuckDB oracle (stream_sessions in __spark_entry__): a
    session row is emitted exactly once, when the watermark reaches
    its close — eviction fires at ``session_end <= watermark``
    (BOUNDARY INCLUDED; a session ending exactly at the watermark is
    emitted), and with no-data micro-batches enabled (the default)
    the final watermark after an availableNow run is
    ``max(event_ts) - delay``. Sessions still open past that stay in
    state and are NOT emitted — the oracle applies the same cut.

    Returns (key, session_window struct, n_events); callers project/
    format the window bounds.
    """
    c = F.col(ts).cast("timestamp")
    return (
        events_stream.withColumn("_ts", c)
        .withWatermark("_ts", watermark)
        .groupBy(F.col(key), F.session_window(F.col("_ts"), gap))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


def streaming_hdr_sketch(
    events_stream: DataFrame,
    value_col: str = "value_long",
    ts: str = "ts",
    by: list[str] | None = None,
    window: str = "1 day",
    watermark: str = "2 hours",
    sub_bits: int = 4,
) -> DataFrame:
    """Tumbling-window mergeable quantile sketch over an event stream —
    the streaming face of ``operators/stats.hdr_sketch``: per
    (event-time window, *by, bucket) counts under a watermark, emitted
    in append mode exactly once when the watermark passes the window
    end (same eviction semantics as ``streaming_sessions``:
    ``window_end <= max(event_ts) - delay`` after an availableNow
    run; the still-open trailing window stays in state).

    Why this composition matters at 100 TB: the sketch IS the
    windowed aggregation state — a bounded ~``63 * 2**sub_bits``-row
    histogram per (window, group), not a value list — so streaming
    quantiles cost the same state as a counter, and late data within
    the watermark merges by bucket-count addition (the sketch's merge
    property doing the late-data work). Quantile extraction stays a
    BATCH pass over the emitted bucket table
    (``stats.hdr_quantiles``), deliberately outside the stream.

    Values must be ≥ 1 (pre-cast to long by the caller); the filter
    runs BEFORE the watermark so dropped rows do not advance event
    time — keeping the emission cut replayable by an engine that
    never sees Spark's watermark state.

    Returns (window struct, *by, bucket, cnt).
    """
    from serd_spark.operators.stats import hdr_bucket

    by = list(by or [])
    v = F.col(value_col).cast("long")
    c = F.col(ts).cast("timestamp")
    return (
        events_stream.filter(v >= 1)
        .withColumn("_ts", c)
        .withWatermark("_ts", watermark)
        .groupBy(
            F.window(F.col("_ts"), window),
            *[F.col(b) for b in by],
            hdr_bucket(v, sub_bits).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def streaming_countmin(
    events_stream: DataFrame,
    value_col: str,
    ts: str = "ts",
    window: str = "1 day",
    watermark: str = "2 hours",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Tumbling-window count-min frequency sketch over an event
    stream — the streaming face of ``operators/stats.countmin_sketch``
    and the third member of the bounded-state streaming-sketch family
    (sessions hold intervals, ``streaming_hdr_sketch`` holds a bucket
    histogram, this holds frequency cells).

    Why at 100 TB: a per-value windowed count grows state with the
    DISTINCT value count (every user / URL / token ever seen inside
    the window); the sketch is at most ``depth * width`` cells per
    window no matter the domain, and late data within the watermark
    merges by cell addition — the sketch's merge property doing the
    late-data work. Point estimates stay a BATCH pass over the
    emitted cell table (min over the depth probes, absent cell = 0),
    deliberately outside the stream.

    Append mode emits each window exactly once when the watermark
    passes its end (the ``window_end <= max(event_ts) - delay``
    eviction cut, replayable by an engine that never sees Spark's
    state store). Returns (window struct, row, col, cnt)."""
    from serd_spark.operators.stats import _cm_col

    v = F.col(value_col)
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    _cm_col(v, i, width).alias("col"),
                )
                for i in range(depth)
            ]
        )
    )
    return (
        events_stream.withColumn("_ts", F.col(ts).cast("timestamp"))
        .withWatermark("_ts", watermark)
        .select("_ts", cells.alias("_rc"))
        .groupBy(
            F.window(F.col("_ts"), window),
            F.col("_rc.row").alias("row"),
            F.col("_rc.col").alias("col"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def streaming_hll(
    events_stream: DataFrame,
    value_col: str,
    ts: str = "ts",
    window: str = "1 day",
    watermark: str = "2 hours",
    p: int = 8,
) -> DataFrame:
    """Tumbling-window HyperLogLog register table over an event
    stream — the streaming face of ``operators/stats.hll_sketch``
    and the fourth bounded-state streaming sketch (sessions hold
    intervals, HDR a bucket histogram, count-min frequency cells,
    this holds distinct-count registers).

    Why at 100 TB: a windowed COUNT(DISTINCT) grows state with the
    distinct-value count per window; the register table is at most
    m = 2^p rows per window no matter the domain, and late data
    within the watermark merges by register-wise MAX — HLL's merge
    law doing the late-data work (MAX is also what makes the
    operator insensitive to duplicate delivery inside the window).
    The estimate stays a BATCH pass over the emitted registers
    (``stats.hll_estimate`` arithmetic grouped by window),
    deliberately outside the stream.

    Append mode emits each window's registers exactly once at the
    standard ``window_end <= max(event_ts) - delay`` eviction cut.
    Returns (window struct, bucket, rho)."""
    from serd_spark.operators.stats import hll_bucket_rho

    bucket, rho = hll_bucket_rho(value_col, p)
    return (
        events_stream.withColumn("_ts", F.col(ts).cast("timestamp"))
        .withWatermark("_ts", watermark)
        .filter(F.col(value_col).isNotNull())
        .select("_ts", bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(F.window(F.col("_ts"), window), "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def streaming_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — the dimension-lookup primitive
    (event type → category table, url host → site metadata) in every
    production streaming pipeline. The static side is broadcast, so
    each micro-batch enriches row-locally with NO stateful operator
    and NO watermark: results are independent of how the input splits
    into batches (a row-level map), which is exactly what makes the
    stream-vs-batch oracle equivalence hold under multi-file
    triggers. The static plan is re-evaluated per micro-batch —
    at scale pin it with a localCheckpoint/cache before passing it
    here if it is expensive to compute."""
    return stream.join(F.broadcast(dim), on, how)


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback_s: int = 600,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: each left row matches right rows
    of the same ``key`` whose timestamp falls in
    ``[left_ts - lookback_s, left_ts]`` (inclusive both ends — the
    identical contract as the batch ``operators/rangejoin.range_join``,
    so the two certify each other). The attribution/conversion join of
    every event pipeline (click ← preceding views, purchase ←
    preceding clicks).

    State shape at scale: Spark keeps BOTH sides' unmatched rows in
    the state store, keyed by ``key``, and the time-range condition
    plus the watermarks bound retention — right rows are evictable
    once the watermark passes ``right_ts + lookback_s``, left rows
    once it passes ``left_ts``; state is O(events inside one
    watermark+lookback window), never O(stream). A tight
    ``watermark`` is the production setting; a watermark wider than
    the input's time span makes the availableNow result EXACTLY the
    batch join (nothing evicted, nothing late-dropped), which is what
    the cross-engine oracle certifies — eviction itself is pinned by
    the controlled-arrival unit test.

    Right-side columns come back prefixed ``r_`` (both sides usually
    share ts/key names).
    """
    r = right.select([F.col(c).alias(f"r_{c}") for c in right.columns])
    lw = left.withWatermark(left_ts, watermark)
    rw = r.withWatermark(f"r_{right_ts}", watermark)
    cond = (
        (F.col(key) == F.col(f"r_{key}"))
        & (
            F.col(f"r_{right_ts}")
            >= F.col(left_ts) - F.expr(f"INTERVAL {int(lookback_s)} SECONDS")
        )
        & (F.col(f"r_{right_ts}") <= F.col(left_ts))
    )
    return lw.join(rw, cond, "inner")


def streaming_funnel(
    events_stream: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming ordered-step funnel — the cross-batch face of
    ``operators/funnel.funnel``: per-user chained-earliest step
    matching with the chain state (the prefix of achieved step
    timestamps, epoch micros) in the streaming state store via
    ``applyInPandasWithState``. A user's completion row is emitted
    EXACTLY ONCE, in the micro-batch where the final step fires;
    users stuck mid-chain keep their prefix in state and emit
    nothing.

    Semantics contract: equals the batch operator's completed-user
    rows whenever events arrive in event-time order across batches
    (the first-seen step-1 event IS the global earliest, and so on
    down the chain — an induction the in-order premise makes exact;
    certified by stream_funnel's cross-engine oracle and a
    controlled-arrival-order test). Out-of-order arrival degrades
    gracefully: the chain locks to the earliest seen so far, the
    standard streaming-funnel approximation.

    Step classification happens JVM-side BEFORE the stateful UDF
    (the stream filters to the funnel's event types — at 100 TB the
    state store holds only users who entered the funnel, and each
    holds at most len(steps) longs). Inside the UDF the batch replay
    is one numpy lexsort + scan over the user's batch events."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n = len(steps)
    if n == 0:
        raise ValueError("steps must be non-empty")
    idx = F.lit(None).cast("int")
    for k, s in enumerate(steps):
        idx = F.when(F.col(type_col) == s, F.lit(k)).otherwise(idx)
    src = (
        events_stream.filter(F.col(type_col).isin(steps))
        .select(
            F.col(user_col),
            F.col(ts_col).cast("timestamp").alias("_ts"),
            idx.alias("_k"),
        )
    )
    # Key column keeps the stream's own type (string user ids are as
    # valid as longs) — hardcoding `long` here broke any non-Long key
    # at the applyInPandasWithState schema check.
    user_dt = events_stream.schema[user_col].dataType.simpleString()
    out_schema = f"{user_col} {user_dt}, " + ", ".join(
        f"t_{k + 1} timestamp" for k in range(n)
    )

    def advance(key, pdfs, state: GroupState):
        got = list(state.get[0]) if state.exists else []
        if len(got) >= n:  # completed and emitted in a prior batch
            for _ in pdfs:
                pass
            return
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        allp = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        ts_us = allp["_ts"].values.astype("datetime64[us]").astype("int64")
        ks = allp["_k"].to_numpy()
        order = np.lexsort((ks, ts_us))
        prev = got[-1] if got else None
        for i in order:
            if int(ks[i]) == len(got) and (
                prev is None or int(ts_us[i]) > prev
            ):
                prev = int(ts_us[i])
                got.append(prev)
                if len(got) == n:
                    break
        state.update((got,))
        if len(got) == n:
            row = {user_col: [key[0]]}
            for k, us in enumerate(got):
                row[f"t_{k + 1}"] = [pd.Timestamp(us, unit="us")]
            yield pd.DataFrame(row)

    return src.groupBy(user_col).applyInPandasWithState(
        advance,
        outputStructType=out_schema,
        stateStructType="got array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_upsert_sink(
    spark,
    path: str,
    key: str,
    order_cols: list[str],
    n_buckets: int = 16,
):
    """foreachBatch body that MERGEs each micro-batch into a keyed
    parquet table (operators/materialize.upsert_keyed_table) with
    LATEST-WINS conflict resolution: per key, the surviving row is
    the max of ``order_cols`` over (existing row ∪ batch rows) — so
    the final table equals the batch ``latest_crawl`` answer
    REGARDLESS of arrival order (unlike first-arrival stateful dedup,
    a late re-delivery of an old crawl can never clobber a newer row).

    Exactly-once comes from idempotence, not fencing: winners are a
    deterministic pure function of (existing, batch) rows — replaying
    a checkpointed batch after a crash merges the identical winners
    onto an identical-or-newer table, a no-op. Cost per batch is the
    upsert's O(delta + affected buckets), never O(table).

    Callers pass ``order_cols`` per the repo's dedup-key rule —
    e.g. ["warc_ts", "_h"] with ``_h = xxhash64(html)`` computed
    JVM-side upstream (CLAUDE.md: the streaming/batch dedup key must
    be identical on both paths).
    """
    import os as _os

    from pyspark.sql import Window as _W

    from serd_spark.operators.materialize import (
        upsert_keyed_table,
        write_keyed_table,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        w = _W.partitionBy(key).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        winners = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if not _os.path.isdir(path):
            write_keyed_table(winners, path, key, n_buckets=n_buckets)
            return
        existing = spark.read.parquet(path).drop("kbucket")
        relevant = existing.join(
            winners.select(key).distinct(), key, "left_semi"
        )
        merged = (
            relevant.unionByName(winners)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        upsert_keyed_table(spark, path, merged, key, n_buckets=n_buckets)

    return sink
