"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale notes (the point of each design choice):

- **exact**: one hash-groupBy on a 16-byte fingerprint — the only
  full shuffle, and it shuffles fingerprints + ids, never text.
- **MinHash+LSH**: candidate generation is an equi-join on
  ``(band, band_hash)`` — cost ∝ near-duplicate mass, not n². The
  signature stage is shuffle-free numpy over Arrow batches (shared
  with entity linking, serd_spark.operators.linking).
- **SimHash**: 64-bit signature from blake2b token hashes, numpy per
  Arrow batch; a band split on 4×16-bit chunks gives Hamming-≤3
  candidates with an equi-join (Charikar's standard trick).
- **n-gram Jaccard**: exact verification for a candidate pair list;
  built-in array ops.
- **embedding cosine**: random-hyperplane LSH buckets → in-bucket
  exact cosine (JVM-side zip_with/aggregate); brute force only as
  the small-scale baseline in serd_spark.operators.similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from serd_spark.operators.linking import (
    _doc_names,
    _minhash_links,
    _prune_hot_buckets,
    _sig_jaccard,
    connected_components,
    lsh_bands,
    signatures,
)
from serd_spark.operators.text import fingerprint


# --------------------------------------------------------------- exact

def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Content-exact dedup: keep the min-id representative per
    normalized-text fingerprint. Returns (rep_id, n_dups)."""
    return (
        docs.select(
            F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def drop_exact_dups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    reps = exact_dedup(docs, id_col, text_col).select(
        F.col("rep_id").alias(id_col)
    )
    # reps is small (one row per distinct content) relative to docs
    # only when dup rate is high; join key is the id → sort-merge or
    # broadcast chosen by AQE on real sizes
    return docs.join(reps, id_col, "left_semi")


# ------------------------------------------------------- minhash + LSH

def minhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_bucket: int = 1024,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs over a documents table.
    Returns (entity_a, entity_b, jaccard_est) with ids as strings
    (shared machinery with entity linking)."""
    return _minhash_links(
        _doc_names(docs, id_col, text_col), threshold, max_bucket
    )


# ------------------------------------------------------------- simhash

def popcount64(x) -> "np.ndarray":
    """Vectorized 64-bit popcount (SWAR) — numpy 1.x has no
    ``bitwise_count``; used by the streaming near-dup operator's
    Hamming verify. Accepts int64 (signed reinterpreted as uint64)."""
    import numpy as np

    v = np.asarray(x).astype(np.uint64)
    v = v - ((v >> np.uint64(1)) & np.uint64(0x5555555555555555))
    v = (v & np.uint64(0x3333333333333333)) + (
        (v >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    v = (v + (v >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((v * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(
        np.int64
    )


def simhash64_fast(texts) -> "pd.Series":
    """Vectorized SimHash over an Arrow batch: blake2b token hashes
    (stable across processes) unpacked to bit matrices with numpy;
    the signature bit is the sign of the 64 per-token bit votes."""
    import hashlib

    import numpy as np
    import pandas as pd

    out = np.zeros(len(texts), dtype=np.int64)
    for row, text in enumerate(texts):
        toks = set((text or "").lower().split())
        if not toks:
            continue
        hs = np.frombuffer(
            b"".join(
                hashlib.blake2b(t.encode(), digest_size=8).digest()
                for t in toks
            ),
            dtype=np.uint64,
        )
        # (n_tokens, 64) bit matrix → column sums → majority bits
        bits = (hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1
        votes = bits.sum(axis=0) * 2 > len(toks)
        out[row] = np.int64(
            np.uint64(np.packbits(votes[::-1]).view(">u8")[0])
        )
    return pd.Series(out)


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, simhash): 64-bit SimHash per document
    (``simhash64_fast``, Arrow-vectorized numpy)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def sh(texts):
        return simhash64_fast(texts)

    return docs.select(F.col(id_col), sh(F.col(text_col)).alias("simhash"))


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Hamming-≤k candidate pairs via 4×16-bit chunk equality (any
    pair within Hamming 3 of a 64-bit sig agrees on ≥1 of 4 chunks),
    then exact Hamming verify with bit_count (JVM-side).

    ``max_bucket`` caps degenerate (chunk, chunk_val) buckets — e.g.
    every empty/whitespace-only document hashes to signature 0 and
    shares ALL four buckets, making the self-join quadratic in their
    count at web scale. Members of a pruned bucket can still pair
    through their other three chunks; pairs whose EVERY shared chunk
    is pruned are lost, so the Hamming-≤3 recall guarantee is exact
    only below the cap (pass ``None`` for guaranteed-complete
    output on bounded inputs)."""
    sigs = simhash_signatures(docs, id_col, text_col)
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
    if max_bucket is not None:
        chunks = _prune_hot_buckets(chunks, max_bucket, ("chunk", "chunk_val"))
    a = chunks.select(
        "chunk", "chunk_val",
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"),
    )
    b = chunks.select(
        "chunk", "chunk_val",
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"),
    )
    # Hamming verify BEFORE the distinct: bit_count is free codegen on
    # the join output, so duplicates (pairs sharing >1 chunk) are
    # filtered for ~nothing, and the dedup shuffle carries only the
    # ≤max_hamming survivors instead of every candidate pair.
    return (
        a.join(b, ["chunk", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


# ------------------------------------------------------ n-gram jaccard

def char_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams of normalized text (JVM-side)."""
    norm = F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))
    ln = F.length(norm)
    return F.when(ln < n, F.array(norm)).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), ln - n + 1),
                lambda i: F.substring(norm, i, n),
            )
        )
    )


def ngram_jaccard_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate (id_a, id_b) pairs —
    array_intersect/array_union on precomputed shingle arrays. The
    grams join is on the id key; at scale the candidate list is tiny
    next to docs, so both joins broadcast the pair side."""
    grams = docs.select(
        F.col(id_col), char_ngrams(F.col(text_col), n).alias("grams")
    )
    ga = grams.select(
        F.col(id_col).alias("id_a"), F.col("grams").alias("grams_a")
    )
    gb = grams.select(
        F.col(id_col).alias("id_b"), F.col("grams").alias("grams_b")
    )
    return (
        pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("grams_a", "grams_b"))
                / F.size(F.array_union("grams_a", "grams_b")),
                6,
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------- embedding cosine near-dup

def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (
        F.sqrt(_dot(ad, ad)) * F.sqrt(_dot(bd, bd))
    )


def hyperplane_buckets(
    emb: DataFrame,
    dim: int,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector: sign bits of dot
    products with ``n_planes`` fixed seeded hyperplanes, packed into
    one long. Deterministic (numpy PRNG with fixed seed, generated
    once on the driver, shipped as a literal array) and JVM-side."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    bucket = F.lit(0).cast("long")
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    for p in range(n_planes):
        row = F.array(*[F.lit(float(v)) for v in planes[p]])
        bit = F.when(_dot(vd, row) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseOR(F.shiftleft(bit, p))
    return emb.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def embedding_near_dups(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vector pairs: bucket by hyperplane signature,
    exact cosine within buckets. At 100 TB the bucket join replaces
    the n² cross join; recall is tuned by n_planes (and could add
    multi-probe). Returns (id_a, id_b, cos)."""
    b = hyperplane_buckets(emb, dim, n_planes, id_col, vec_col)
    a = b.select(
        "bucket", F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")
    )
    c = b.select(
        "bucket", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")
    )
    return (
        a.join(c, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# -------------------------------------------- cross-snapshot increment

def incremental_dedup(
    new_docs: DataFrame,
    old_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int = 1024,
) -> DataFrame:
    """Dedup a NEW crawl increment against an EXISTING corpus — the
    recurring-ingest shape of a training-data pipeline (each monthly
    crawl is deduped against everything already kept, never against
    itself here; in-increment dup handling is ``minhash_near_dups``).

    Two stages, cheap one first:
    1. exact: fingerprint anti-join — crawl re-fetches are the bulk
       of increment duplicates and never reach the near stage.
    2. near: minhash LSH band equi-join NEW × OLD only (no old×old,
       no new×new pairs), hot buckets capped on BOTH sides, exact
       signature-agreement verify, best old match per new doc by
       (jaccard DESC, old id ASC) as a max_by hash aggregate.

    At 100 TB the old corpus' signatures/bands are write-once state
    (persist them beside the corpus; each increment only computes its
    OWN signatures and joins against the stored band table — this
    function recomputes them inline only because its inputs are bare
    document tables).

    Returns one row per new doc: (id_col, status exact|near|kept,
    match_id — the matched old doc or NULL, jaccard_est — NULL unless
    near). Jaccard is agree/64: a power-of-two fraction, exact in
    double on any engine.
    """
    fp_new = new_docs.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
    )
    fp_old = (
        old_docs.select(
            fingerprint(F.col(text_col)).alias("fp"),
            F.col(id_col).alias("_oid"),
        )
        .groupBy("fp")
        .agg(F.min("_oid").alias("exact_id"))
    )
    exact = fp_new.join(fp_old, "fp").select(id_col, "exact_id")

    to_near = new_docs.join(exact.select(id_col), id_col, "left_anti")
    sig_new = signatures(
        _doc_names(to_near, id_col, text_col)
    ).localCheckpoint(eager=False)
    sig_old = signatures(
        _doc_names(old_docs, id_col, text_col)
    ).localCheckpoint(eager=False)
    bn = _prune_hot_buckets(lsh_bands(sig_new), max_bucket)
    bo = _prune_hot_buckets(lsh_bands(sig_old), max_bucket)
    cand = bn.join(
        bo.withColumnRenamed("entity", "entity_old"), ["band", "band_hash"]
    ).select("entity", "entity_old")

    near = (
        cand.join(sig_new, "entity")
        .join(
            sig_old.select(
                F.col("entity").alias("entity_old"),
                F.col("sig").alias("sig_old"),
            ),
            "entity_old",
        )
        .withColumn("jaccard_est", _sig_jaccard("sig", "sig_old"))
        .filter(F.col("jaccard_est") >= threshold)
        # band multiplicity: the same pair matches in several bands
        .groupBy("entity", "entity_old")
        .agg(F.max("jaccard_est").alias("jaccard_est"))
        .select(
            F.col("entity").cast("long").alias(id_col),
            F.col("entity_old").cast("long").alias("_nid"),
            "jaccard_est",
        )
        .groupBy(id_col)
        .agg(
            F.max_by(
                F.struct(
                    F.col("_nid").alias("near_id"),
                    F.col("jaccard_est").alias("j"),
                ),
                F.struct(F.col("jaccard_est"), (-F.col("_nid")).alias("t")),
            ).alias("best")
        )
        .select(id_col, F.col("best.near_id"), F.col("best.j").alias("j"))
    )

    return (
        new_docs.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
            .when(F.col("near_id").isNotNull(), F.lit("near"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce("exact_id", "near_id").alias("match_id"),
            F.when(
                F.col("exact_id").isNull(), F.col("j")
            ).alias("jaccard_est"),
        )
    )


def wminhash_signatures_md5(
    docs: DataFrame,
    n_seeds: int = 4,
    weight_cap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WEIGHTED MinHash signatures over word term-frequencies —
    integer-weight replica expansion (the classic reduction of
    weighted Jaccard to plain MinHash: a token with tf=k contributes
    replicas (w,1)..(w,k), and min-hashing the replica space estimates
    J_w(A,B) = Σ min(tf_A, tf_B) / Σ max(tf_A, tf_B)).  Plain MinHash
    treats a word said once and a word said 50 times identically;
    weighted Jaccard is what near-dup detection wants when documents
    differ mainly in term emphasis (boilerplate-heavy pages, spun
    text, template farms).

    Replicas are capped at ``weight_cap`` — the standard truncation
    that bounds per-token work (and the blowup factor) by a constant
    while keeping the estimator exact for all tf ≤ cap.

    Hash family: md5(word ‖ '#' ‖ replica ‖ '#' ‖ seed), min taken
    over the 32-hex-char digest STRING — fixed-width hex compare
    equals numeric compare, so the DuckDB oracle replays the whole
    signature with unnest + generate_series + min(md5(..)), no
    integer conversion to disagree on (the ``q_minhash_md5``
    discipline; the numpy LSH path in ``minhash_near_dups`` is the
    throughput variant, certified separately).

    Scale shape (100 TB): tokenize → ONE hash aggregate keyed by
    (doc, word) whose map-side combine absorbs within-document
    repeats BEFORE any shuffle; the replica explode multiplies the
    already-combined (doc, word, tf) table by ≤ weight_cap, never the
    raw token stream; the signature is a second hash aggregate keyed
    by doc. Only (id, word-hash-width strings) cross shuffles.

    Returns (id_col, n_replicas, h0..h{n_seeds-1}), one row per
    document with at least one token.
    """
    if not (1 <= n_seeds <= 16):
        raise ValueError("n_seeds must be in [1, 16]")
    if weight_cap < 1:
        raise ValueError("weight_cap must be >= 1")
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    words = docs.select(
        F.col(id_col), F.explode(F.split(norm, " ")).alias("w")
    ).filter(F.col("w") != "")
    tf = words.groupBy(id_col, "w").agg(
        F.least(F.count(F.lit(1)), F.lit(weight_cap)).alias("tf")
    )
    reps = tf.select(
        id_col,
        "w",
        F.explode(F.sequence(F.lit(1), F.col("tf"))).alias("r"),
    )
    return reps.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_replicas"),
        *[
            F.min(
                F.md5(
                    F.concat(
                        F.col("w"),
                        F.lit("#"),
                        F.col("r").cast("string"),
                        F.lit("#"),
                        F.lit(str(s)),
                    )
                )
            ).alias(f"h{s}")
            for s in range(n_seeds)
        ],
    )


def dup_clusters(
    docs: DataFrame,
    threshold: float = 0.5,
    max_bucket: int = 1024,
    driver_threshold: int = 2_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate document CLUSTERS with a canonical survivor —
    the step after pairwise detection that a real dedup pipeline
    actually ships: transitive near-dup groups (A~B, B~C ⇒ one
    cluster even when A~C was never a candidate pair) with one
    deterministic keeper per group, so "drop the non-canonical rows"
    is a single filter.

    Composition: ``minhash_near_dups`` (banded LSH, bucket-capped,
    signature-verified) → ``linking.connected_components``
    (pointer-jumping at scale, union-find under the driver
    threshold) → canonical label = MIN entity id per component (as
    STRINGS — the linking contract) → singleton docs rejoin as their
    own cluster. The corpus text is touched exactly once (the
    signature stage); everything after moves fixed-width ids.

    Returns (id_col, canon_id, cluster_size, is_canonical) for EVERY
    document."""
    pairs = minhash_near_dups(
        docs,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        max_bucket=max_bucket,
    )
    comp = connected_components(
        pairs.select("entity_a", "entity_b"),
        driver_threshold=driver_threshold,
    )
    base = docs.select(
        F.col(id_col), F.col(id_col).cast("string").alias("_e")
    )
    asg = base.join(
        comp, base["_e"] == comp["entity"], "left"
    ).select(
        id_col,
        F.coalesce(F.col("canon"), F.col("_e")).cast("long").alias(
            "canon_id"
        ),
    )
    sizes = asg.groupBy("canon_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return asg.join(sizes, "canon_id").select(
        id_col,
        "canon_id",
        "cluster_size",
        (F.col(id_col) == F.col("canon_id")).cast("int").alias(
            "is_canonical"
        ),
    )


def mine_training_pairs(
    docs: DataFrame,
    pos_threshold: float = 0.5,
    neg_floor: float = 0.125,
    max_bucket: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Contrastive training-pair mining from the LSH candidate set —
    the retrieval/embedding-model data step: POSITIVES are candidate
    pairs whose signature-agreement Jaccard estimate clears
    ``pos_threshold``; HARD NEGATIVES are pairs that collided in some
    LSH band but verify BELOW it (same-bucket mates are precisely the
    "hard" negatives in-batch sampling can't produce; random pairs
    are easy). Pairs under ``neg_floor`` are discarded as
    uninformative.

    One signature pass over the corpus text (localCheckpoint-ed so
    the band branch and the verify branch share it), the standard
    bucket-capped band join, one agreement verify — the SAME
    plan shape and cost as ``minhash_near_dups``; only the final
    labeling differs. jaccard_est is agreement/64: a power-of-two
    fraction, exact in double on every engine.

    Returns (id_a, id_b, jaccard_est, label) with id_a < id_b as
    STRINGS (the linking contract order) cast back to longs."""
    if not 0.0 <= neg_floor < pos_threshold <= 1.0:
        raise ValueError("need 0 <= neg_floor < pos_threshold <= 1")
    verified = _minhash_links(
        _doc_names(docs, id_col, text_col), neg_floor, max_bucket
    )
    return verified.select(
        F.col("entity_a").cast("long").alias("id_a"),
        F.col("entity_b").cast("long").alias("id_b"),
        "jaccard_est",
        F.when(F.col("jaccard_est") >= pos_threshold, F.lit("pos"))
        .otherwise(F.lit("hard_neg"))
        .alias("label"),
    )
