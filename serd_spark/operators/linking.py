"""Minhash-based entity linking across documents
(``BASELINE.json:north_star`` "minhash-based entity linking across
documents"; SURVEY.md §7 M5).

The reference (serd, a streaming parser — ref:src/reader.c) has no
linking stage at all; this is pipeline-native functionality the
north-star adds on top of the parsed triples.

Design at 10^12-document scale:

- candidate generation NEVER compares all pairs: minhash signatures
  (fixed-seed universal hashing, numpy-vectorized per Arrow batch)
  are cut into LSH bands; an equi-join on ``(band, band_hash)``
  yields candidates, so cost is proportional to true near-duplicate
  mass, not n².
- the band self-join is the pipeline's one potentially-skewed
  shuffle: AQE skew-join splitting is on (session.py), and giant
  buckets (stop-phrase names like "home") are capped with a
  per-bucket limit before pairing.
- verification re-computes the exact estimated Jaccard from the full
  signatures (cheap: the pair set is small) and keeps pairs ≥
  ``threshold``.
- canonical ids come from connected components over the verified
  pair graph — iterative hash-to-min label propagation
  (groupBy(min), checkpointed each round, bounded iterations), the
  standard Spark-friendly CC formulation.

Everything is deterministic: hash seeds are constants, shingle
hashing is blake2b — stable across Python processes (unlike
``hash()``), so task retries and re-runs produce identical links
(SURVEY.md §4.2-6).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# fixed minhash parameters — changing them changes every signature,
# so they are module constants, not call arguments
N_PERM = 64
N_BANDS = 8
ROWS_PER_BAND = N_PERM // N_BANDS
_MERSENNE = (1 << 61) - 1
_RNG = np.random.default_rng(0x5E4D)  # deterministic: seeds the a/b arrays
_A = _RNG.integers(1, _MERSENNE, size=N_PERM, dtype=np.uint64)
_B = _RNG.integers(0, _MERSENNE, size=N_PERM, dtype=np.uint64)

SIG_SCHEMA = "entity string, sig array<long>"

NAME_PREDICATES = (
    "http://schema.org/name",
    "http://www.w3.org/2000/01/rdf-schema#label",
    "http://xmlns.com/foaf/0.1/name",
)


def _shingle_hashes(text: str, k: int = 3) -> np.ndarray:
    """Character k-shingles → stable 61-bit hashes (blake2b, NOT
    ``hash()`` — PYTHONHASHSEED varies across executors)."""
    t = " ".join(text.lower().split())
    if len(t) < k:
        t = t.ljust(k)
    shingles = {t[i : i + k] for i in range(len(t) - k + 1)}
    out = np.empty(len(shingles), dtype=np.uint64)
    for j, s in enumerate(shingles):
        out[j] = int.from_bytes(
            hashlib.blake2b(s.encode(), digest_size=8).digest(), "big"
        ) & _MERSENNE
    return out


def minhash_signature(text: str) -> np.ndarray:
    """64-perm minhash of a string's 3-shingle set — one numpy
    broadcast multiply per value (vectorized over shingles)."""
    h = _shingle_hashes(text)
    # (n_shingles, 1) * (N_PERM,) → (n_shingles, N_PERM), min over rows
    vals = (h[:, None] * _A[None, :] + _B[None, :]) % _MERSENNE
    return vals.min(axis=0).astype(np.int64)


def entity_names(triples: DataFrame) -> DataFrame:
    """(entity, name) pairs from name-ish predicates; the linking
    input. Filter is JVM-side so the scan prunes to 4 columns."""
    return (
        triples.filter(
            F.col("p").isin(*NAME_PREDICATES)
            & (F.col("o_kind") == 1)
            # only IRI subjects are linkable entities: blank-node
            # subjects (e.g. microdata items without itemid) have
            # document-scoped labels — rewriting them to/from IRIs
            # would corrupt the kind/value pairing
            & (F.col("s_kind") == 0)
        )
        .select(F.col("s").alias("entity"), F.col("o").alias("name"))
        .dropDuplicates(["entity", "name"])
    )


# worker-lifetime name→signature memo (mirrors extract.py's _NORM_MEMO):
# surface names repeat endlessly across the web (vocabulary labels,
# boilerplate titles), so the Python minhash runs once per DISTINCT
# name per worker — shuffle-free, unlike a distinct+join pre-pass.
# Values are int64 ndarrays (512 B each ⇒ the full 64 Ki-entry memo
# is ~32 MB/worker; a Python list of 64 boxed 2^61-range ints would
# be ~5× that).
_SIG_MEMO: dict[str, np.ndarray] = {}


def signatures(names: DataFrame) -> DataFrame:
    """entity → minhash signature. Shuffle-free map stage; numpy per
    batch, memoized per worker on the name string. A null name gets no
    signature: its row is dropped JVM-side, before the Python crossing."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            col = batch.column("name").to_pylist()
            buf = np.empty((len(col), N_PERM), dtype=np.int64)
            for i, n in enumerate(col):
                s = _SIG_MEMO.get(n)
                if s is None:
                    s = minhash_signature(n)
                    if len(_SIG_MEMO) < 65536:
                        _SIG_MEMO[n] = s
                buf[i] = s
            # a ListArray over the flat buffer: Spark 4.1 rejects
            # FixedSizeList for array<long> (UNSUPPORTED_ARROWTYPE)
            offsets = pa.array(
                np.arange(0, buf.size + 1, N_PERM, dtype=np.int32)
            )
            sig = pa.ListArray.from_arrays(offsets, pa.array(buf.ravel()))
            yield pa.RecordBatch.from_arrays(
                [batch.column("entity"), sig], names=["entity", "sig"]
            )

    return names.filter(F.col("name").isNotNull()).mapInArrow(
        run, schema=SIG_SCHEMA
    )


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Signature → N_BANDS (band, band_hash) rows. band_hash is
    xxhash64 of the band's slice — JVM-side, no Python. The signature
    itself is NOT carried: the candidate join shuffles only
    (entity, band, band_hash) — at web scale the 64-long signature
    would multiply shuffle volume ~30×.

    Built as ONE SQL expression: the same tree through the Column API
    costs ~200 py4j round trips (64 element refs, 8 hashes, 8 structs),
    measured 0.23-0.31 s of driver time per call against 0.02-0.05 s
    parsed from SQL (4-core host)."""
    bands = ", ".join(
        f"named_struct('band', {b}, 'band_hash', xxhash64("
        + ", ".join(
            f"sig[{i}]"
            for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
        )
        + "))"
        for b in range(N_BANDS)
    )
    return sigs.selectExpr("entity", f"inline(array({bands}))")


def _prune_hot_buckets(
    bands: DataFrame, max_bucket: int, keys: tuple = ("band", "band_hash")
) -> DataFrame:
    """Drop buckets (rows sharing ``keys``) with more than
    ``max_bucket`` members: a bucket of m members yields m² pair rows,
    so one boilerplate bucket must never make the bucket join
    quadratic. Pruned members still pair through their OTHER bands,
    which is exactly LSH's redundancy."""
    hot = bands.groupBy(*keys).agg(F.count(F.lit(1)).alias("_m")).filter(
        F.col("_m") > max_bucket
    )
    return bands.join(F.broadcast(hot), list(keys), "left_anti")


def _sig_jaccard(sig_a: str, sig_b: str) -> Column:
    """Minhash Jaccard estimate of two signature columns: the fraction
    of the N_PERM positions that agree. JVM-side ``zip_with`` +
    ``aggregate``, no Python; agree/64 is a power-of-two fraction, so
    it is exact in double on any engine."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (agree / F.lit(N_PERM)).cast("double")


def candidate_pairs(
    bands: DataFrame,
    max_bucket: int = 256,
    dedup: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """Self-join on (band, band_hash) → distinct unordered id pairs.

    ``max_bucket`` caps pathological buckets (stop-phrase names):
    a bucket of m entities yields m² pair rows — at web scale one
    "home" bucket would dominate the stage, so oversized buckets are
    dropped (their members still pair through their OTHER bands,
    which is exactly LSH's redundancy).

    ``dedup=False`` skips the distinct shuffle — correct whenever the
    consumer already aggregates per pair (``verified_links`` does);
    verifying a pair twice is cheap JVM work, a whole extra shuffle
    of the pair table is not.

    ``partitions=None`` (default) leaves the shuffles to AQE. A small
    input is what AQE coalesces into a single task, which then also
    runs the ``zip_with`` verify that streams the pair rows; a caller
    that knows its input is small passes a count (run_pipeline: the
    session's ``defaultParallelism``) and the band table is
    hash-partitioned ONCE to it on the join key, so the bucket-size
    count, the prune and the self-join reuse that layout and the pairs
    come out over every core. That join has no shuffle of its own
    left for AQE to split, so there the ``max_bucket`` cap is its only
    skew guard.
    """
    if partitions is not None:
        bands = bands.repartition(partitions, "band", "band_hash")
    pruned = _prune_hot_buckets(bands, max_bucket)
    a = pruned.select(
        "band", "band_hash", F.col("entity").alias("entity_a")
    )
    b = pruned.select(
        "band", "band_hash", F.col("entity").alias("entity_b")
    )
    out = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("entity_a") < F.col("entity_b"))
        .select("entity_a", "entity_b")
    )
    return out.dropDuplicates(["entity_a", "entity_b"]) if dedup else out


def verified_links(
    pairs: DataFrame, sigs: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Exact signature-agreement fraction (the minhash Jaccard
    estimator) — JVM-side zip_with, no Python. Signatures are joined
    back onto the pair list, AQE picking broadcast when sigs fit."""
    sa = sigs.select(
        F.col("entity").alias("entity_a"), F.col("sig").alias("sig_a")
    )
    sb = sigs.select(
        F.col("entity").alias("entity_b"), F.col("sig").alias("sig_b")
    )
    return (
        pairs.join(sa, "entity_a")
        .join(sb, "entity_b")
        .withColumn("jaccard_est", _sig_jaccard("sig_a", "sig_b"))
        .filter(F.col("jaccard_est") >= threshold)
        # entities with several name literals carry several signature
        # rows; without this reduce the pair would emit one link row
        # per signature combination (duplicate edges downstream)
        .groupBy("entity_a", "entity_b")
        .agg(F.max("jaccard_est").alias("jaccard_est"))
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 12,
    driver_threshold: int = 2_000_000,
    pre_materialized: bool = False,
) -> DataFrame:
    """(entity, canon) assignment over the verified-link graph.

    Hybrid execution: the verified link set is orders of magnitude
    smaller than the corpus (only near-duplicate surface forms), so
    when it fits comfortably on the driver (< ``driver_threshold``
    edges) a local union-find computes components in milliseconds —
    replacing several Spark rounds whose fixed cost dominates at this
    size. Larger graphs take the distributed path: hash-to-min label
    propagation with pointer jumping — each round (1) every node
    takes the min label over itself ∪ neighbors, (2) labels chase one
    level of indirection (canon := canon's canon), doubling
    propagation distance per round, so chains converge in
    O(log diameter) rounds instead of O(diameter).

    Each distributed round is localCheckpoint()ed to cut the growing
    lineage (at cluster scale: reliable checkpoint dir instead);
    iteration stops early on an exact no-label-changed check,
    ``max_iter`` bounds the worst case. Both paths emit identical
    labels (min entity id per component) — deterministic.
    """
    # Materialize the edge plan ONCE (the old limit().count() probe +
    # separate collect() computed the band-join/verify plan twice),
    # then the count probe is a cheap metadata scan and the driver
    # collect happens ONLY when the graph is actually small — never
    # transfer driver_threshold rows just to discard them. The
    # distributed path also reuses the materialized edges (it reads
    # them twice for the symmetrized union). At cluster scale:
    # reliable checkpoint dir instead of localCheckpoint.
    # ``pre_materialized=True`` (link_entities, which checkpoints the
    # link table itself) skips the redundant second materialization.
    edges = edges.select("entity_a", "entity_b")
    if not pre_materialized:
        edges = edges.localCheckpoint(eager=True)
    # driver_threshold=0 (forced distributed path) skips the count
    # probe entirely — no wasted action on the at-scale path
    if driver_threshold > 0 and edges.count() < driver_threshold:
        # Arrow both directions: toArrow / createDataFrame(pa.Table)
        # move columnar batches; the old row-wise collect() +
        # createDataFrame(list-of-tuples) pickled every row (measured
        # ~0.5 s of the 0.7 s CC phase at sf0.1 on 77k edges)
        tbl = edges.toArrow()
        spark = edges.sparkSession
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(
            tbl.column("entity_a").to_pylist(),
            tbl.column("entity_b").to_pylist(),
        ):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps the canon = min(component)
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        # typed arrays: an empty edge set still yields string columns
        out = pa.table(
            {
                "entity": pa.array(list(parent), pa.string()),
                "canon": pa.array([find(e) for e in parent], pa.string()),
            }
        )
        return spark.createDataFrame(out, schema="entity string, canon string")
    # The symmetrized edge list is checkpointed once and reused every
    # round. A pinned hash-partitioning would be even better, but
    # localCheckpoint erases outputPartitioning (verified: the plan
    # shows UnknownPartitioning), so rounds rely on AQE instead: once
    # the frontier delta drops under the broadcast threshold the
    # per-round join becomes a BroadcastHashJoin and the E-sized table
    # never shuffles again. At cluster scale: a bucketed edge table
    # gives the pinned layout localCheckpoint can't.
    sym = edges.select(
        F.col("entity_a").alias("src"), F.col("entity_b").alias("dst")
    ).union(
        edges.select(
            F.col("entity_b").alias("src"), F.col("entity_a").alias("dst")
        )
    ).localCheckpoint(eager=False)
    nodes = sym.select(F.col("src").alias("entity")).distinct()
    labels = nodes.withColumn("canon", F.col("entity")).localCheckpoint(
        eager=False
    )

    # SEMI-NAIVE (frontier-delta) min-label propagation: round k+1
    # joins the edge list only against labels that CHANGED in round k.
    # Exact because labels are monotone non-increasing and groupBy(min)
    # over (own label ∪ delivered deltas) keeps every delivered min: a
    # neighbor whose label did not change this round already delivered
    # that label the round it last changed (round 0 delivers all
    # initial labels), so re-delivering it cannot lower anything.
    # Dense near-dup graphs collapse the frontier within 2-3 rounds,
    # turning the per-round E-sized shuffle into a frontier-sized one —
    # the same frontier-active discipline as the graph.py family. The
    # delta table doubles as the convergence signal (empty ⇒ done), so
    # no separate changed-check join/action per round.
    delta = labels  # round 0: every node announces its initial label
    for _ in range(max_iter):
        # (1) deliveries from the frontier: neighbors' changed labels
        nbr = (
            sym.join(delta, sym["dst"] == delta["entity"])
            .select(F.col("src").alias("entity"), "canon")
        )
        stepped = (
            labels.select("entity", "canon").union(nbr)
            .groupBy("entity")
            .agg(F.min("canon").alias("canon"))
        )
        # (2) carry the PREVIOUS label alongside (entity-keyed join —
        # same key as the agg, n-sized) so the frontier falls out of
        # this round's one materialization instead of needing its own
        # join + checkpoint + action afterwards
        withold = stepped.join(
            labels.select(
                F.col("entity").alias("_eo"), F.col("canon").alias("_old")
            ),
            stepped["entity"] == F.col("_eo"),
        ).select("entity", "canon", "_old")
        # (3) pointer jump: canon := canon's canon (labels are node
        # ids, so every canon value exists as an entity), doubling
        # propagation distance per round
        jump = stepped.select(
            F.col("entity").alias("_e2"), F.col("canon").alias("_c2")
        )
        state = (
            withold.join(jump, withold["canon"] == jump["_e2"], "left")
            .select(
                "entity",
                F.coalesce("_c2", "canon").alias("canon"),
                "_old",
            )
            .localCheckpoint(eager=True)  # ONE materialization per round
        )
        labels = state.select("entity", "canon")
        # next frontier = nodes whose label strictly dropped; reading
        # it off the checkpointed state costs no extra join
        delta = state.filter(F.col("canon") < F.col("_old")).select(
            "entity", "canon"
        )
        if delta.limit(1).count() == 0:
            break
    return labels


def _doc_names(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Documents → the (entity, name) linking input, ids as strings."""
    return docs.select(
        F.col(id_col).cast("string").alias("entity"),
        F.col(text_col).alias("name"),
    )


def _minhash_links(
    named: DataFrame,
    threshold: float,
    max_bucket: int,
    partitions: int | None = None,
) -> DataFrame:
    """(entity, name) → verified links (entity_a, entity_b,
    jaccard_est): signatures → LSH bands → candidate join → verify,
    the one MinHash-LSH composition behind linking and dedup."""
    # the signature stage (Python minhash) feeds three plan branches
    # (bands + both verify joins) — materialize it once
    sigs = signatures(named).localCheckpoint(eager=False)
    return verified_links(
        # no distinct shuffle here: verified_links' per-pair groupBy
        # dedups band-multiplicity anyway
        candidate_pairs(
            lsh_bands(sigs), max_bucket=max_bucket, dedup=False,
            partitions=partitions,
        ),
        sigs,
        threshold=threshold,
    )


def link_entities(
    triples: DataFrame,
    threshold: float = 0.7,
    max_bucket: int = 256,
    driver_threshold: int = 2_000_000,
    partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full linking stage: triples → (links, entities).

    links(entity_a, entity_b, jaccard_est); entities(entity, canon)
    maps every linked surface IRI to its component-canonical IRI
    (min IRI in component — deterministic).

    ``driver_threshold`` is forwarded to ``connected_components``:
    pass 0 to force the distributed pointer-jumping path (what a real
    100 TB link graph runs) — the oracle query ``kg_linking_dist`` and
    ``tests/test_linking.py`` exercise it and assert it emits labels
    identical to the driver union-find.

    ``partitions`` is forwarded to ``candidate_pairs`` (None: AQE
    sizes the band join).
    """
    links = _minhash_links(
        entity_names(triples), threshold, max_bucket, partitions
    ).localCheckpoint(eager=False)
    # links checkpointed LAZILY: the first action (CC's collect on the
    # driver path, or round 0 of pointer jumping) materializes it, and
    # the caller's links.write / oracle materialization then reuse the
    # checkpoint instead of re-running the band self-join + verify
    # joins. eager=True cost one extra full materialization job per
    # run (measured ~0.4 s at sf0.1) for no extra sharing.
    entities = connected_components(
        links, driver_threshold=driver_threshold, pre_materialized=True
    )
    return links, entities


def apply_canonical(triples: DataFrame, entities: DataFrame) -> DataFrame:
    """Rewrite s/o through the canonical map. The entities frame is
    small relative to triples (only linked surface forms appear) —
    broadcast both joins; unlinked terms pass through."""
    s_map = F.broadcast(
        entities.select(
            F.col("entity").alias("_s"), F.col("canon").alias("_s_canon")
        )
    )
    o_map = F.broadcast(
        entities.select(
            F.col("entity").alias("_o"), F.col("canon").alias("_o_canon")
        )
    )
    return (
        triples.join(s_map, triples["s"] == s_map["_s"], "left")
        .join(o_map, triples["o"] == o_map["_o"], "left")
        .withColumn(
            "s",
            F.when(
                F.col("s_kind") == 0, F.coalesce("_s_canon", "s")
            ).otherwise(F.col("s")),
        )
        .withColumn(
            "o",
            F.when(F.col("o_kind") == 0, F.coalesce("_o_canon", "o")).otherwise(
                F.col("o")
            ),
        )
        .drop("_s", "_s_canon", "_o", "_o_canon")
    )
