"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline on a
deterministic synthesized pages corpus; ``queries()`` exposes every
operator family from SURVEY.md §2 (plus the training-data ops) as
(spark, sf_dir) → DataFrame callables; ``oracle_sql()`` gives the
DuckDB-checkable ANSI-SQL mirror for every SQL-expressible one.

Cross-engine determinism rules used throughout (so the driver's
value-hash compare is exact, not approximate):

- money aggregates go through integer cents
  (``cast(round(x*100) as bigint)`` per row, summed exactly) —
  float summation order never matters;
- per-row float arithmetic (ratios, cosines) is identical IEEE ops
  in both engines on identical inputs, rounded to 6 dp in BOTH;
- timestamps are emitted as formatted strings (no session-TZ or
  type-mapping ambiguity);
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

LANGS = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "de", "que", "los", "una"],
    "de": ["der", "die", "und", "das", "ist"],
}


_REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _pkg_hash() -> str:
    """Content hash of the serd_spark source tree, so the shipped zip
    is invalidated the moment any module changes (a fixed /tmp path
    would keep shadowing executors with stale code after edits)."""
    import hashlib

    h = hashlib.blake2b(digest_size=6)
    pkg = os.path.join(_REPO, "serd_spark")
    paths = []
    for root, dirs, files in os.walk(pkg):
        # prune in place BEFORE the walk descends (sorted(os.walk(...))
        # would exhaust the generator first, making pruning a no-op)
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        paths.extend(
            os.path.join(root, fn) for fn in files if fn.endswith(".py")
        )
    for p in sorted(paths):
        h.update(os.path.relpath(p, pkg).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship serd_spark to Python workers regardless of the driver
    process's cwd/PYTHONPATH (no-op when already importable there).
    The zip is keyed by a content hash of the package, so executors
    always see the current code and concurrent sessions never race on
    one shared file."""
    try:
        import shutil

        zip_path = f"/tmp/serd_spark_pkg_{_pkg_hash()}.zip"
        if not os.path.exists(zip_path):
            tmp = f"{zip_path}.{os.getpid()}.tmp"
            shutil.make_archive(tmp, "zip", root_dir=_REPO,
                                base_dir="serd_spark")
            os.replace(f"{tmp}.zip", zip_path)
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added, or local path import suffices


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", os.path.basename(os.path.normpath(sf_dir)))
    return float(m.group(1)) if m else 0.01


def _n_pages(sf_dir: str) -> int:
    # 200 pages at sf0.001 → 20k at sf0.1; extraction cost ∝ pages
    return max(200, int(200_000 * _sf_of(sf_dir)))


def _cents(col) -> F.Column:
    return F.round(col * 100).cast("long")


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.sources.pages import synthesize_pages

    _ensure_shipped(spark)
    return synthesize_pages(spark, _n_pages(sf_dir), seed=42)


def _kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction with canonicalization+dedup fused into the one
    Python stage (shuffle-free; equivalent to the unfused
    canonicalize_triples∘dedup_triples — see extract.py)."""
    from serd_spark.operators.extract import extract_triples, triples_only
    from serd_spark.sources.pages import latest_crawl

    pages = latest_crawl(_pages(spark, sf_dir))
    return triples_only(
        extract_triples(pages, lax=True, canonicalize=True, dedup=True)
    )


# KG pipeline queries
#
# The extraction/canonicalization output is ALSO materialized to
# parquet under ORACLE_DIR so DuckDB can independently re-aggregate it:
# the Spark side of each query recomputes from the source pages (a
# second, fresh extraction run), so a hash match proves both (a) the
# extraction is deterministic across executions and (b) the Spark
# aggregation agrees with an independent SQL engine over the same rows.
# ---------------------------------------------------------------------

ORACLE_DIR = "/tmp/serd_spark_oracle"
_MATERIALIZED: set[str] = set()


def _oracle_path(sf_dir: str, what: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(ORACLE_DIR, base, what)


def _materialize(sf_dir: str, what: str, df_fn) -> None:
    """Write ``df_fn()`` to the oracle dir, once per process, and only
    at the driver's correctness scale (sf0.01) — bench runs the same
    queries at sf0.1 and must not pay the extra write job."""
    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.01":
        return
    out = _oracle_path(sf_dir, what)
    if out not in _MATERIALIZED:
        df_fn().write.mode("overwrite").parquet(out)
        _MATERIALIZED.add(out)


def _materialize_minhash(
    spark: SparkSession, sf_dir: str, docs: DataFrame, sigs: str, bands: str
) -> None:
    """Write a documents table's minhash signatures (as ``sigs``) and
    the LSH bands cut from the written signatures (as ``bands``), so
    DuckDB can replay the candidate pipeline (bucket-cap prune → band
    equi-join → signature-agreement verify) independently."""
    from serd_spark.operators.linking import _doc_names, lsh_bands, signatures

    _materialize(sf_dir, sigs, lambda: signatures(_doc_names(docs)))
    _materialize(
        sf_dir, bands,
        lambda: lsh_bands(spark.read.parquet(_oracle_path(sf_dir, sigs))),
    )


def _materialize_extraction(spark: SparkSession, sf_dir: str) -> None:
    """Write one fresh raw-extraction run (triple rows rec='t' + error
    rows rec='e') where the DuckDB oracle can read it.  Overwritten on
    the first use per process so oracles never see stale rounds."""
    from serd_spark.operators.extract import extract_triples

    _materialize(
        sf_dir, "extract",
        lambda: extract_triples(_pages(spark, sf_dir), lax=True),
    )


def _materialize_triples(spark: SparkSession, sf_dir: str) -> None:
    """Same, for the canonicalized+deduped triple table."""
    _materialize(sf_dir, "triples", lambda: _kg_triples(spark, sf_dir))



_BRUTE_FORCE_ROW_CAP = 100_000


def _assert_brute_force_scale(df: DataFrame, name: str) -> None:
    """Refuse to run a brute-force O(n²) certification query on an
    input too large for it. ``limit(cap+1).count()`` short-circuits the
    scan, so the guard itself is cheap even over a huge table."""
    n = df.limit(_BRUTE_FORCE_ROW_CAP + 1).count()
    if n > _BRUTE_FORCE_ROW_CAP:
        raise ValueError(
            f"{name} is a brute-force O(n²) certification baseline and is "
            f"capped at {_BRUTE_FORCE_ROW_CAP} input rows (got >{n - 1}); "
            "use the bucketed scale path (dedup_embedding / ann_ivf) for "
            "real workloads"
        )




__all__ = [
    'Callable',
    'DataFrame',
    'F',
    'LANGS',
    'ORACLE_DIR',
    'SparkSession',
    'Window',
    '_BRUTE_FORCE_ROW_CAP',
    '_REPO',
    '_assert_brute_force_scale',
    '_cents',
    '_ensure_shipped',
    '_kg_triples',
    '_materialize',
    '_materialize_extraction',
    '_materialize_minhash',
    '_materialize_triples',
    '_n_pages',
    '_oracle_path',
    '_pages',
    '_pkg_hash',
    '_sf_of',
    '_t',
    'os',
    're',
    'sys',
]
