"""Deterministic synthetic ``pages`` corpus (FIXTURES.md §1).

Schema is exactly ``BASELINE.json:input_hint``:
``pages(url string, warc_ts timestamp, html binary, text string,
lang string)``.

Generation is **distributed and retry-safe**: rows are derived from
``spark.range(n)`` ids through a keyed hash — a pure function of
``(seed, i)`` — never from mutable RNG state, timestamps or
``monotonically_increasing_id`` (SURVEY.md §4.2-6). The same
``(seed, n)`` always yields byte-identical pages at any parallelism,
which is what makes correctness checks and the two-parallelism
scaling bench comparable.

Content mix (FIXTURES.md §1): Turtle / TriG / N-Triples / N-Quads /
JSON-LD script islands + microdata + RDFa Lite; ~10% of pages carry no RDF; ~5%
carry a deliberately malformed island (exercises the lax side
output); ~2% re-crawled urls (same url, later warc_ts); ~1% of pages
reference a small hub-entity set (exercises skew salting).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

_LANGS = ["en", "en", "en", "en", "fr", "fr", "es", "es", "zh", "de"]  # zipf-ish
_BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)

N_HUBS = 8  # the "hub entities" — tiny set referenced by ~1% of pages


def _h(seed: int, i: int, salt: str) -> int:
    """Pure 64-bit hash of (seed, row, salt) — the only randomness."""
    d = hashlib.blake2b(
        f"{seed}:{i}:{salt}".encode(), digest_size=8
    ).digest()
    return int.from_bytes(d, "big")


def hub_iri(k: int) -> str:
    return f"http://hub.example/entity/{k}"


def _page_for(
    i: int, seed: int, richness: int = 1
) -> tuple[str, datetime, bytes, str, str]:
    """``richness`` scales per-page content: number of RDF islands
    and filler text. richness=1 ≈ a small page (~1.5 KB); the bench
    uses higher values so page sizes and per-page parse work match
    real Common-Crawl documents (tens of KB) rather than being
    dominated by per-row overheads."""
    site = i % 97
    url = f"https://site{site}.example/page/{i}"
    ts = _BASE_TS + timedelta(seconds=i)
    lang = _LANGS[_h(seed, i, "lang") % len(_LANGS)]
    ent = f"http://site{site}.example/thing/{i}"
    name = f"Thing {i} — «número {i % 537}»"
    peer = f"http://site{(i * 7 + 1) % 97}.example/thing/{(i * 13 + 5) % 9973}"

    parts: list[str] = [
        "<!DOCTYPE html><html><head>",
        f"<title>Page {i}</title>",
        "</head><body>",
    ]
    kind = _h(seed, i, "kind") % 100

    if kind < 10:
        pass  # ~10%: no RDF at all
    else:
        is_hub = _h(seed, i, "hub") % 100 == 0
        obj = hub_iri(_h(seed, i, "which-hub") % N_HUBS) if is_hub else peer
        syntax = _h(seed, i, "syntax") % 6
        if syntax == 0:
            parts.append(
                '<script type="text/turtle">\n'
                "@prefix s: <http://schema.org/> .\n"
                f"@base <http://site{site}.example/> .\n"
                f"<thing/{i}> a s:Thing ;\n"
                f'  s:name """{name}""" ;\n'
                f"  s:position {i} ;\n"
                f"  s:ratingValue {(i % 50) / 10.0:.1f} ;\n"
                f"  s:relatedLink <{obj}> ;\n"
                f"  s:review [ s:author \"user{i % 211}\" ] .\n"
                "</script>"
            )
        elif syntax == 1:
            parts.append(
                '<script type="application/ld+json">'
                '{"@context": {"@vocab": "http://schema.org/",'
                ' "relatedLink": {"@type": "@id"}},'
                f' "@id": "{ent}", "@type": "Thing",'
                f' "name": {_json_str(name)},'
                f' "position": {i},'
                f' "relatedLink": "{obj}"}}'
                "</script>"
            )
        elif syntax == 2:
            if i % 3 == 0:
                # itemref form: the relatedLink property lives outside
                # the item element and is pulled in via the WHATWG
                # itemref crawl — SAME triples as the inline form, so
                # per-page counts are identical either way
                parts.append(
                    f'<div itemscope itemtype="http://schema.org/Thing" '
                    f'itemid="{ent}" itemref="md{i}">'
                    f'<span itemprop="name">{name}</span>'
                    "</div>"
                    f'<p id="md{i}">'
                    f'<a itemprop="relatedLink" href="{obj}">rel</a></p>'
                )
            else:
                parts.append(
                    f'<div itemscope itemtype="http://schema.org/Thing" '
                    f'itemid="{ent}">'
                    f'<span itemprop="name">{name}</span>'
                    f'<a itemprop="relatedLink" href="{obj}">rel</a>'
                    "</div>"
                )
        elif syntax == 3:
            parts.append(
                '<script type="application/n-triples">\n'
                f'<{ent}> <http://schema.org/name> {_nt_str(name)} .\n'
                f"<{ent}> <http://schema.org/relatedLink> <{obj}> .\n"
                "</script>"
            )
        elif syntax == 4:
            parts.append(
                '<script type="application/trig">\n'
                "@prefix s: <http://schema.org/> .\n"
                f"<{ent}#g> {{\n"
                f'  <{ent}> s:name """{name}""" ;\n'
                f"    s:relatedLink <{obj}> .\n"
                f"}}\n"
                "</script>"
            )
        else:
            # RDFa (schema.org-in-RDFa): same triple shape as the
            # microdata variant — type + name + relatedLink, spelled
            # three ways so the Core grammar is exercised end-to-end:
            # @rel chaining (bare term through @vocab), the safe-CURIE
            # / CURIE form (@prefix + about="[e:i]" + resource="e:…"),
            # and the plain Lite form. All three emit the SAME triples.
            if i % 3 == 0:
                parts.append(
                    f'<div vocab="http://schema.org/" typeof="Thing" '
                    f'about="{ent}">'
                    f'<span property="name">{name}</span>'
                    f'<a rel="relatedLink" href="{obj}">rel</a>'
                    "</div>"
                )
            elif i % 3 == 1:
                ent_pfx = f"http://site{site}.example/thing/"
                parts.append(
                    f'<div prefix="s: http://schema.org/ e: {ent_pfx}" '
                    f'typeof="s:Thing" about="[e:{i}]">'
                    f'<span property="s:name">{name}</span>'
                    f'<span property="s:relatedLink" resource="{obj}">'
                    "rel</span></div>"
                )
            else:
                parts.append(
                    f'<div vocab="http://schema.org/" typeof="Thing" '
                    f'about="{ent}">'
                    f'<span property="name">{name}</span>'
                    f'<a property="relatedLink" href="{obj}">rel</a>'
                    "</div>"
                )
        if _h(seed, i, "bad") % 100 < 5:
            parts.append(
                '<script type="text/turtle">'
                f"<http://bad{i}> <oops .. malformed {{ island\n"
                "</script>"
            )
        # richness>1: additional Turtle islands + filler prose so
        # page size and per-page parse work match real web documents
        for r in range(1, richness):
            j = i * richness + r
            entr = f"http://site{site}.example/thing/{i}/part/{r}"
            parts.append(
                f"<p>{'Filler prose between islands, sentence %d. ' % r * 20}</p>"
                '<script type="text/turtle">\n'
                "@prefix s: <http://schema.org/> .\n"
                f"<{entr}> a s:Thing ;\n"
                f'  s:name """{name} part {r}""" ;\n'
                f"  s:position {j} ;\n"
                f"  s:ratingValue {(j % 50) / 10.0:.1f} ;\n"
                f"  s:relatedLink <{obj}> ;\n"
                f"  s:review [ s:author \"user{j % 211}\" ] .\n"
                "</script>"
            )

    text = (
        f"Plain text body of page {i}.\n"
        f'Contains "quotes", UTF-8 — ünïcode 漢字 {i % 1009} — and\n'
        "multiple lines that must survive byte-identically.\n"
    )
    parts.append(f"<p>{text}</p></body></html>")
    return url, ts, "".join(parts).encode("utf-8"), text, lang


def _json_str(s: str) -> str:
    import json

    return json.dumps(s, ensure_ascii=False)


def _nt_str(s: str) -> str:
    from serd_spark.rdf.ntriples import _escape_literal

    return f'"{_escape_literal(s)}"'


def synthesize_pages(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    partitions: int | None = None,
    richness: int = 1,
) -> DataFrame:
    """Distributed deterministic corpus: ``spark.range`` →
    ``mapInArrow`` (generation is map-side, shuffle-free, and scales
    linearly with cores — the generator itself must not be the bench
    bottleneck)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    base = spark.range(0, n_rows, 1, partitions)
    schema = to_arrow_schema(_parse_datatype_string(PAGES_SCHEMA))
    recrawl_every = 50  # ~2% re-crawled urls

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            c_url, c_ts, c_html, c_text, c_lang = [], [], [], [], []
            for i in batch.column(0).to_pylist():
                url, ts, html, text, lang = _page_for(i, seed, richness)
                if i % recrawl_every == recrawl_every - 1:
                    # re-crawl of the previous page, later timestamp
                    url, _, html, text, lang = _page_for(
                        i - 1, seed, richness
                    )
                    ts = ts + timedelta(days=1)
                c_url.append(url)
                c_ts.append(ts)
                c_html.append(html)
                c_text.append(text)
                c_lang.append(lang)
            cols = (c_url, c_ts, c_html, c_text, c_lang)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                schema=schema,
            )

    return base.mapInArrow(gen, schema=PAGES_SCHEMA)


# Decoded-size-aware split sizing for pages scans: the pages table
# (repetitive HTML in a binary column) compresses ~15× in parquet, so
# the 128 MB default maxPartitionBytes turns a whole corpus into ~2
# input splits and the extraction stage runs on 2 cores
# (BENCH/BASELINE.md "What it took"). 2 MB compressed ≈ 30 MB decoded
# keeps every core busy without tiny-split scheduling overhead.
PAGES_SCAN_CONF = {
    "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": "0",
}


def read_pages(spark, path: str) -> DataFrame:
    """Scan a pages parquet/Iceberg directory with split sizing that
    accounts for the ~15× parquet compression of HTML payloads.  Every
    production path that scans a pages table must come through here
    (bench.py and tools/scaling_bench.py set the same conf).

    NOTE: split sizing is a SESSION-wide runtime conf read at action
    planning time — Spark has no per-relation override — so this
    affects every later scan in the session too.  That is the right
    trade for the jobs that call this (extraction pipelines dominated
    by the pages scan; downstream triple/manifest reads are small);
    a mixed job wanting default sizing back must reset
    ``spark.sql.files.maxPartitionBytes`` itself."""
    for k, v in PAGES_SCAN_CONF.items():
        spark.conf.set(k, v)
    return spark.read.parquet(path)


def latest_crawl(pages: DataFrame) -> DataFrame:
    """Re-crawl dedup at ingest: latest ``warc_ts`` wins per url
    (SURVEY.md §2B "late data").

    ``max_by`` hash aggregation, not a window: a window over
    ``partitionBy(url)`` sort-shuffles every page payload; ``max_by``
    is a declarative aggregate with MAP-SIDE partial merge — each
    mapper forwards at most one candidate row per url, so re-crawl
    duplicates are pruned before the shuffle and nothing is sorted.
    Strictly ≤ the window's shuffle volume at any scale.

    Content-hash tie-break: equal-timestamp re-crawls must pick a
    deterministic winner or resume/retry idempotency breaks."""
    cols = pages.columns
    key = F.struct(F.col("warc_ts"), F.xxhash64("html").alias("_h"))
    row = F.struct(*[F.col(c) for c in cols])
    return (
        pages.groupBy("url")
        .agg(F.max_by(row, key).alias("_r"))
        .select(*[F.col(f"_r.{c}").alias(c) for c in cols])
    )
