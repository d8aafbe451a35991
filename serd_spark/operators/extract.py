"""Per-document RDF extraction stage — the engine's core operator.

Re-expresses the reference's reader pipeline (byte source → grammar
→ statement sink; ref: src/reader.c, src/n3.c — SURVEY.md §2A ops
1-5, 9-10, 14) as a single shuffle-free ``mapInArrow`` stage, one kernel
(``_extract``) behind every entry point:

- unit of streaming is one *document row*, Arrow record batches are
  the "pages" (≙ ``SerdByteSource`` 4096-byte paging);
- the iterator-UDF form preserves the bounded-memory property of
  ``serd_reader_read_chunk``: one batch in flight at a time;
- strict/lax error semantics per document: lax records
  ``(url, island, line, col, msg)`` error rows in the same output
  (discriminator column ``rec``), so ONE pass over 100 TB produces
  both the triples and the bad-docs side output — split later by a
  partition-pruned filter, never by re-running extraction;
- blank-node labels are namespaced ``{xxh64(url):016x}.{island}.
  {label}``: a pure function of (url, document bytes), so task
  retries are idempotent and labels never clash across documents
  (≙ serd_reader_add_blank_prefix per-input scoping, ref:
  src/reader.c).

The kernel reads each Arrow column with ``to_pylist`` and builds its
output ``pa.RecordBatch`` from column lists against one Arrow schema
derived from the DDL: the UDF boundary costs one conversion per batch
each way, and nothing goes through pandas.

Plan hygiene (SURVEY.md §4.1): a Python UDF is an optimization
barrier — callers must project/filter the pages scan BEFORE this
stage (``extract_triples`` selects only url+html itself so Parquet
column pruning reaches the scan).
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from itertools import repeat

import pyarrow as pa

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serd_spark.rdf.html_islands import extract_document
from serd_spark.rdf.model import BLANK
from serd_spark.rdf.ntriples import canonical_blank_relabel

# Remote JSON-LD contexts resolve from a pre-fetched snapshot dir
# named by $SERD_SPARK_JSONLD_CONTEXT_DIR (ship it to executors with
# spark-submit --files + spark.executorEnv.SERD_SPARK_JSONLD_CONTEXT_DIR).
# Resolved once per worker; absent → remote contexts stay per-island
# errors (never fetched live from inside a UDF).
_JSONLD_LOADER = None
_JSONLD_LOADER_INIT = False


def _jsonld_loader():
    global _JSONLD_LOADER, _JSONLD_LOADER_INIT
    if not _JSONLD_LOADER_INIT:
        import os

        d = os.environ.get("SERD_SPARK_JSONLD_CONTEXT_DIR")
        if d:
            from serd_spark.rdf.jsonld import dir_context_loader

            _JSONLD_LOADER = dir_context_loader(d)
        _JSONLD_LOADER_INIT = True
    return _JSONLD_LOADER

# one combined schema: triple rows (rec='t') + error rows (rec='e')
TRIPLES_SCHEMA = (
    "url string, island int, stmt_ord int, syntax string, "
    "g string, s string, s_kind tinyint, p string, "
    "o string, o_kind tinyint, o_dt string, o_lang string, "
    "rec string, err_line int, err_col int, err_msg string"
)

# the lineage form (plans/pipeline.py): every row names the task's
# input partition; each partition ends with one rec='p' row whose
# wall_ms is that task's extraction wall time
_EXTRACT_WITH_PART = TRIPLES_SCHEMA + ", part_id int, wall_ms long"

# worker-lifetime IRI-normalization memo: lives in the Python worker
# process across tasks (workers are reused), keyed per module import.
# Web vocabulary IRIs repeat endlessly, so hit rates are very high.
_NORM_MEMO: dict[str, str] = {}


def _doc_hash(url: str) -> str:
    import hashlib

    return hashlib.blake2b(url.encode(), digest_size=8).hexdigest()


def _blank(url_h: str, island: int, label: str) -> str:
    return f"{url_h}.{island}.{label}"


def _marker(url: str | None, rec: str) -> tuple:
    """A row with no triple or error payload: 'd' (document done),
    's' (resume skip) or 'p' (partition lineage)."""
    return (url,) + (None,) * 11 + (rec, None, None, None)


def _extract_rows(
    url: str,
    html: bytes,
    lax: bool,
    norm_memo: dict | None = None,
    dedup: bool = False,
    syntax: str | None = None,
) -> list[tuple]:
    """``norm_memo`` non-None fuses RFC 3986 canonicalization into
    the parse (one Python stage instead of two Arrow round trips —
    see ``extract_triples(canonicalize=True)``). ``dedup`` drops
    repeated quads *within this document* — exactly equivalent to the
    global ``dedup_triples`` (whose key includes ``url``, making
    duplicates document-local by construction) but shuffle-free.

    ``syntax`` non-None bypasses the HTML island scan and parses the
    whole document as that syntax directly (raw .ttl/.nt/.nq/.trig
    files — the serdi file path): content is never wrapped in HTML,
    so documents containing literal '</script>' text parse intact."""
    seen: set[tuple] = set()
    text = html.decode("utf-8", errors="replace") if isinstance(
        html, (bytes, bytearray)
    ) else str(html)
    if syntax is None:
        triples, errors = extract_document(
            text, url, lax=lax, jsonld_context_loader=_jsonld_loader()
        )
    else:
        # one harness shared with the island loop (parse_one), so the
        # lax/strict contracts cannot drift — including unknown/null
        # syntax values, which lax records and strict rejects
        from serd_spark.rdf.html_islands import parse_one

        stmts, errs = parse_one(
            syntax, text, url, lax,
            jsonld_context_loader=_jsonld_loader(),
        )
        triples = [(0, syntax, st) for st in stmts]
        errors = [
            (0, syntax or "?", ln, col, m) for ln, col, m in errs
        ]
    uh = _doc_hash(url)

    if norm_memo is None:
        norm = None
    else:
        from serd_spark.rdf.uri import normalize

        def norm(v: str) -> str:
            out = norm_memo.get(v)
            if out is None:
                try:
                    out = normalize(v)
                except Exception:
                    out = v
                if len(norm_memo) < 65536:
                    norm_memo[v] = out
            return out

    # canonical per-island relabel (b1, b2, … in first-appearance
    # order) BEFORE namespacing: the parsers' internal anon labels
    # contain '=' (collision-proofing), which is not a legal
    # BLANK_NODE_LABEL char — the exported label must be valid NT
    per_island: dict[int, list] = {}
    for island, _syntax, st in triples:
        per_island.setdefault(island, []).append(st)
    relabel = {
        island: canonical_blank_relabel(stmts)
        for island, stmts in per_island.items()
    }

    out: list[tuple] = []
    for ord_, (island, syntax, st) in enumerate(triples):
        s, p, o, g = st.subject, st.predicate, st.object, st.graph
        rl = relabel[island]
        sv = _blank(uh, island, rl[s.value]) if s.kind == BLANK else s.value
        ov = _blank(uh, island, rl[o.value]) if o.kind == BLANK else o.value
        pv = p.value
        if norm is not None:
            if s.kind != BLANK:
                sv = norm(sv)
            if o.kind == 0:  # IRI objects only; literals untouched
                ov = norm(ov)
            pv = norm(pv)
        if g is None:
            gv = ""
        elif g.kind == BLANK:
            # blank graph labels keep the "_:" marker so the single
            # string column preserves the term kind (TriG allows
            # blank-node graph labels)
            gv = "_:" + _blank(uh, island, rl[g.value])
        else:
            gv = norm(g.value) if norm is not None else g.value
        if dedup:
            k = (gv, sv, s.kind, pv, ov, o.kind, o.datatype, o.lang)
            if k in seen:
                continue
            seen.add(k)
        out.append(
            (
                url, island, ord_, syntax,
                gv, sv, s.kind, pv,
                ov, o.kind, o.datatype, o.lang,
                "t", None, None, None,
            )
        )
    for island, syntax, line, col, msg in errors:
        out.append(
            (
                url, island, None, syntax,
                None, None, None, None,
                None, None, None, None,
                "e", line, col, msg,
            )
        )
    # one marker row per document ('d'): pages with no RDF would
    # otherwise leave no trace, breaking checkpoint-resume (they
    # must count as done) and the input_rows lineage metric
    out.append(_marker(url, "d"))
    return out


def _extract(
    src: DataFrame,
    lax: bool,
    canonicalize: bool,
    dedup: bool,
    syntax_col: str | None = None,
    lineage: bool = False,
) -> DataFrame:
    """The one per-document loop (≙ ``serd_reader_read_chunk``) behind
    ``extract_triples``, ``extract_raw`` and
    ``pipeline.extract_with_lineage``.

    ``src``'s first two columns are (url, document). ``syntax_col``
    names a per-row syntax column: the document is then parsed whole
    as that syntax, with no island scan. ``lineage`` adds ``part_id``
    to every row, emits one ``rec='s'`` marker instead of parsing a
    row whose ``_skip`` column is true, and ends each partition with
    one ``rec='p'`` row carrying the task's ``wall_ms``."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    ddl = _EXTRACT_WITH_PART if lineage else TRIPLES_SCHEMA
    schema = to_arrow_schema(_parse_datatype_string(ddl))
    has_skip = lineage and "_skip" in src.columns

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        memo = _NORM_MEMO if canonicalize else None
        t0 = time.perf_counter()
        pid = TaskContext.get().partitionId() if lineage else None

        def to_batch(rows: list[tuple], wall_ms: int | None = None):
            cols = list(zip(*rows))
            if lineage:
                cols += [[pid] * len(rows), [wall_ms] * len(rows)]
            return pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                schema=schema,
            )

        for batch in batches:
            syns = (
                batch.column(syntax_col).to_pylist()
                if syntax_col else repeat(None)
            )
            skips = (
                batch.column("_skip").to_pylist() if has_skip else repeat(False)
            )
            rows: list[tuple] = []
            for url, doc, syn, skip in zip(
                batch.column(0).to_pylist(),
                batch.column(1).to_pylist(),
                syns,
                skips,
            ):
                if skip:
                    rows.append(_marker(url, "s"))
                    continue
                # a null raw syntax must NOT fall through to the HTML
                # island scan (silently extracting nothing from raw
                # RDF text): map it to the unsupported-syntax error
                # path like any unknown value
                if syntax_col and not (isinstance(syn, str) and syn):
                    syn = "?"
                rows.extend(_extract_rows(url, doc, lax, memo, dedup, syn))
            if rows:
                yield to_batch(rows)
        if lineage:
            wall_ms = int((time.perf_counter() - t0) * 1000)
            yield to_batch([_marker(None, "p")], wall_ms)

    return src.mapInArrow(run, schema=ddl)


def extract_triples(
    pages: DataFrame,
    lax: bool = True,
    canonicalize: bool = False,
    dedup: bool = False,
) -> DataFrame:
    """pages(url, …, html, …) → combined triples+errors DataFrame.

    Shuffle-free: pure map-side work, embarrassingly parallel over
    input splits. Selects only (url, html) so Catalyst prunes the
    Parquet scan to two columns despite the UDF barrier.

    ``canonicalize=True`` fuses RFC 3986 IRI normalization into this
    stage (operator fusion): the strings are already in Python, so a
    separate ``canonicalize_triples`` pass would pay a full extra
    JVM⇄Arrow⇄Python round trip over the whole triple table — at 32
    local cores that second crossing measurably anti-scales, and at
    100 TB it would double the Python-boundary volume of the biggest
    stage. The memo is worker-lifetime (vocabulary IRIs repeat
    endlessly across the web).

    ``dedup=True`` fuses quad dedup the same way: the global dedup
    key includes ``url``, so duplicates are document-local and a
    per-document set() replaces a full-table shuffle. Precondition:
    urls are unique in ``pages`` (run ``latest_crawl`` first) —
    otherwise re-crawled rows of the same url still produce
    duplicates that only the global ``dedup_triples`` removes.
    """
    return _extract(pages.select("url", "html"), lax, canonicalize, dedup)


def extract_raw(
    docs: DataFrame,
    lax: bool = True,
    canonicalize: bool = False,
    dedup: bool = False,
    url_col: str = "url",
    text_col: str = "text",
    syntax_col: str = "syntax",
) -> DataFrame:
    """Direct-syntax extraction for RAW RDF documents (one file = one
    document of a known syntax — the serdi input path, no HTML island
    scan).  ``docs`` carries (url, text, syntax ∈ turtle/trig/
    ntriples/nquads/jsonld); output schema and fused canonicalize/
    dedup semantics are identical to ``extract_triples``."""
    return _extract(
        docs.select(url_col, text_col, syntax_col),
        lax, canonicalize, dedup, syntax_col=syntax_col,
    )


def triples_only(extracted: DataFrame) -> DataFrame:
    # wall_ms: the lineage form's per-partition column, null on 't' rows
    return extracted.filter(F.col("rec") == "t").drop(
        "rec", "err_line", "err_col", "err_msg", "wall_ms"
    )


def errors_only(extracted: DataFrame) -> DataFrame:
    """The bad-docs side output (≙ serdi -l skip-and-count)."""
    return extracted.filter(F.col("rec") == "e").select(
        "url", "island", "syntax", "err_line", "err_col", "err_msg"
    )
