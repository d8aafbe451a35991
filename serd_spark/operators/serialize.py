"""N-Triples/N-Quads serialization stage — the Spark expression of
the reference's flat writer (ref: src/writer.c#serd_writer_write_statement,
escape table #write_text; SURVEY.md §2A ops 11, 13).

Two forms, both deterministic:

- :func:`nt_lines` — row-wise: one output line per triple row, blank
  labels kept as their globally-unique document-scoped form. Pure
  map-side (no shuffle), the form used when materializing an NT
  export of the whole graph. "Stable blank-node numbering" holds
  because labels are a pure function of (url, content).
- :func:`serialize_documents` — per-document canonical form:
  groupBy(url) → sort by stmt_ord → relabel blanks ``b1, b2, …`` in
  first-appearance order → one NT/NQ document per url. This is the
  byte-exact golden/round-trip form (one shuffle, used by
  conformance checks and per-document exports).
"""

from __future__ import annotations

from itertools import repeat

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serd_spark.rdf.model import BLANK, IRI, Statement, Term
from serd_spark.rdf.ntriples import (
    _escape_iri,
    _escape_literal,
    write_nquads,
    write_ntriples,
)


def _format_series(
    v: pd.Series, kind: pd.Series, dt: pd.Series, lang: pd.Series
) -> pd.Series:
    out = []
    for val, k, d, lg in zip(v, kind, dt, lang):
        if k == IRI:
            out.append(f"<{_escape_iri(val)}>")
        elif k == BLANK:
            out.append(f"_:{val}")
        else:
            s = f'"{_escape_literal(val)}"'
            if lg:
                s += f"@{lg}"
            elif d:
                s += f"^^<{_escape_iri(d)}>"
            out.append(s)
    return pd.Series(out)


def nt_lines(triples: DataFrame, quads: bool = False) -> DataFrame:
    """→ DataFrame(url, nt) with one serialized statement per row.
    Map-side only; keeps document-scoped blank labels (valid
    BLANK_NODE_LABELs — '.' is allowed mid-label)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def fmt_s(v: pd.Series, k: pd.Series) -> pd.Series:
        return pd.Series(
            [f"<{_escape_iri(x)}>" if kk == IRI else f"_:{x}" for x, kk in zip(v, k)]
        )

    @pandas_udf("string")
    def fmt_o(
        v: pd.Series, k: pd.Series, d: pd.Series, lg: pd.Series
    ) -> pd.Series:
        return _format_series(v, k, d, lg)

    @pandas_udf("string")
    def fmt_p(v: pd.Series) -> pd.Series:
        # predicates need the same \u escaping as any IRI — a raw
        # concat would emit invalid NT for IRIs containing '>' etc.
        return pd.Series([f"<{_escape_iri(x)}>" for x in v])

    line = F.concat_ws(
        " ",
        fmt_s("s", "s_kind"),
        fmt_p("p"),
        fmt_o("o", "o_kind", "o_dt", "o_lang"),
    )
    if quads:
        @pandas_udf("string")
        def fmt_g(v: pd.Series) -> pd.Series:
            # graph IRIs need the same \u escaping as any IRI — raw
            # concat would emit invalid NQ for IRIs containing '>'.
            # Null g (public API over arbitrary quad tables; in-repo
            # extraction emits '') must not reach startswith.
            return pd.Series(
                [None if x is None
                 else (x if x.startswith("_:") else f"<{_escape_iri(x)}>")
                 for x in v]
            )

        gterm = fmt_g("g")
        line = F.concat_ws(
            " ", line, F.when(F.col("g") != "", gterm).otherwise(F.lit(""))
        )
    return triples.select(
        "url", F.concat(F.rtrim(line), F.lit(" .")).alias("nt")
    )


def _statements(cols, graphs: bool) -> list[Statement]:
    """Triple-row columns (``cols[name]`` iterates one column: a
    pandas frame or a dict of lists) → their ``Statement``s. Null
    ``o_dt``/``o_lang`` are empty; with ``graphs``, a non-empty ``g``
    becomes the graph term (``_:label`` → blank node, else IRI)."""
    gs = cols["g"] if graphs else repeat(None)
    out = []
    for s, sk, p, o, ok, dt, lg, g in zip(
        cols["s"], cols["s_kind"], cols["p"], cols["o"], cols["o_kind"],
        cols["o_dt"], cols["o_lang"], gs,
    ):
        gt = None
        if g:
            gt = Term(BLANK, g[2:]) if g.startswith("_:") else Term(IRI, g)
        out.append(
            Statement(
                Term(int(sk), s),
                Term(IRI, p),
                Term(int(ok), o, dt or "", lg or ""),
                gt,
            )
        )
    return out


ROUNDTRIP_SCHEMA = "n_lines long, n_roundtrip long"


def roundtrip_check(triples: DataFrame) -> DataFrame:
    """Writer→parser round-trip certification, fused to ONE Python
    crossing: per triple row, serialize the statement to a single
    N-Triples line, reparse it, and count it round-tripped iff the
    parse is clean, yields exactly one statement, and re-serializing
    that statement reproduces the line byte-for-byte (the serd
    writer/parser fixpoint — ref: serd test suite round-trip checks,
    SURVEY.md §2A op 11).

    Identical invariant to the previous nt_lines → reparse chain, but
    one mapInPandas instead of an ArrowEvalPython (3 pandas_udfs) +
    mapInPandas pair in the same stage: measured ~0.4 s off
    kg_roundtrip at sf0.1 (CLAUDE.md: one Python crossing).
    Returns per-batch partial counts — sum n_lines / n_roundtrip
    downstream.
    """
    from collections.abc import Iterator

    from serd_spark.rdf.ntriples import parse_ntriples, write_ntriples

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ok = 0
            for stmt in _statements(pdf, graphs=False):
                line = write_ntriples([stmt], relabel=False).strip()
                stmts, errs = parse_ntriples(line)
                if (
                    not errs
                    and len(stmts) == 1
                    and write_ntriples(stmts, relabel=False).strip() == line
                ):
                    ok += 1
            yield pd.DataFrame({"n_lines": [n], "n_roundtrip": [ok]})

    cols = triples.select("s", "s_kind", "p", "o", "o_kind", "o_dt", "o_lang")
    return cols.mapInPandas(run, schema=ROUNDTRIP_SCHEMA)


_STMT_COLS = ("s", "s_kind", "p", "o", "o_kind", "o_dt", "o_lang")


def _per_document(
    triples: DataFrame, graphs: bool, render, schema: str
) -> DataFrame:
    """The one per-document writer: groupBy(url) → sort by stmt_ord →
    ``render(statements)`` → one (url, text, n_statements) row per
    url, through ``applyInArrow`` (no pandas). ``graphs`` keeps each
    row's ``g`` as the statement's graph."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    out_schema = to_arrow_schema(_parse_datatype_string(schema))
    names = _STMT_COLS + ("g",) if graphs else _STMT_COLS

    def to_doc(tbl: pa.Table) -> pa.Table:
        tbl = tbl.sort_by("stmt_ord")
        stmts = _statements(
            {c: tbl.column(c).to_pylist() for c in names}, graphs
        )
        cols = ([tbl.column("url")[0].as_py()], [render(stmts)], [len(stmts)])
        return pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, out_schema)],
            schema=out_schema,
        )

    return triples.groupBy("url").applyInArrow(to_doc, schema=schema)


DOC_SCHEMA = "url string, nt string, n_statements int"


def serialize_documents(triples: DataFrame, quads: bool = False) -> DataFrame:
    """→ DataFrame(url, nt, n_statements): one canonical NT/NQ
    document per url, statements in original document order, blanks
    relabeled b1,b2,… (byte-exact golden form)."""
    render = write_nquads if quads else write_ntriples
    return _per_document(triples, quads, render, DOC_SCHEMA)


TURTLE_DOC_SCHEMA = "url string, turtle string, n_statements int"


def serialize_turtle_documents(
    triples: DataFrame,
    prefixes: dict[str, str] | None = None,
    trig: bool = False,
) -> DataFrame:
    """→ DataFrame(url, turtle, n_statements): one abbreviated
    Turtle (or TriG) document per url — the Spark expression of the
    reference's pretty writer (ref: src/writer.c SERD_STYLE_ABBREV;
    SURVEY.md §2A op-12). One shuffle (groupBy url); the abbreviation
    itself is document-local Python over each group."""
    from serd_spark.rdf.env import Env
    from serd_spark.rdf.turtle_writer import write_trig, write_turtle

    def render(stmts: list[Statement]) -> str:
        env = Env()
        if prefixes:
            env.prefixes = dict(prefixes)
        return write_trig(stmts, env) if trig else write_turtle(stmts, env)

    return _per_document(triples, trig, render, TURTLE_DOC_SCHEMA)


SKOLEM_BASE = "https://serd-spark.invalid/.well-known/genid/"


def skolemize(triples: DataFrame, base: str = SKOLEM_BASE) -> DataFrame:
    """Replace every blank node with a Skolem IRI (RDF 1.1 §3.5
    well-known genid scheme): ``base + label``. Extraction labels are
    already globally unique and a pure function of (url, island,
    ordinal) — see extract.py::_blank — so skolemization is one
    row-local SELECT: no joins, no shuffle, retry/layout-invariant,
    and reversible by prefix-stripping. After this the graph has no
    blank nodes, which makes cross-system exchange and SPARQL-over-
    federation safe (blank labels are file-scoped in RDF; Skolem
    IRIs are global)."""
    def sk(term: str, kind: str):
        return (
            F.when(
                F.col(kind) == 2, F.concat(F.lit(base), F.col(term))
            ).otherwise(F.col(term)),
            F.when(F.col(kind) == 2, F.lit(0).cast("tinyint")).otherwise(
                F.col(kind)
            ),
        )

    s, s_kind = sk("s", "s_kind")
    o, o_kind = sk("o", "o_kind")
    out = triples
    for name, col in (("s", s), ("s_kind", s_kind),
                      ("o", o), ("o_kind", o_kind)):
        out = out.withColumn(name, col)
    return out


C14N_SCHEMA = "url string, run string, line string"


def c14n_lines(pages: DataFrame) -> DataFrame:
    """RDFC-1.0 canonicalization per document, emitted as a
    perturb-and-restore certificate (rdf/c14n.py).

    For each page: extract its embedded RDF, canonicalize twice —
    run 'o' on the statements as parsed, run 'p' on a deliberately
    perturbed isomorphic copy (every blank label renamed to
    md5(url + label), statement order reversed) — and emit one row
    per canonical N-Quads line per run. RDFC-1.0's defining property
    is that both runs produce byte-identical line sets; the oracle
    re-derives the per-document hashes and the equality verdict from
    the materialized lines independently.

    Shape: extraction + both canonicalizations fused into ONE
    mapInPandas crossing, no shuffle — blank-node scope is the
    document, so per-document c14n is embarrassingly parallel and
    this is exactly the 100 TB plan. A document that trips the
    adversarial work bounds (C14nLimitError) emits a single run 'e'
    marker row instead of pinning an executor.
    """
    from collections.abc import Iterator

    from serd_spark.operators.extract import _jsonld_loader
    from serd_spark.rdf.c14n import C14nLimitError, canonical_nquads
    from serd_spark.rdf.html_islands import extract_document
    from serd_spark.rdf.model import Statement, blank

    def _relabel(stmts: list[Statement], url: str) -> list[Statement]:
        import hashlib

        def m(t):
            if t is None or t.kind != BLANK:
                return t
            return blank(
                hashlib.md5((url + t.value).encode()).hexdigest()
            )

        return [
            Statement(m(s.subject), s.predicate, m(s.object), m(s.graph))
            for s in stmts
        ][::-1]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        loader = _jsonld_loader()
        for pdf in batches:
            urls: list[str] = []
            runs: list[str] = []
            lines: list[str] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                text = (
                    html.decode("utf-8", errors="replace")
                    if isinstance(html, (bytes, bytearray))
                    else str(html)
                )
                triples, _errs = extract_document(
                    text, url, lax=True, jsonld_context_loader=loader
                )
                stmts = [st for _, _, st in triples]
                if not stmts:
                    continue
                try:
                    for tag, batch in (
                        ("o", canonical_nquads(stmts)),
                        ("p", canonical_nquads(_relabel(stmts, url))),
                    ):
                        for line in batch:
                            urls.append(url)
                            runs.append(tag)
                            lines.append(line)
                except C14nLimitError as e:
                    urls.append(url)
                    runs.append("e")
                    lines.append(str(e))
            yield pd.DataFrame({"url": urls, "run": runs, "line": lines})

    return pages.select("url", "html").mapInPandas(run, schema=C14N_SCHEMA)


RDFXML_CERT_SCHEMA = (
    "doc_id long, n_triples long, n_blanks long, rt_ok int, nt_md5 string"
)


def _synth_rdfxml(i: int, n: int) -> str:
    """One deterministic RDF/XML document — every parsed triple is a
    closed-form function of (i, n), so the DuckDB oracle regenerates
    the expected canonical N-Triples lines without an XML parser.
    Exercises: typed nodes, xml:lang, rdf:datatype, rdf:resource,
    rdf:li containers, and property-attribute blank nodes."""
    subj = f"http://ex.org/item/{i}"
    tag = "s:Thing" if i % 2 == 0 else "rdf:Description"
    lis = "".join(
        f"<rdf:li>v{j}</rdf:li>" for j in range(1, 2 + i % 3)
    )
    addr = (
        f'<s:address s:postalCode="{10000 + i}"/>' if i % 4 == 0 else ""
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:s="http://schema.org/">'
        f'<{tag} rdf:about="{subj}">'
        f'<s:name xml:lang="en">Item {i}</s:name>'
        '<s:age rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">'
        f"{i}</s:age>"
        f'<s:knows rdf:resource="http://ex.org/item/{(i * 7) % n}"/>'
        f"{lis}{addr}</{tag}></rdf:RDF>"
    )


def rdfxml_certificate(spark, n: int) -> DataFrame:
    """RDF/XML closed-loop certificate (rdf/rdfxml.py): synthesize n
    formula-derived documents, parse each with the strict RDF/XML
    parser, and per document emit the triple count, distinct-blank
    count, the md5 over the sorted canonical N-Triples lines, and a
    write_rdfxml→reparse round-trip verdict. One mapInPandas
    crossing, embarrassingly parallel (document-scoped blanks), no
    shuffle — the same 100 TB shape as the other per-doc parsers."""
    from collections.abc import Iterator

    from serd_spark.rdf.ntriples import write_ntriples
    from serd_spark.rdf.rdfxml import parse_rdfxml, write_rdfxml

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, n_tr, n_bl, rt, md5s = [], [], [], [], []
            for i in pdf["id"]:
                i = int(i)
                stmts, errs = parse_rdfxml(_synth_rdfxml(i, n))
                assert not errs
                lines = sorted(write_ntriples(stmts).splitlines())
                blanks = {
                    t.value
                    for st in stmts
                    for t in (st.subject, st.object)
                    if t.kind == BLANK
                }
                back, _ = parse_rdfxml(write_rdfxml(stmts))
                ok = sorted(write_ntriples(back).splitlines()) == lines
                import hashlib

                ids.append(i)
                n_tr.append(len(stmts))
                n_bl.append(len(blanks))
                rt.append(1 if ok else 0)
                md5s.append(
                    hashlib.md5("\n".join(lines).encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_triples": n_tr,
                    "n_blanks": n_bl,
                    "rt_ok": rt,
                    "nt_md5": md5s,
                }
            )

    return spark.range(0, n, 1, 16).mapInPandas(
        run, schema=RDFXML_CERT_SCHEMA
    )
