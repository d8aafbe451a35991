"""Abbreviating Turtle/TriG writer (serd op-12 equivalent)."""

import pytest

from serd_spark.rdf.env import Env
from serd_spark.rdf.model import (
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD_BOOLEAN,
    XSD_INTEGER,
    Statement,
    blank,
    iri,
    literal,
)
from serd_spark.rdf.turtle import parse_trig, parse_turtle
from serd_spark.rdf.turtle_writer import write_trig, write_turtle


def _env():
    e = Env()
    e.prefixes["s"] = "http://schema.org/"
    return e


def _roundtrip_set(stmts, text, trig=False):
    """Reparse and compare as sets with blanks canonicalized by
    first-appearance order (writer output is deterministic)."""
    parsed = (parse_trig if trig else parse_turtle)(text, "")
    if isinstance(parsed, tuple):
        parsed = parsed[0]

    def canon(sts):
        m = {}

        def lab(t):
            if t is None:
                return None
            if t.kind == 2:
                if t.value not in m:
                    m[t.value] = f"c{len(m)}"
                return ("b", m[t.value])
            return (t.kind, t.value, t.datatype, t.lang)

        return sorted(
            str((lab(s.subject), lab(s.predicate), lab(s.object), lab(s.graph)))
            for s in sts
        )

    return canon(stmts), canon(parsed)


def test_grouping_and_a_and_curie():
    s = iri("http://ex.org/thing")
    stmts = [
        Statement(s, iri(RDF_TYPE), iri("http://schema.org/Thing")),
        Statement(s, iri("http://schema.org/name"), literal("X")),
        Statement(s, iri("http://schema.org/name"), literal("Y")),
    ]
    out = write_turtle(stmts, _env())
    assert "a s:Thing" in out
    assert ";" in out and '"X", "Y"' in out
    assert out.count("<http://ex.org/thing>") == 1
    a, b = _roundtrip_set(stmts, out)
    assert a == b


def test_numeric_boolean_sugar():
    s = iri("http://e/1")
    stmts = [
        Statement(s, iri("http://p/n"), literal("42", XSD_INTEGER)),
        Statement(s, iri("http://p/b"), literal("true", XSD_BOOLEAN)),
        # invalid lexical form for integer must stay quoted+typed
        Statement(s, iri("http://p/bad"), literal("4 2", XSD_INTEGER)),
    ]
    out = write_turtle(stmts)
    assert " 42" in out and " true" in out
    assert '"4 2"^^' in out
    a, b = _roundtrip_set(stmts, out)
    assert a == b


def test_inline_anon_blank():
    s = iri("http://e/1")
    stmts = [
        Statement(s, iri("http://p/review"), blank("r1")),
        Statement(blank("r1"), iri("http://p/author"), literal("u")),
    ]
    out = write_turtle(stmts)
    assert "[ " in out and "]" in out
    assert "_:r1" not in out
    a, b = _roundtrip_set(stmts, out)
    assert a == b


def test_shared_blank_not_inlined():
    s = iri("http://e/1")
    stmts = [
        Statement(s, iri("http://p/x"), blank("sh")),
        Statement(iri("http://e/2"), iri("http://p/x"), blank("sh")),
        Statement(blank("sh"), iri("http://p/name"), literal("n")),
    ]
    out = write_turtle(stmts)
    assert "_:sh" in out
    a, b = _roundtrip_set(stmts, out)
    assert a == b


def test_collection():
    s = iri("http://e/1")
    stmts = [
        Statement(s, iri("http://p/list"), blank("l1")),
        Statement(blank("l1"), iri(RDF_FIRST), literal("1", XSD_INTEGER)),
        Statement(blank("l1"), iri(RDF_REST), blank("l2")),
        Statement(blank("l2"), iri(RDF_FIRST), literal("2", XSD_INTEGER)),
        Statement(blank("l2"), iri(RDF_REST), iri(RDF_NIL)),
    ]
    out = write_turtle(stmts)
    assert "( 1 2 )" in out
    a, b = _roundtrip_set(stmts, out)
    assert a == b


def test_long_string():
    s = iri("http://e/1")
    stmts = [Statement(s, iri("http://p/t"), literal("line1\nline2"))]
    out = write_turtle(stmts)
    assert '"""' in out
    a, b = _roundtrip_set(stmts, out)
    assert a == b


def test_trig_graph_blocks():
    g = iri("http://e/g1")
    stmts = [
        Statement(iri("http://e/1"), iri("http://p/x"), literal("a"), g),
        Statement(iri("http://e/2"), iri("http://p/x"), literal("b")),
    ]
    out = write_trig(stmts, _env())
    assert "{" in out and "}" in out
    a, b = _roundtrip_set(stmts, out, trig=True)
    assert a == b


def test_spark_serialize_turtle(spark):
    from serd_spark.operators.extract import extract_triples, triples_only
    from serd_spark.operators.serialize import serialize_turtle_documents
    from serd_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, 50, seed=42)
    triples = triples_only(extract_triples(pages))
    docs = serialize_turtle_documents(
        triples, prefixes={"s": "http://schema.org/"}
    )
    rows = docs.collect()
    assert len(rows) > 0
    total = sum(r.n_statements for r in rows)
    assert total == triples.count()
    # every document must reparse to the same number of statements
    for r in rows:
        stmts, errs = parse_turtle(r.turtle, "")
        assert not errs
        assert len(stmts) == r.n_statements


def test_spark_per_document_graphs(spark):
    """A named graph and a blank-node graph label survive both
    per-document writers (N-Quads and TriG) and reparse to the input."""
    from serd_spark.operators.serialize import (
        serialize_documents,
        serialize_turtle_documents,
    )
    from serd_spark.rdf.ntriples import parse_nquads

    rows = [
        ("http://d/1", 0, "http://e/g1", "http://e/1", 0, "http://p/n",
         "x", 1, None, "en"),
        ("http://d/1", 1, "_:b1", "http://e/2", 0, "http://p/v",
         "5", 1, XSD_INTEGER, None),
        ("http://d/1", 2, "", "http://e/3", 0, "http://p/l",
         "http://e/1", 0, None, None),
    ]
    triples = spark.createDataFrame(
        rows,
        "url string, stmt_ord int, g string, s string, s_kind tinyint, "
        "p string, o string, o_kind tinyint, o_dt string, o_lang string",
    )
    want = {
        Statement(iri("http://e/1"), iri("http://p/n"),
                  literal("x", lang="en"), iri("http://e/g1")),
        Statement(iri("http://e/2"), iri("http://p/v"),
                  literal("5", XSD_INTEGER), blank("b1")),
        Statement(iri("http://e/3"), iri("http://p/l"), iri("http://e/1")),
    }
    [nq] = serialize_documents(triples, quads=True).collect()
    [trig] = serialize_turtle_documents(triples, trig=True).collect()
    assert nq.n_statements == trig.n_statements == 3
    got_nq, errs = parse_nquads(nq.nt)
    assert not errs and set(got_nq) == want
    got_trig, errs = parse_trig(trig.turtle, "")
    assert not errs and set(got_trig) == want


def test_trig_multiline_literal_not_corrupted():
    """Review finding: line-level post-processing used to delete
    '@prefix'-looking lines inside long strings and re-indent literal
    content in graph blocks."""
    g = iri("http://e/g1")
    tricky = "line1\n@prefix trap\nline3"
    stmts = [Statement(iri("http://e/1"), iri("http://p/x"), literal(tricky), g)]
    out = write_trig(stmts, _env())
    parsed, errs = parse_trig(out, "")
    assert not errs
    assert parsed[0].object.value == tricky


def test_long_string_quote_runs():
    """Review finding: 4+ consecutive quotes terminated the long
    string early."""
    for v in ['a""""b\nc', '"\nx"', 'a"""b\n', '""""\n""""']:
        stmts = [Statement(iri("http://e/1"), iri("http://p/t"), literal(v))]
        out = write_turtle(stmts)
        parsed, errs = parse_turtle(out, "")
        assert not errs, (v, out)
        assert parsed[0].object.value == v, (v, out)


def test_unsafe_anon_labels_relabeled():
    """Review finding: parser-generated '_:a=1' labels are not valid
    BLANK_NODE_LABELs; a lone '[ ... ] .' subject must still write
    valid Turtle."""
    stmts, errs = parse_turtle("[ <http://e/p> <http://e/o> ] .", "")
    assert not errs
    out = write_turtle(stmts)
    parsed, errs2 = parse_turtle(out, "")
    assert not errs2
    assert len(parsed) == 1 and parsed[0].subject.kind == 2
