"""Turtle/TriG grammar conformance — SURVEY.md §5.2 layers 1-2.

Case taxonomy mirrors the reference's good-*/bad-* golden suites
(ref: test/ layout; BASELINE.json:metric) authored from the W3C RDF
1.1 Turtle/TriG grammars (the real suites drop in unchanged when
available — FIXTURES.md §2).
"""

import pytest

from serd_spark.rdf.model import (
    BLANK,
    IRI,
    LITERAL,
    RDF_NIL,
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    ParseError,
)
from serd_spark.rdf.ntriples import write_ntriples, write_nquads
from serd_spark.rdf.turtle import parse_trig, parse_turtle


def nt(doc: str, base: str = "") -> str:
    stmts, errs = parse_turtle(doc, base)
    assert errs == []
    return write_ntriples(stmts)


# --- good cases: (name, turtle, expected NT lines) -----------------------

GOOD = [
    (
        "simple-triple",
        "<http://s> <http://p> <http://o> .",
        ["<http://s> <http://p> <http://o> ."],
    ),
    (
        "prefixed-names",
        "@prefix ex: <http://ex/> . ex:s ex:p ex:o .",
        ["<http://ex/s> <http://ex/p> <http://ex/o> ."],
    ),
    (
        "default-prefix",
        "@prefix : <http://d/> . :s :p :o .",
        ["<http://d/s> <http://d/p> <http://d/o> ."],
    ),
    (
        "sparql-style-directives",
        "PREFIX ex: <http://ex/>\nBASE <http://b/>\nex:s ex:p <rel> .",
        ["<http://ex/s> <http://ex/p> <http://b/rel> ."],
    ),
    (
        "base-resolution-chain",
        "@base <http://h/a/> . @base <sub/> . <x> <p> <../up> .",
        ["<http://h/a/sub/x> <http://h/a/sub/p> <http://h/a/up> ."],
    ),
    (
        "a-keyword",
        "@prefix e: <http://e/> . e:s a e:T .",
        [
            "<http://e/s> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
            " <http://e/T> ."
        ],
    ),
    (
        "semicolon-comma",
        "@prefix e: <http://e/> . e:s e:p e:o1 , e:o2 ; e:q e:o3 .",
        [
            "<http://e/s> <http://e/p> <http://e/o1> .",
            "<http://e/s> <http://e/p> <http://e/o2> .",
            "<http://e/s> <http://e/q> <http://e/o3> .",
        ],
    ),
    (
        "trailing-semicolon",
        "@prefix e: <http://e/> . e:s e:p e:o ; .",
        ["<http://e/s> <http://e/p> <http://e/o> ."],
    ),
    (
        "integer-literal",
        "<http://s> <http://p> -42 .",
        [
            '<http://s> <http://p> "-42"'
            "^^<http://www.w3.org/2001/XMLSchema#integer> ."
        ],
    ),
    (
        "decimal-literal",
        "<http://s> <http://p> +3.14 .",
        [
            '<http://s> <http://p> "+3.14"'
            "^^<http://www.w3.org/2001/XMLSchema#decimal> ."
        ],
    ),
    (
        "double-literal",
        "<http://s> <http://p> 4.2E9 .",
        [
            '<http://s> <http://p> "4.2E9"'
            "^^<http://www.w3.org/2001/XMLSchema#double> ."
        ],
    ),
    (
        "bare-decimal",
        "<http://s> <http://p> .5 .",
        [
            '<http://s> <http://p> ".5"'
            "^^<http://www.w3.org/2001/XMLSchema#decimal> ."
        ],
    ),
    (
        "integer-then-dot",
        "<http://s> <http://p> 1. <http://s> <http://p> 2 .",
        [
            '<http://s> <http://p> "1"'
            "^^<http://www.w3.org/2001/XMLSchema#integer> .",
            '<http://s> <http://p> "2"'
            "^^<http://www.w3.org/2001/XMLSchema#integer> .",
        ],
    ),
    (
        "booleans",
        "<http://s> <http://p> true , false .",
        [
            '<http://s> <http://p> "true"'
            "^^<http://www.w3.org/2001/XMLSchema#boolean> .",
            '<http://s> <http://p> "false"'
            "^^<http://www.w3.org/2001/XMLSchema#boolean> .",
        ],
    ),
    (
        "lang-literal",
        '<http://s> <http://p> "chat"@fr-BE .',
        ['<http://s> <http://p> "chat"@fr-BE .'],
    ),
    (
        "typed-literal-prefixed-dt",
        "@prefix x: <http://www.w3.org/2001/XMLSchema#> ."
        ' <http://s> <http://p> "5"^^x:byte .',
        ['<http://s> <http://p> "5"^^<http://www.w3.org/2001/XMLSchema#byte> .'],
    ),
    (
        "string-escapes",
        '<http://s> <http://p> "a\\tb\\nc\\"d\\\\e" .',
        ['<http://s> <http://p> "a\\tb\\nc\\"d\\\\e" .'],
    ),
    (
        "uchar-escapes",
        '<http://s> <http://p> "\\u00e9\\U0001F600" .',
        ['<http://s> <http://p> "\u00e9\U0001F600" .'],
    ),
    (
        "single-quoted",
        "<http://s> <http://p> 'sq' .",
        ['<http://s> <http://p> "sq" .'],
    ),
    (
        "long-string-newline",
        '<http://s> <http://p> """line1\nline2 "quoted" end""" .',
        ['<http://s> <http://p> "line1\\nline2 \\"quoted\\" end" .'],
    ),
    (
        "long-single-quoted",
        "<http://s> <http://p> '''it's ok''' .",
        ['<http://s> <http://p> "it\'s ok" .'],
    ),
    (
        "blank-label",
        "_:x <http://p> _:y .",
        ["_:b1 <http://p> _:b2 ."],
    ),
    (
        "anon-object",
        "@prefix e: <http://e/> . e:s e:p [ e:q e:o ] .",
        [
            "<http://e/s> <http://e/p> _:b1 .",
            "_:b1 <http://e/q> <http://e/o> .",
        ],
    ),
    (
        "anon-subject",
        "@prefix e: <http://e/> . [ e:q e:o ] e:p e:s2 .",
        [
            "_:b1 <http://e/q> <http://e/o> .",
            "_:b1 <http://e/p> <http://e/s2> .",
        ],
    ),
    (
        "lone-anon-subject",
        "@prefix e: <http://e/> . [ e:q e:o ] .",
        ["_:b1 <http://e/q> <http://e/o> ."],
    ),
    (
        "empty-anon-subject-object",
        "@prefix e: <http://e/> . [] e:p [] .",
        ["_:b1 <http://e/p> _:b2 ."],
    ),
    (
        "nested-anon",
        "@prefix e: <http://e/> . e:s e:p [ e:q [ e:r e:o ] ] .",
        [
            "<http://e/s> <http://e/p> _:b1 .",
            "_:b1 <http://e/q> _:b2 .",
            "_:b2 <http://e/r> <http://e/o> .",
        ],
    ),
    (
        "empty-collection",
        "@prefix e: <http://e/> . e:s e:p () .",
        [
            "<http://e/s> <http://e/p>"
            " <http://www.w3.org/1999/02/22-rdf-syntax-ns#nil> ."
        ],
    ),
    (
        "pn-local-dots-and-colons",
        "@prefix e: <http://e/> . e:a.b:c e:p e:o .",
        ["<http://e/a.b:c> <http://e/p> <http://e/o> ."],
    ),
    (
        "pn-local-escapes",
        "@prefix e: <http://e/> . e:s e:p e:o\\,x .",
        ["<http://e/s> <http://e/p> <http://e/o,x> ."],
    ),
    (
        "pn-local-percent",
        "@prefix e: <http://e/> . e:s e:p e:o%2Fx .",
        ["<http://e/s> <http://e/p> <http://e/o%2Fx> ."],
    ),
    (
        "unicode-pname",
        "@prefix é: <http://u/> . é:ñ é:p é:ü .",
        ["<http://u/ñ> <http://u/p> <http://u/ü> ."],
    ),
    (
        "iri-uchar",
        "<http://s/\\u00e9> <http://p> <http://o> .",
        ["<http://s/é> <http://p> <http://o> ."],
    ),
    (
        "comments",
        "# leading\n<http://s> <http://p> <http://o> . # trailing\n#end",
        ["<http://s> <http://p> <http://o> ."],
    ),
    (
        "prefix-redefinition",
        "@prefix e: <http://one/> . e:s e:p e:o .\n"
        "@prefix e: <http://two/> . e:s e:p e:o .",
        [
            "<http://one/s> <http://one/p> <http://one/o> .",
            "<http://two/s> <http://two/p> <http://two/o> .",
        ],
    ),
]


@pytest.mark.parametrize("name,doc,expected", GOOD, ids=[g[0] for g in GOOD])
def test_good(name, doc, expected):
    assert nt(doc).splitlines() == expected


def test_collection_chain_structure():
    stmts, _ = parse_turtle("@prefix e: <http://e/> . e:s e:p (1 2) .")
    rows = [s.as_row() for s in stmts]
    # parent triple first (streaming emission order)
    assert rows[0][1].endswith("/s") and rows[0][5] == BLANK
    kinds = [r[5] for r in rows]
    assert kinds == [BLANK, LITERAL, BLANK, LITERAL, IRI]
    assert rows[-1][4] == RDF_NIL


def test_statement_order_anon_object():
    """Parent triple emitted before inner triples — reference
    streaming order (ref: src/n3.c#read_anon)."""
    stmts, _ = parse_turtle("@prefix e: <http://e/> . e:s e:p [ e:q e:o ] .")
    assert stmts[0].subject.value == "http://e/s"
    assert stmts[1].subject.kind == BLANK


def test_relative_iri_resolution_with_base_arg():
    out = nt("<x> <p> <../y> .", base="http://h/a/b/")
    assert out == "<http://h/a/b/x> <http://h/a/b/p> <http://h/a/y> .\n"


def test_no_base_leaves_relative():
    stmts, _ = parse_turtle("<x> <p> <y> .")
    assert stmts[0].subject.value == "x"


# --- TriG ----------------------------------------------------------------

def test_trig_graphs():
    doc = """@prefix e: <http://e/> .
e:g1 { e:s e:p e:o . e:s2 e:p e:o2 }
GRAPH e:g2 { e:s e:p e:o }
{ e:d e:p e:o }
e:top e:p e:o .
_:gb { e:s e:p e:o . }
"""
    stmts, errs = parse_trig(doc)
    assert errs == []
    graphs = [s.graph.value if s.graph else None for s in stmts]
    assert graphs[:5] == [
        "http://e/g1",
        "http://e/g1",
        "http://e/g2",
        None,
        None,
    ]
    assert stmts[5].graph.kind == BLANK
    out = write_nquads(stmts)
    assert "<http://e/g1>" in out


def test_trig_anon_subject_block():
    stmts, errs = parse_trig(
        "@prefix e: <http://e/> . e:g { [ e:p e:o ] e:q e:r }"
    )
    assert errs == []
    assert len(stmts) == 2


def test_turtle_rejects_graph_block():
    with pytest.raises(ParseError):
        parse_turtle("@prefix e: <http://e/> . e:g { e:s e:p e:o . }")


# --- bad cases (strict must reject; ≙ SERD_ERR_BAD_SYNTAX) -----------------

BAD = [
    ("missing-dot", "<http://s> <http://p> <http://o>"),
    ("literal-subject", '"lit" <http://p> <http://o> .'),
    ("blank-predicate", "<http://s> _:b <http://o> ."),
    ("undefined-prefix", "ex:s <http://p> <http://o> ."),
    ("bad-iri-space", "<http://s pace> <http://p> <http://o> ."),
    ("bad-iri-newline", "<http://s\n> <http://p> <http://o> ."),
    ("unterminated-iri", "<http://s <http://p> <http://o> ."),
    ("unterminated-string", '<http://s> <http://p> "abc .'),
    ("unterminated-long-string", '<http://s> <http://p> """abc .'),
    ("bad-escape", '<http://s> <http://p> "a\\qb" .'),
    ("bad-uchar", '<http://s> <http://p> "\\uZZZZ" .'),
    ("bad-lang", '<http://s> <http://p> "x"@9fr .'),
    ("double-caret-no-dt", '<http://s> <http://p> "x"^^ .'),
    ("bare-word-object", "<http://s> <http://p> banana ."),
    ("missing-object", "<http://s> <http://p> ."),
    ("prefix-no-dot", "@prefix e: <http://e/>"),
    ("prefix-missing-colon", "@prefix e <http://e/> ."),
    ("base-no-iri", "@base ."),
    ("unclosed-anon", "@prefix e: <http://e/> . e:s e:p [ e:q e:o ."),
    ("unclosed-collection", "@prefix e: <http://e/> . e:s e:p (1 2 ."),
    ("lone-empty-anon", "[] ."),
    ("numeric-bad", "<http://s> <http://p> 1.2.3 4 ."),
    ("pn-local-trailing-backslash", "@prefix e: <http://e/> . e:s e:p e:\\ ."),
]


@pytest.mark.parametrize("name,doc", BAD, ids=[b[0] for b in BAD])
def test_bad(name, doc):
    with pytest.raises(ParseError):
        parse_turtle(doc)


def test_error_position():
    try:
        parse_turtle("<http://s> <http://p>\n   banana .")
    except ParseError as e:
        assert e.line == 2
        assert e.col == 4
    else:  # pragma: no cover
        raise AssertionError("expected ParseError")


# --- lax mode (≙ serdi -l: skip bad statement, resync) ---------------------

def test_lax_skips_and_continues():
    doc = (
        "@prefix e: <http://e/> .\n"
        "e:a e:b BAD TOKEN .\n"
        "e:c e:d e:e .\n"
        'e:f e:g "unterminated .\n'
        "e:h e:i e:j .\n"
    )
    stmts, errs = parse_turtle(doc, lax=True)
    got = {(s.subject.value, s.object.value) for s in stmts}
    assert ("http://e/c", "http://e/e") in got
    assert ("http://e/h", "http://e/j") in got
    assert len(errs) == 2


def test_lax_resync_ignores_dot_in_string():
    doc = '<http://s> <http://p> "a . b" BAD .\n<http://x> <http://y> <http://z> .\n'
    stmts, errs = parse_turtle(doc, lax=True)
    assert len(errs) == 1
    assert any(s.subject.value == "http://x" for s in stmts)


def test_lax_stray_dot_keeps_next_statement():
    """A stray '.' is its own bad statement's terminator: resync must
    not skip past it to the NEXT statement's '.'."""
    doc = '<http://s> <http://p> "v1" .\n.\n<http://s> <http://p> "v2" .\n'
    stmts, errs = parse_turtle(doc, lax=True)
    assert [s.object.value for s in stmts] == ["v1", "v2"]
    assert len(errs) == 1


@pytest.mark.parametrize(
    "doc",
    [
        '<http://g> { <http://s> <http://p> BAD . }\n<http://s> <http://p> "ok" .\n',
        '<http://g> { <http://s> <http://p> BAD }\n<http://s> <http://p> "ok" .\n',
        'GRAPH <http://g> { <http://s> <http://p> BAD . }\n<http://s> <http://p> "ok" .\n',
    ],
)
def test_trig_lax_resync_inside_graph_block(doc):
    """A bad statement inside a graph block resyncs to the block's
    closing '}': the '}' is no statement start, so there is no second
    error and the statement after the block survives."""
    stmts, errs = parse_trig(doc, lax=True)
    assert [(s.object.value, s.graph) for s in stmts] == [("ok", None)]
    assert len(errs) == 1 and errs[0][2] == "expected prefixed name"


@pytest.mark.parametrize(
    "parse, doc",
    [
        (parse_turtle, '<http://s> <http://p> "x\\uD800y" .\n<http://s> <http://p> "ok" .\n'),
        (parse_turtle, '<http://s> <http://p> "x\\U0000DFFFy" .\n<http://s> <http://p> "ok" .\n'),
        (parse_trig, '<http://s> <http://p> "x\\ud800y" .\n<http://g> { <http://s> <http://p> "ok" }\n'),
    ],
)
def test_lone_surrogate_escape_rejected(parse, doc):
    """A lone surrogate is no code point: decoding it would hand the
    Arrow boundary a str it cannot encode and fail the whole task."""
    stmts, errs = parse(doc, lax=True)
    assert [s.object.value for s in stmts] == ["ok"]
    assert len(errs) == 1 and "codepoint U+D" in errs[0][2]
    with pytest.raises(ParseError):
        parse(doc)
