"""N-Triples/N-Quads parse + deterministic writer round-trip —
golden behavior of the reference's flat writer (ref:
src/writer.c#serd_writer_write_statement / #write_text)."""

import pytest

from serd_spark.rdf.model import BLANK, IRI, LITERAL, ParseError, Statement, Term
from serd_spark.rdf.ntriples import (
    canonical_blank_relabel,
    parse_nquads,
    parse_ntriples,
    write_nquads,
    write_ntriples,
)


def test_basic_parse():
    doc = (
        "<http://s> <http://p> <http://o> .\n"
        "# comment\n"
        "\n"
        '_:a <http://p> "lit" .\n'
        '<http://s> <http://p> "t"^^<http://dt> .\n'
        '<http://s> <http://p> "t"@en-US .\n'
    )
    stmts, errs = parse_ntriples(doc)
    assert errs == []
    assert len(stmts) == 4
    assert stmts[1].subject.kind == BLANK
    assert stmts[2].object.datatype == "http://dt"
    assert stmts[3].object.lang == "en-US"


def test_nquads_graph_term():
    doc = "<http://s> <http://p> <http://o> <http://g> .\n" \
          "<http://s> <http://p> <http://o> .\n"
    stmts, errs = parse_nquads(doc)
    assert errs == []
    assert stmts[0].graph.value == "http://g"
    assert stmts[1].graph is None


def test_escape_round_trip():
    value = 'tab\t nl\n cr\r quote" backslash\\ bell\x07 unicode é😀'
    st = Statement(
        Term(IRI, "http://s"), Term(IRI, "http://p"), Term(LITERAL, value)
    )
    out = write_ntriples([st])
    parsed, _ = parse_ntriples(out)
    assert parsed[0].object.value == value
    # fixpoint
    assert write_ntriples(parsed) == out


def test_stable_blank_numbering():
    stmts = [
        Statement(Term(BLANK, "zzz"), Term(IRI, "http://p"), Term(BLANK, "aaa")),
        Statement(Term(BLANK, "aaa"), Term(IRI, "http://p"), Term(BLANK, "mmm")),
    ]
    m = canonical_blank_relabel(stmts)
    assert m == {"zzz": "b1", "aaa": "b2", "mmm": "b3"}
    out = write_ntriples(stmts)
    assert out.splitlines() == [
        "_:b1 <http://p> _:b2 .",
        "_:b2 <http://p> _:b3 .",
    ]


def test_round_trip_fixpoint_nquads():
    doc = '_:x <http://p> "v" <http://g> .\n<http://s> <http://p> _:x .\n'
    stmts, _ = parse_nquads(doc)
    out = write_nquads(stmts)
    stmts2, _ = parse_nquads(out)
    assert write_nquads(stmts2) == out


NT_BAD = [
    "<http://s> <http://p> .",
    '"lit" <http://p> <http://o> .',
    "<http://s> _:p <http://o> .",
    "<http://s> <http://p> <http://o>",
    "<http://s> <http://p> <http://o> . extra",
    "<http://s> <http://p> <http://o> <http://g> .",  # quad in NT
    "<http://s> <http://p> 42 .",  # no numeric sugar in NT
    "<http://s> <http://p> <rel ative> .",
]


@pytest.mark.parametrize("doc", NT_BAD)
def test_nt_bad(doc):
    with pytest.raises(ParseError):
        parse_ntriples(doc)


def test_lax_collects_errors():
    doc = "<http://s> <http://p> <http://o> .\nbroken line\n_:b <http://p> _:c .\n"
    stmts, errs = parse_ntriples(doc, lax=True)
    assert len(stmts) == 2
    assert len(errs) == 1
    assert errs[0][0] == 2  # line number


@pytest.mark.parametrize("parse, g", [(parse_ntriples, ""), (parse_nquads, " <http://g>")])
def test_lone_surrogate_escape_lax_error(parse, g):
    doc = f'<http://s> <http://p> "x\\uD800y"{g} .\n<http://s> <http://p> "ok"{g} .\n'
    stmts, errs = parse(doc, lax=True)
    assert [s.object.value for s in stmts] == ["ok"]
    assert len(errs) == 1 and errs[0][0] == 1
    with pytest.raises(ParseError):
        parse(doc)


def test_iri_escaping_in_writer():
    st = Statement(
        Term(IRI, "http://s/<weird> space"),
        Term(IRI, "http://p"),
        Term(IRI, "http://o"),
    )
    out = write_ntriples([st])
    assert "\\u003C" in out and "\\u0020" in out


def test_ascii_mode_escapes_non_ascii():
    """serdi -a equivalent: non-ASCII → \\u/\\U escapes, and the
    output still parses back to identical values."""
    from serd_spark.rdf.model import Statement, iri, literal
    from serd_spark.rdf.ntriples import parse_ntriples, write_ntriples

    stmts = [
        Statement(
            iri("http://e/ünï"), iri("http://p/x"), literal("漢字 \U0001F600")
        )
    ]
    out = write_ntriples(stmts, ascii_only=True)
    assert out == out.encode("ascii").decode("ascii")
    assert "\\u00FC" in out and "\\U0001F600" in out
    parsed, errs = parse_ntriples(out)
    assert not errs
    assert parsed[0].subject.value == "http://e/ünï"
    assert parsed[0].object.value == "漢字 \U0001F600"
