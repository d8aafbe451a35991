"""Property-based tests (SURVEY.md §5.2 layer 4) — substitute for
the reference's fuzzing harness (upstream fuzzes the reader via
OSS-Fuzz; we use Hypothesis offline)."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from serd_spark.rdf import uri
from serd_spark.rdf.model import BLANK, IRI, LITERAL, Statement, Term
from serd_spark.rdf.ntriples import parse_ntriples, write_ntriples
from serd_spark.rdf.turtle import parse_turtle

# text without surrogates (not encodable) — everything else must
# survive a write→parse round trip byte-exactly
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80
)
_iri_chars = st.text(
    alphabet=string.ascii_letters + string.digits + "/._-~%",
    min_size=1,
    max_size=30,
)
_label = st.from_regex(r"[A-Za-z][A-Za-z0-9]{0,10}", fullmatch=True)
_lang = st.from_regex(r"[a-z]{2}(-[A-Za-z0-9]{1,4})?", fullmatch=True)


@st.composite
def terms(draw, allow_literal=True):
    kind = draw(
        st.sampled_from([IRI, BLANK, LITERAL] if allow_literal else [IRI, BLANK])
    )
    if kind == IRI:
        return Term(IRI, "http://h/" + draw(_iri_chars))
    if kind == BLANK:
        return Term(BLANK, draw(_label))
    which = draw(st.integers(0, 2))
    value = draw(_text)
    if which == 0:
        return Term(LITERAL, value)
    if which == 1:
        return Term(LITERAL, value, "", draw(_lang))
    return Term(LITERAL, value, "http://dt/" + draw(_iri_chars), "")


@st.composite
def statements(draw):
    return Statement(
        draw(terms(allow_literal=False)),
        Term(IRI, "http://p/" + draw(_iri_chars)),
        draw(terms()),
    )


@given(st.lists(statements(), max_size=12))
@settings(max_examples=150, deadline=None)
def test_nt_write_parse_round_trip(stmts):
    out = write_ntriples(stmts)
    parsed, errs = parse_ntriples(out)
    assert errs == []
    # fixpoint: writing the parse of the output reproduces it
    assert write_ntriples(parsed) == out
    # and values survive (blank labels are canonicalized on write —
    # compare them by kind only, everything else byte-exact)
    def shape(s):
        o = s.object
        return (
            s.subject.kind,
            s.predicate.value,
            o.kind,
            o.value if o.kind != BLANK else None,
            o.datatype,
            o.lang,
        )

    assert [shape(s) for s in stmts] == [shape(s) for s in parsed]


@given(st.lists(statements(), min_size=1, max_size=8))
@settings(max_examples=80, deadline=None)
def test_nt_output_reparses_as_turtle(stmts):
    """N-Triples is a subset of Turtle — our Turtle parser must
    accept everything our NT writer produces."""
    out = write_ntriples(stmts)
    t_stmts, errs = parse_turtle(out)
    assert errs == []
    assert len(t_stmts) == len(stmts)


_scheme = st.sampled_from(["http", "https"])
_host = st.from_regex(r"[a-z][a-z0-9.-]{0,15}", fullmatch=True)
# non-empty path segments only: urljoin collapses "//" inside paths,
# the RFC algorithm (and we) preserve them — out of the overlap set
_path = st.from_regex(r"(/[A-Za-z0-9._~-]{1,6}){0,4}", fullmatch=True)
_ref = st.from_regex(
    r"((\.\./|\./)?[A-Za-z0-9._~-]{0,8}(/[A-Za-z0-9._~-]{0,5}){0,3}"
    r"(\?[a-z0-9=&]{0,8})?(#[a-z0-9]{0,5})?)",
    fullmatch=True,
)


@given(_scheme, _host, _path, _ref)
@settings(max_examples=200, deadline=None)
def test_resolve_matches_urljoin(scheme, host, path, ref):
    if ref.endswith(("#", "?")) or "?#" in ref or "//" in ref:
        # out of the overlap set: empty trailing fragment/query (we
        # keep it per RFC 3986 — empty ≠ absent; urljoin drops it)
        # and empty path segments (urljoin collapses "//", the RFC
        # algorithm preserves them)
        return
    base = f"{scheme}://{host}{path}"
    assert uri.resolve(base, ref) == __import__("urllib.parse", fromlist=["x"]).urljoin(
        base, ref
    )


@given(st.text(max_size=60))
@settings(max_examples=100, deadline=None)
def test_normalize_idempotent(s):
    try:
        once = uri.normalize(s)
    except Exception:  # pragma: no cover
        raise AssertionError(f"normalize raised on {s!r}")
    assert uri.normalize(once) == once


@given(st.lists(statements(), min_size=1, max_size=10))
@settings(max_examples=100, deadline=None)
def test_turtle_writer_round_trip(stmts):
    """The abbreviating Turtle writer must produce valid Turtle that
    reparses to an isomorphic statement set (blank labels may be
    renamed; everything else byte-exact)."""
    from serd_spark.rdf.turtle_writer import write_turtle

    out = write_turtle(stmts)
    parsed, errs = parse_turtle(out)
    assert errs == []
    assert len(parsed) == len(stmts)

    # blank-node-isomorphism-safe comparison: iterative signature
    # refinement (hash of each blank's neighborhood, 3 rounds), then
    # multiset equality of statements with blanks -> signatures
    def canon(sts):
        import hashlib

        def h(x):
            return hashlib.blake2b(repr(x).encode(), digest_size=8).hexdigest()

        sig = {}
        for s in sts:
            for t in (s.subject, s.object):
                if t.kind == BLANK:
                    sig[t.value] = "b"
        for _ in range(3):
            new = {}
            for b in sig:
                ctx = []
                for s in sts:
                    su, o = s.subject, s.object
                    if su.kind == BLANK and su.value == b:
                        other = (
                            sig[o.value]
                            if o.kind == BLANK
                            else repr((o.kind, o.value, o.datatype, o.lang))
                        )
                        ctx.append(("out", s.predicate.value, other))
                    if o.kind == BLANK and o.value == b:
                        other = (
                            sig[su.value]
                            if su.kind == BLANK
                            else repr((su.kind, su.value))
                        )
                        ctx.append(("in", s.predicate.value, other))
                new[b] = h((sig[b], sorted(ctx)))
            sig = new

        def lab(t):
            if t.kind == BLANK:
                return ("b", sig[t.value])
            return (t.kind, t.value, t.datatype, t.lang)

        return sorted(
            str((lab(s.subject), lab(s.predicate), lab(s.object)))
            for s in sts
        )

    assert canon(stmts) == canon(parsed)


@given(st.text(max_size=300))
@settings(max_examples=300, deadline=None)
def test_lax_parse_never_crashes_on_arbitrary_text(doc):
    """Web pages are adversarial: lax-mode parsing of ARBITRARY text
    must always return (statements, errors) — never raise, never hang.
    (Strict mode may raise ParseError; nothing may raise anything
    else.)"""
    from serd_spark.rdf.ntriples import parse_ntriples
    from serd_spark.rdf.turtle import parse_trig, parse_turtle

    for fn in (parse_turtle, parse_trig):
        stmts, errs = fn(doc, "http://b/", lax=True)
        assert isinstance(stmts, list) and isinstance(errs, list)
    stmts, errs = parse_ntriples(doc, lax=True)
    assert isinstance(stmts, list) and isinstance(errs, list)


@given(st.text(alphabet='<>"\'{}[]().;,@\\#^_:%0aeIPb \n\t', max_size=200))
@settings(max_examples=300, deadline=None)
def test_lax_parse_never_crashes_on_syntax_soup(doc):
    """Denser variant: draw only from RDF syntax-significant
    characters so the fuzz actually reaches deep parser states."""
    from serd_spark.rdf.html_islands import extract_document
    from serd_spark.rdf.turtle import parse_turtle

    stmts, errs = parse_turtle(doc, "http://b/", lax=True)
    assert isinstance(stmts, list) and isinstance(errs, list)
    # and through the full per-document extraction surface
    triples, errors = extract_document(
        f'<html><script type="text/turtle">{doc}</script></html>',
        "http://page/", lax=True,
    )
    assert isinstance(triples, list) and isinstance(errors, list)


@given(st.text(alphabet=string.ascii_letters + string.digits + " ;,[]()",
               max_size=16))
@settings(max_examples=100, deadline=None)
def test_lax_parse_keeps_valid_around_garbage(garbage):
    """valid ∥ garbage ∥ valid: lax parsing skips the bad statement
    and keeps both valid neighbours — for TriG also when the garbage
    sits inside a graph block."""
    from serd_spark.rdf.ntriples import parse_nquads
    from serd_spark.rdf.turtle import parse_trig

    v1 = '<http://s> <http://p> "v1"'
    v2 = '<http://s> <http://p> "v2"'
    docs = (
        (parse_turtle, f"{v1} .\n{garbage} .\n{v2} .\n"),
        (parse_trig,
         f"{v1} .\n<http://g> {{ <http://s> <http://p> {garbage} . }}\n"
         f"{v2} .\n"),
        (parse_nquads,
         f"{v1} <http://g> .\n{garbage} .\n{v2} <http://g> .\n"),
    )
    for fn, doc in docs:
        stmts, _ = fn(doc, "http://b/", lax=True)
        assert {"v1", "v2"} <= {s.object.value for s in stmts}, (fn, doc)


@given(
    st.integers(1, 24), st.integers(1, 24), st.sampled_from([3, 4]),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_vp8l_round_trip(w, h, nch, seed):
    """Any RGB/RGBA image round-trips bit-exactly through the VP8L
    encoder/decoder (canonical prefix codes + LZ77)."""
    import numpy as np

    from serd_spark.operators.vp8l_codec import decode_vp8l, encode_vp8l

    rng = np.random.default_rng(seed)
    # mix of random pixels and runs (exercises literals AND backrefs)
    px = rng.integers(0, 256, size=(h, w, nch), dtype=np.uint8)
    if seed % 3 == 0:
        px[: h // 2 + 1] = px[0, 0]
    dec = decode_vp8l(encode_vp8l(px))
    assert dec.shape == (h, w, 4)
    assert np.array_equal(dec[..., :nch], px)
    if nch == 3:
        assert (dec[..., 3] == 255).all()
