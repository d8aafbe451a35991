"""JSON-LD and microdata extraction (SURVEY.md §7 M3)."""

import pytest

from serd_spark.rdf.jsonld import canonical_double, parse_jsonld
from serd_spark.rdf.microdata import parse_microdata
from serd_spark.rdf.model import (
    BLANK,
    IRI,
    LITERAL,
    RDF_TYPE,
    XSD_INTEGER,
    ParseError,
)


def spo(stmts):
    return {
        (s.subject.value, s.predicate.value, s.object.value) for s in stmts
    }


def test_jsonld_basic_node():
    doc = """{"@context": {"name": "http://schema.org/name"},
               "@id": "http://x/", "name": "A"}"""
    stmts, errs = parse_jsonld(doc)
    assert errs == []
    assert spo(stmts) == {("http://x/", "http://schema.org/name", "A")}


def test_jsonld_vocab_and_types():
    doc = """{"@context": {"@vocab": "http://v/"},
               "@id": "http://x/", "@type": "Thing", "p": 7}"""
    stmts, _ = parse_jsonld(doc)
    got = spo(stmts)
    assert ("http://x/", RDF_TYPE, "http://v/Thing") in got
    assert ("http://x/", "http://v/p", "7") in got
    lit = [s for s in stmts if s.object.kind == LITERAL][0]
    assert lit.object.datatype == XSD_INTEGER


def test_jsonld_nested_and_arrays():
    doc = """{"@context": {"@vocab": "http://v/", "knows": {"@type": "@id"}},
               "@id": "http://a/",
               "knows": ["http://b/", {"@id": "http://c/", "p": "x"}]}"""
    stmts, _ = parse_jsonld(doc)
    got = spo(stmts)
    assert ("http://a/", "http://v/knows", "http://b/") in got
    assert ("http://a/", "http://v/knows", "http://c/") in got
    assert ("http://c/", "http://v/p", "x") in got


def test_jsonld_list_container():
    doc = """{"@context": {"t": {"@id": "http://v/t", "@container": "@list"}},
               "@id": "http://a/", "t": [1, 2]}"""
    stmts, _ = parse_jsonld(doc)
    firsts = [s for s in stmts if s.predicate.value.endswith("#first")]
    rests = [s for s in stmts if s.predicate.value.endswith("#rest")]
    assert len(firsts) == 2 and len(rests) == 2
    assert rests[-1].object.value.endswith("#nil")


def test_jsonld_value_objects_and_language():
    doc = """{"@context": {"@vocab": "http://v/", "@language": "de"},
               "@id": "http://a/",
               "p": {"@value": "hallo"},
               "q": {"@value": "x", "@language": "en"},
               "r": {"@value": "3", "@type": "http://dt/"},
               "s": "plain"}"""
    stmts, _ = parse_jsonld(doc)
    by_p = {s.predicate.value: s.object for s in stmts}
    assert by_p["http://v/p"].lang == ""  # explicit @value without lang
    assert by_p["http://v/q"].lang == "en"
    assert by_p["http://v/r"].datatype == "http://dt/"
    assert by_p["http://v/s"].lang == "de"  # context default language


def test_jsonld_graph_and_reverse():
    doc = """{"@context": {"@vocab": "http://v/"},
              "@id": "http://g/",
              "@graph": [{"@id": "http://a/", "p": "1"}]}"""
    stmts, _ = parse_jsonld(doc)
    assert stmts[0].graph.value == "http://g/"

    doc2 = """{"@context": {"@vocab": "http://v/"},
               "@id": "http://a/",
               "@reverse": {"parent": {"@id": "http://b/"}}}"""
    stmts2, _ = parse_jsonld(doc2)
    assert spo(stmts2) == {("http://b/", "http://v/parent", "http://a/")}


def test_jsonld_relative_id_resolution():
    doc = '{"@context": {"@vocab": "http://v/"}, "@id": "item", "p": "x"}'
    stmts, _ = parse_jsonld(doc, base_iri="http://base/dir/")
    assert stmts[0].subject.value == "http://base/dir/item"


def test_jsonld_unmapped_keys_dropped():
    doc = '{"@id": "http://a/", "unmapped": "x"}'
    stmts, _ = parse_jsonld(doc)
    assert stmts == []


def test_jsonld_bad_json_lax_and_strict():
    stmts, errs = parse_jsonld("{not json", lax=True)
    assert stmts == [] and len(errs) == 1
    with pytest.raises(Exception):
        parse_jsonld("{not json", lax=False)


@pytest.mark.parametrize(
    "doc",
    [
        '{"@id": "http://a/", "http://p/": "x\\ud800y"}',
        '{"@id": "http://a/\\uDC00", "http://p/": "v"}',
    ],
)
def test_jsonld_lone_surrogate_escape_is_error(doc):
    stmts, errs = parse_jsonld(doc, lax=True)
    assert stmts == [] and "surrogate" in errs[0][2]
    with pytest.raises(ParseError):
        parse_jsonld(doc, lax=False)


def test_jsonld_surrogate_pair_escape_parses():
    stmts, errs = parse_jsonld(
        '{"@id": "http://a/", "http://p/": "\\ud83d\\ude00 \\\\ud800"}'
    )
    assert errs == [] and stmts[0].object.value == "\U0001F600 \\ud800"


def test_jsonld_remote_context_is_error():
    doc = '{"@context": "http://remote/ctx", "@id": "http://a/"}'
    stmts, errs = parse_jsonld(doc, lax=True)
    assert stmts == [] and "remote" in errs[0][2]


def test_canonical_double():
    assert canonical_double(4.5) == "4.5E0"
    assert canonical_double(-0.25) == "-2.5E-1"
    assert canonical_double(1e21) == "1.0E21"
    assert canonical_double(float("inf")) == "INF"


# --- microdata -------------------------------------------------------------


def test_microdata_item():
    html = """<div itemscope itemtype="http://schema.org/Person"
      itemid="http://p/1">
      <span itemprop="name">Ann</span>
      <a itemprop="url" href="/ann">x</a>
      <meta itemprop="height" content="170">
      <time itemprop="born" datetime="1990-01-02">Jan 2 1990</time>
    </div>"""
    stmts, errs = parse_microdata(html, "http://site/")
    assert errs == []
    got = spo(stmts)
    assert ("http://p/1", RDF_TYPE, "http://schema.org/Person") in got
    assert ("http://p/1", "http://schema.org/name", "Ann") in got
    assert ("http://p/1", "http://schema.org/url", "http://site/ann") in got
    assert ("http://p/1", "http://schema.org/height", "170") in got
    assert ("http://p/1", "http://schema.org/born", "1990-01-02") in got


def test_microdata_nested_item_and_blank():
    html = """<div itemscope itemtype="http://schema.org/Person">
      <span itemprop="name">B</span>
      <div itemprop="address" itemscope
           itemtype="http://schema.org/PostalAddress">
        <span itemprop="city">Oslo</span>
      </div>
    </div>"""
    stmts, _ = parse_microdata(html)
    subs = {s.subject.value for s in stmts}
    assert len(subs) == 2
    addr = [s for s in stmts if s.predicate.value.endswith("address")][0]
    assert addr.object.kind == BLANK
    city = [s for s in stmts if s.predicate.value.endswith("city")][0]
    assert city.subject == addr.object  # nested props don't leak out


def test_microdata_no_itemscope_fast_path():
    stmts, errs = parse_microdata("<html><body>hi</body></html>")
    assert stmts == [] and errs == []


def test_microdata_multiple_types_and_names():
    html = """<div itemscope
        itemtype="http://schema.org/Person http://schema.org/Author">
      <span itemprop="name alternateName">C</span></div>"""
    stmts, _ = parse_microdata(html)
    preds = sorted(s.predicate.value for s in stmts)
    assert preds.count(RDF_TYPE) == 2
    assert "http://schema.org/alternateName" in preds


def test_microdata_itemref_basic():
    """itemref pulls properties from elements elsewhere in the
    document — both an itemprop ON the referenced element and
    itemprops in its subtree (WHATWG crawl)."""
    html = """<html><body>
      <div itemscope itemtype="http://schema.org/Person"
           itemref="nm loc"></div>
      <span id="nm" itemprop="name">Amund</span>
      <div id="loc"><span itemprop="city">Oslo</span></div>
    </body></html>"""
    stmts, _ = parse_microdata(html, "http://site/")
    preds = {s.predicate.value for s in stmts}
    assert "http://schema.org/name" in preds
    assert "http://schema.org/city" in preds
    # all props attach to the one item subject
    subs = {s.subject.value for s in stmts}
    assert len(subs) == 1


def test_microdata_itemref_shared_and_duplicate():
    """Two items referencing the same element each get the property;
    an id listed twice on one item is applied once."""
    html = """<html><body>
      <div itemscope itemtype="http://schema.org/Person" itemref="c c"></div>
      <div itemscope itemtype="http://schema.org/Person" itemref="c"></div>
      <div id="c"><span itemprop="country">NO</span></div>
    </body></html>"""
    stmts, _ = parse_microdata(html)
    country = [s for s in stmts if s.predicate.value.endswith("country")]
    assert len(country) == 2
    assert len({s.subject.value for s in country}) == 2


def test_microdata_itemref_nested_item_via_ref():
    """A referenced subtree containing a nested itemscope+itemprop
    becomes a nested item value of the referring item."""
    html = """<html><body>
      <div itemscope itemtype="http://schema.org/Person" itemref="ad"></div>
      <div id="ad" itemprop="address" itemscope
           itemtype="http://schema.org/PostalAddress">
        <span itemprop="city">Bergen</span></div>
    </body></html>"""
    stmts, _ = parse_microdata(html)
    addr = [s for s in stmts if s.predicate.value.endswith("address")]
    assert len(addr) == 1 and addr[0].object.kind == BLANK
    city = [s for s in stmts if s.predicate.value.endswith("city")][0]
    assert city.subject == addr[0].object


def test_microdata_itemref_cycle_terminates():
    """Circular itemref chains (a microdata error per spec) must
    terminate and keep the non-looping properties."""
    html = """<html><body>
      <div id="a" itemscope itemtype="http://schema.org/Thing"
           itemref="b"></div>
      <div id="b">
        <span itemprop="name">loopy</span>
        <div itemprop="self" itemscope itemref="b"></div>
      </div>
    </body></html>"""
    stmts, _ = parse_microdata(html)
    names = [s for s in stmts if s.predicate.value.endswith("name")]
    assert names  # the crawl survived the cycle
    # missing id is ignored
    stmts2, _ = parse_microdata(
        '<div itemscope itemref="nope"><span itemprop="x">v</span></div>'
    )
    assert any(s.predicate.value.endswith("x") for s in stmts2)


def test_jsonld_remote_context_loader(tmp_path):
    """Remote @context references resolve through a snapshot-dir
    loader; chained references work; misses and cycles are errors."""
    import json
    from urllib.parse import quote

    from serd_spark.rdf.jsonld import dir_context_loader

    d = tmp_path / "ctx"
    d.mkdir()
    url1 = "https://ctx.example/v1"
    url2 = "https://ctx.example/v2"
    # v1 chains to v2; v2 defines the vocab
    (d / (quote(url1, safe="") + ".json")).write_text(
        json.dumps({"@context": [url2, {"extra": "http://x.example/extra"}]})
    )
    (d / (quote(url2, safe="") + ".json")).write_text(
        json.dumps({"@context": {"@vocab": "http://schema.org/"}})
    )
    loader = dir_context_loader(str(d))

    doc = ('{"@context": "https://ctx.example/v1", "@id": "http://e/1", '
           '"name": "A", "extra": "B"}')
    stmts, errs = parse_jsonld(doc, "http://page/", context_loader=loader)
    assert not errs
    got = spo(stmts)
    assert ("http://e/1", "http://schema.org/name", "A") in got
    assert ("http://e/1", "http://x.example/extra", "B") in got

    # missing from snapshot → lax error, no statements
    miss = '{"@context": "https://ctx.example/nope", "@id": "http://e/2"}'
    stmts, errs = parse_jsonld(miss, lax=True, context_loader=loader)
    assert stmts == [] and "snapshot" in errs[0][2]

    # without a loader remote contexts stay errors
    stmts, errs = parse_jsonld(doc, lax=True)
    assert stmts == [] and "remote @context" in errs[0][2]

    # cyclic chain → error, terminates
    urlc = "https://ctx.example/cycle"
    (d / (quote(urlc, safe="") + ".json")).write_text(
        json.dumps({"@context": urlc})
    )
    cyc = '{"@context": "https://ctx.example/cycle", "@id": "http://e/3"}'
    stmts, errs = parse_jsonld(cyc, lax=True, context_loader=loader)
    assert stmts == [] and "cyclic" in errs[0][2]


def test_jsonld_context_loader_via_extract_env(tmp_path, monkeypatch):
    """The extraction stage picks the snapshot dir up from
    $SERD_SPARK_JSONLD_CONTEXT_DIR (per-worker, once)."""
    import json
    from urllib.parse import quote

    import serd_spark.operators.extract as ex
    from serd_spark.rdf.html_islands import extract_document

    d = tmp_path / "ctx"
    d.mkdir()
    url1 = "https://ctx.example/v1"
    (d / (quote(url1, safe="") + ".json")).write_text(
        json.dumps({"@context": {"@vocab": "http://schema.org/"}})
    )
    monkeypatch.setenv("SERD_SPARK_JSONLD_CONTEXT_DIR", str(d))
    monkeypatch.setattr(ex, "_JSONLD_LOADER_INIT", False)
    monkeypatch.setattr(ex, "_JSONLD_LOADER", None)
    html = ('<script type="application/ld+json">'
            '{"@context": "https://ctx.example/v1", '
            '"@id": "http://e/1", "name": "A"}</script>')
    triples, errors = extract_document(
        html, "http://page/", lax=True,
        jsonld_context_loader=ex._jsonld_loader(),
    )
    assert not errors
    assert any(
        t[2].predicate.value == "http://schema.org/name" for t in triples
    )
    monkeypatch.setattr(ex, "_JSONLD_LOADER_INIT", False)
    monkeypatch.setattr(ex, "_JSONLD_LOADER", None)
