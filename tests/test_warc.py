"""WARC source/sink — byte-level record roundtrips, bomb guards,
lax resync, and the distributed write→read fixpoint."""

from datetime import datetime, timezone

import pytest

from serd_spark.sources.warc import (
    parse_warc,
    read_warc,
    warc_record,
    warcinfo_record,
    write_warc,
)

TS = datetime(2026, 1, 2, 3, 4, 5, 123456, tzinfo=timezone.utc)


def test_record_roundtrip_exact_bytes():
    body = "héllo 漢字 <p>bytes</p>\nline2".encode()
    rec = warc_record("http://a.example/x", TS, body)
    records, errors = parse_warc(rec)
    assert errors == []
    assert records == [("http://a.example/x", TS, body)]


def test_warcinfo_and_multiple_records():
    buf = (
        warcinfo_record("f.warc")
        + warc_record("http://a/1", TS, b"one")
        + warc_record("http://a/2", TS, b"two")
    )
    records, errors = parse_warc(buf)
    assert [r[0] for r in records] == ["http://a/1", "http://a/2"]
    assert [r[2] for r in records] == [b"one", b"two"]
    assert errors == []


def test_declared_length_bomb_is_one_error_row():
    evil = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://x/\r\n"
        b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        b"Content-Length: 2147483647\r\n\r\nshort"
    )
    records, errors = parse_warc(evil + warc_record("http://ok/", TS, b"ok"))
    assert len(errors) == 1 and "declared length" in errors[0][1]
    # resync recovered the following good record
    assert [r[0] for r in records] == ["http://ok/"]


def test_strict_mode_raises():
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc(b"WARC/1.0\r\nWARC-Type: response\r\n\r\n", lax=False)


def test_garbage_prefix_resyncs():
    buf = b"NOT A WARC" + warc_record("http://ok/", TS, b"ok")
    records, errors = parse_warc(buf)
    assert [r[0] for r in records] == ["http://ok/"]
    assert len(errors) == 1


def test_seconds_only_warc_date_accepted():
    rec = warc_record("http://a/", TS, b"x").replace(
        b"2026-01-02T03:04:05.123456Z", b"2026-01-02T03:04:05Z"
    )
    # header Content-Length unchanged — payload length is what counts
    records, _ = parse_warc(rec)
    assert records[0][1] == TS.replace(microsecond=0)


def test_write_read_fixpoint(spark, tmp_path):
    rows = [
        (f"http://s{i % 3}.example/p/{i}", TS, f"<p>doc {i} é</p>".encode())
        for i in range(50)
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary"
    )
    out = str(tmp_path / "warc")
    manifest = write_warc(pages, out, n_files=4).collect()
    assert sum(m.n_records for m in manifest) == 50
    assert {m.file for m in manifest} <= {
        f"shard-{i:05d}.warc" for i in range(4)
    }
    back = read_warc(spark, out + "/*.warc")
    # Spark collects timestamps as session-UTC naive datetimes
    a = sorted((r.url, r.warc_ts, bytes(r.html)) for r in back.collect())
    want = sorted((u, t.replace(tzinfo=None), h) for u, t, h in rows)
    assert a == want


def test_write_is_deterministic(spark, tmp_path):
    rows = [(f"http://h/{i}", TS, f"b{i}".encode()) for i in range(20)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary"
    )
    outs = []
    for d in ("w1", "w2"):
        out = str(tmp_path / d)
        write_warc(pages.repartition(7), out, n_files=2).collect()
        outs.append(
            {
                f: open(f"{out}/shard-{i:05d}.warc", "rb").read()
                for i, f in enumerate(
                    [f"shard-{i:05d}.warc" for i in range(2)]
                )
            }
        )
    assert outs[0] == outs[1]


@pytest.mark.parametrize(
    "reader, record, warc_type, value",
    [
        ("read_warc", "warc_record", "response", b"<p>ok</p>"),
        ("read_wet", "wet_record", "conversion", "ok — text"),
        ("read_wat", "wat_record", "metadata", '{"url": "http://ok/"}'),
    ],
)
def test_lax_read_drops_garbage_and_bomb(
    spark, tmp_path, reader, record, warc_type, value
):
    """A shard holding a garbage prefix, a declared-length bomb and one
    valid record reads back as exactly that record."""
    from serd_spark.sources import warc

    bomb = (
        b"WARC/1.0\r\nWARC-Type: " + warc_type.encode() + b"\r\n"
        b"WARC-Target-URI: http://x/\r\n"
        b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        b"Content-Length: 2147483647\r\n\r\nshort"
    )
    good = getattr(warc, record)("http://ok/", TS, value)
    (tmp_path / "shard.warc").write_bytes(b"NOT A WARC\r\n" + bomb + good)
    rows = getattr(warc, reader)(spark, str(tmp_path / "shard.warc")).collect()
    assert [tuple(r) for r in rows] == [
        ("http://ok/", TS.replace(tzinfo=None), value)
    ]


def test_wet_record_roundtrip_and_type_filter():
    from serd_spark.sources.warc import parse_warc, wet_record

    text = 'Multi-line — «ünïcode 漢字»\n"quotes"\nlines that must\nsurvive.'
    buf = warcinfo_record("x.wet") + wet_record("http://a/1", TS, text)
    recs, errs = parse_warc(buf, want_type="conversion")
    assert errs == []
    assert recs == [("http://a/1", TS, text.encode("utf-8"))]
    # a response-mode read of the same buffer yields nothing
    assert parse_warc(buf)[0] == []


def test_wet_write_read_fixpoint(spark, tmp_path):
    from serd_spark.sources.warc import read_wet, write_wet

    rows = [
        (f"http://h/{i}", TS, f"text {i} — ünïcode\nsecond line {i}")
        for i in range(40)
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string"
    )
    out = str(tmp_path / "wet")
    manifest = write_wet(pages, out, n_files=3).collect()
    assert sum(m.n_records for m in manifest) == 40
    back = read_wet(spark, out + "/*.wet")
    a = sorted((r.url, r.warc_ts, r.text) for r in back.collect())
    want = sorted((u, t.replace(tzinfo=None), x) for u, t, x in rows)
    assert a == want


def test_wat_payload_and_fixpoint(spark, tmp_path):
    import json

    from serd_spark.sources.warc import read_wat, wat_payload, write_wat

    html = (
        '<html><head><title>Pagé «42»</title></head><body>'
        '<a href="http://a.example/x">x</a>'
        '<a class="z" href="/rel?q=1&r=2">rel</a></body></html>'
    ).encode("utf-8")
    pages = spark.createDataFrame(
        [("http://h/1", TS, html), ("http://h/2", TS, b"<p>no links</p>")],
        "url string, warc_ts timestamp, html binary",
    )
    src = pages.select("url", "warc_ts", wat_payload().alias("wat"))
    rows = {r["url"]: json.loads(r["wat"]) for r in src.collect()}
    assert rows["http://h/1"] == {
        "url": "http://h/1",
        "title": "Pagé «42»",
        "links": ["http://a.example/x", "/rel?q=1&r=2"],
    }
    assert rows["http://h/2"] == {
        "url": "http://h/2", "title": "", "links": [],
    }

    out = str(tmp_path / "wat")
    write_wat(src, out, n_files=2).collect()
    back = sorted(
        (r.url, r.warc_ts, r.wat)
        for r in read_wat(spark, out + "/*.wat").collect()
    )
    want = sorted(
        (r.url, TS.replace(tzinfo=None), r.wat) for r in src.collect()
    )
    assert back == want


def test_wet_text_starting_with_http_survives():
    # ADVICE r4: the HTTP-envelope sniff must only apply to 'response'
    # records — a WET conversion payload whose text begins "HTTP/" is
    # identity-encoded and must round-trip byte-identical.
    from serd_spark.sources.warc import parse_warc, wet_record

    text = "HTTP/1.1 considered harmful\r\n\r\nbody-like text survives"
    buf = wet_record("http://a/h", TS, text)
    recs, errs = parse_warc(buf, want_type="conversion")
    assert errs == []
    assert recs == [("http://a/h", TS, text.encode("utf-8"))]


def test_response_http_envelope_still_stripped():
    # warc_record wraps html in the Common-Crawl HTTP envelope; the
    # response path must still strip exactly that envelope — even when
    # the html itself begins "HTTP/" (no double-strip).
    body = b"HTTP/ is the first text of this page <p>x</p>"
    rec = warc_record("http://a/r", TS, body)
    records, errors = parse_warc(rec)
    assert errors == []
    assert records == [("http://a/r", TS, body)]
