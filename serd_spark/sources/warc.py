"""WARC (ISO 28500) file ingestion and egress — the wire format of
Common-Crawl-style corpora, so a user can point this engine at real
crawl archives (or emit them) instead of parquet.

Scale shape: WARC has no intra-file split points without an external
CDX index (records are length-prefixed but a reader can't seek to an
arbitrary byte and resynchronize reliably), so parallelism is BY FILE
— exactly how production Common Crawl jobs run: ~1 GB per .warc,
~100k files per crawl, one task per file. ``read_warc`` scans with
Spark's ``binaryFile`` source (one row per file, lazily read) and
parses records in an iterator ``mapInPandas``; a smaller
``maxPartitionBytes`` cannot help here, so even file sizing is the
writer's job (``write_warc`` shards by url hash into ``n_files``).

Bomb discipline (CLAUDE.md): every record's work is bounded by its
DECLARED Content-Length, validated against the remaining buffer
BEFORE any slice — a record claiming 2 GB in a 1 KB file yields one
error row, not an allocation. Malformed headers resync by scanning
for the next ``WARC/`` magic, so one corrupt record never drops the
rest of the file (the same lax side-output contract as the Turtle
parser's ``rec='e'`` rows).

Determinism: records are written sorted by (url, warc_ts) within each
shard file, shard = md5-prefix of url — a pure function of the input
rows, so re-running the writer yields byte-identical files and the
read-back roundtrip is oracle-checkable cross-engine.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARC_VERSION = b"WARC/1.0"
_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"

# columns of the parsed-record output (built from column lists)
_READ_SCHEMA = "url string, warc_ts timestamp, html binary"
_ERR_SCHEMA = "warc_file string, offset long, err string"


def _warc_date(ts: datetime) -> str:
    """WARC-Date with microseconds, always 6 fractional digits — the
    fixed width keeps the writer output byte-deterministic."""
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"


def _parse_warc_date(s: str) -> datetime:
    s = s.strip()
    if s.endswith("Z"):
        s = s[:-1]
    fmt = "%Y-%m-%dT%H:%M:%S.%f" if "." in s else "%Y-%m-%dT%H:%M:%S"
    return datetime.strptime(s, fmt).replace(tzinfo=timezone.utc)


def warc_record(url: str, ts: datetime, html: bytes) -> bytes:
    """One WARC response record wrapping an HTTP/1.1 200 response —
    the layout Common Crawl emits (WARC headers, blank line, HTTP
    head, blank line, body, two CRLFs)."""
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=utf-8\r\n"
        b"Content-Length: " + str(len(html)).encode() + _HDR_END + html
    )
    head = (
        WARC_VERSION + _CRLF
        + b"WARC-Type: response" + _CRLF
        + b"WARC-Target-URI: " + url.encode("utf-8") + _CRLF
        + b"WARC-Date: " + _warc_date(ts).encode() + _CRLF
        + b"Content-Type: application/http; msgtype=response" + _CRLF
        + b"Content-Length: " + str(len(http)).encode() + _HDR_END
    )
    return head + http + _CRLF + _CRLF


def wet_record(url: str, ts: datetime, text: str) -> bytes:
    """One WET conversion record (the Common-Crawl .wet artifact):
    the EXTRACTED TEXT of a page as a ``WARC-Type: conversion``
    record with a plain-text identity payload — no HTTP envelope."""
    body = text.encode("utf-8")
    head = (
        WARC_VERSION + _CRLF
        + b"WARC-Type: conversion" + _CRLF
        + b"WARC-Target-URI: " + url.encode("utf-8") + _CRLF
        + b"WARC-Date: " + _warc_date(ts).encode() + _CRLF
        + b"Content-Type: text/plain" + _CRLF
        + b"Content-Length: " + str(len(body)).encode() + _HDR_END
    )
    return head + body + _CRLF + _CRLF


def warcinfo_record(filename: str) -> bytes:
    """The file-head warcinfo record real crawls carry — readers must
    skip non-response records, so the writer always emits one."""
    body = b"software: serd-spark\r\nformat: WARC File Format 1.0\r\n"
    head = (
        WARC_VERSION + _CRLF
        + b"WARC-Type: warcinfo" + _CRLF
        + b"WARC-Filename: " + filename.encode("utf-8") + _CRLF
        + b"Content-Type: application/warc-fields" + _CRLF
        + b"Content-Length: " + str(len(body)).encode() + _HDR_END
    )
    return head + body + _CRLF + _CRLF


def parse_warc(
    buf: bytes, lax: bool = True, want_type: str = "response"
) -> tuple[list[tuple[str, datetime, bytes]], list[tuple[int, str]]]:
    """Parse one WARC file buffer into ``want_type`` records
    (``response`` for .warc, ``conversion`` for .wet).

    Returns ``(records, errors)`` — records as (url, warc_ts, html),
    errors as (byte_offset, message).  Strict mode raises on the
    first malformed record; lax mode records it and resyncs at the
    next ``WARC/`` magic.  All work is bounded by declared lengths
    validated against ``len(buf)`` before slicing.
    """
    records: list[tuple[str, datetime, bytes]] = []
    errors: list[tuple[int, str]] = []
    pos, n = 0, len(buf)

    def fail(off: int, msg: str) -> int:
        if not lax:
            raise ValueError(f"WARC offset {off}: {msg}")
        errors.append((off, msg))
        nxt = buf.find(b"WARC/", off + 1)
        return nxt if nxt != -1 else n

    while pos < n:
        # skip inter-record CRLFs / stray whitespace
        while pos < n and buf[pos] in b"\r\n":
            pos += 1
        if pos >= n:
            break
        start = pos
        if not buf.startswith(b"WARC/", pos):
            pos = fail(start, "missing WARC/ magic")
            continue
        hdr_end = buf.find(_HDR_END, pos)
        # cap the header scan: a real header block is < 8 KB
        if hdr_end == -1 or hdr_end - pos > 65536:
            pos = fail(start, "unterminated or oversized header block")
            continue
        headers: dict[str, str] = {}
        ok = True
        for line in buf[pos:hdr_end].split(_CRLF)[1:]:
            k, sep, v = line.partition(b":")
            if not sep:
                ok = False
                break
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                "utf-8", errors="replace"
            )
        if not ok:
            pos = fail(start, "malformed header line")
            continue
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            pos = fail(start, "missing/invalid Content-Length")
            continue
        payload_at = hdr_end + len(_HDR_END)
        if length < 0 or payload_at + length > n:
            pos = fail(
                start,
                f"declared length {length} exceeds remaining "
                f"{n - payload_at} bytes",
            )
            continue
        payload = buf[payload_at : payload_at + length]
        pos = payload_at + length
        if headers.get("warc-type") == want_type:
            url = headers.get("warc-target-uri")
            date = headers.get("warc-date")
            if not url or not date:
                pos = fail(start, "response record missing URI or date")
                continue
            try:
                ts = _parse_warc_date(date)
            except ValueError:
                pos = fail(start, f"unparseable WARC-Date {date!r}")
                continue
            # Only 'response' records carry an HTTP envelope; WET
            # conversion / WAT metadata payloads are identity even when
            # their text happens to start with "HTTP/".
            if want_type == "response" and payload.startswith(b"HTTP/"):
                cut = payload.find(_HDR_END)
                body = payload[cut + len(_HDR_END) :] if cut != -1 else b""
            else:  # identity payload (no HTTP envelope)
                body = payload
            records.append((url, ts, body))
        # other record types (warcinfo, request, metadata): skipped
    return records, errors


def read_warc(
    spark: SparkSession, path: str, lax: bool = True
) -> DataFrame:
    """Scan ``path`` (a ``binaryFile`` glob, e.g. ``dir/*.warc``) into
    (url, warc_ts, html) — the pages-table shape minus the derived
    text/lang columns, ready for ``latest_crawl`` + extraction.
    One task per file (see module docstring for why)."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c_url: list[str] = []
            c_ts: list[datetime] = []
            c_html: list[bytes] = []
            for content in pdf["content"]:
                recs, _errs = parse_warc(bytes(content), lax=lax)
                for url, ts, body in recs:
                    c_url.append(url)
                    c_ts.append(ts)
                    c_html.append(body)
            yield pd.DataFrame(
                {"url": c_url, "warc_ts": c_ts, "html": c_html}
            )

    return files.mapInPandas(gen, schema=_READ_SCHEMA)


def read_wet(
    spark: SparkSession, path: str, lax: bool = True
) -> DataFrame:
    """Scan WET shard files into (url, warc_ts, text) — conversion
    records with the identity plain-text payload decoded as UTF-8.
    Same by-file parallelism as ``read_warc``."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c_url: list[str] = []
            c_ts: list[datetime] = []
            c_text: list[str] = []
            for content in pdf["content"]:
                recs, _errs = parse_warc(
                    bytes(content), lax=lax, want_type="conversion"
                )
                for url, ts, body in recs:
                    c_url.append(url)
                    c_ts.append(ts)
                    c_text.append(body.decode("utf-8", errors="replace"))
            yield pd.DataFrame(
                {"url": c_url, "warc_ts": c_ts, "text": c_text}
            )

    return files.mapInPandas(
        gen, schema="url string, warc_ts timestamp, text string"
    )


def write_wet(
    pages: DataFrame, out_dir: str, n_files: int = 8
) -> DataFrame:
    """Write (url, warc_ts, text) rows as WET conversion shards —
    the Common-Crawl text-artifact derivation, with ``write_warc``'s
    deterministic md5-url sharding and in-shard (url, warc_ts)
    ordering. Returns the same (file, n_records, n_bytes) manifest
    shape."""
    os.makedirs(out_dir, exist_ok=True)
    shard = (
        F.conv(F.substring(F.md5(F.col("url")), 1, 8), 16, 10).cast("long")
        % n_files
    )
    df = (
        pages.select("url", "warc_ts", "text")
        .withColumn("_shard", shard)
        .repartition(n_files, "_shard")
        .sortWithinPartitions("_shard", "url", "warc_ts")
    )

    def write_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bufs: dict[int, list[bytes]] = {}
        for pdf in batches:
            for url, ts, text, sh in zip(
                pdf["url"], pdf["warc_ts"], pdf["text"], pdf["_shard"]
            ):
                ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                bufs.setdefault(int(sh), []).append(
                    wet_record(str(url), ts, str(text))
                )
        c_file, c_recs, c_bytes = [], [], []
        for sh, recs in sorted(bufs.items()):
            name = f"shard-{sh:05d}.warc.wet"
            data = warcinfo_record(name) + b"".join(recs)
            with open(os.path.join(out_dir, name), "wb") as f:
                f.write(data)
            c_file.append(name)
            c_recs.append(len(recs))
            c_bytes.append(len(data))
        yield pd.DataFrame(
            {"file": c_file, "n_records": c_recs, "n_bytes": c_bytes}
        )

    return df.mapInPandas(
        write_parts, schema="file string, n_records long, n_bytes long"
    )


def write_warc(
    pages: DataFrame, out_dir: str, n_files: int = 8
) -> DataFrame:
    """Write (url, warc_ts, html) rows as ``n_files`` WARC shard
    files under ``out_dir``; returns the (file, n_records, n_bytes)
    manifest as a DataFrame (one action materializes it).

    Shard = md5-prefix of url mod ``n_files`` — a pure function of
    the row, so the file SET and each file's byte content are
    deterministic under retries and any input partitioning (records
    sort by (url, warc_ts) within a shard). The buffer cost is one
    shard file per task at a time — the writer-side analogue of the
    ~1 GB-per-file sizing convention. ``out_dir`` must be storage all
    executors can reach (a DFS mount on a real cluster; any local dir
    on local[N])."""
    os.makedirs(out_dir, exist_ok=True)
    shard = (
        F.conv(F.substring(F.md5(F.col("url")), 1, 8), 16, 10).cast("long")
        % n_files
    )
    df = (
        pages.select("url", "warc_ts", "html")
        .withColumn("_shard", shard)
        .repartition(n_files, "_shard")
        .sortWithinPartitions("_shard", "url", "warc_ts")
    )

    def write_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bufs: dict[int, list[bytes]] = {}
        for pdf in batches:
            for url, ts, html, sh in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["_shard"]
            ):
                ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                bufs.setdefault(int(sh), []).append(
                    warc_record(str(url), ts, bytes(html))
                )
        c_file, c_recs, c_bytes = [], [], []
        for sh, recs in sorted(bufs.items()):
            name = f"shard-{sh:05d}.warc"
            data = warcinfo_record(name) + b"".join(recs)
            with open(os.path.join(out_dir, name), "wb") as f:
                f.write(data)
            c_file.append(name)
            c_recs.append(len(recs))
            c_bytes.append(len(data))
        yield pd.DataFrame(
            {"file": c_file, "n_records": c_recs, "n_bytes": c_bytes}
        )

    return df.mapInPandas(
        write_parts, schema="file string, n_records long, n_bytes long"
    )


def wat_payload(url_col: str = "url", html_col: str = "html"):
    """The WAT metadata JSON for a page, derived entirely JVM-side:
    ``{"url", "title", "links"}`` with the title from the first
    <title> block and links from every href attribute (the
    corpus.host_graph regex — ASCII markup survives the lossy binary
    cast byte-exactly). ``to_json`` over a struct gives a
    deterministic field order and escaping, so the artifact is a
    pure function of (url, page bytes)."""
    page = F.col(html_col).cast("string")
    return F.to_json(
        F.struct(
            F.col(url_col).alias("url"),
            F.regexp_extract(page, r"(?s)<title>(.*?)</title>", 1).alias(
                "title"
            ),
            F.regexp_extract_all(
                page, F.lit(r'href="([^"]*)"'), 1
            ).alias("links"),
        )
    )


def wat_record(url: str, ts: datetime, wat_json: str) -> bytes:
    """One WAT metadata record: per-page derived metadata JSON as a
    ``WARC-Type: metadata`` record (identity JSON payload)."""
    body = wat_json.encode("utf-8")
    head = (
        WARC_VERSION + _CRLF
        + b"WARC-Type: metadata" + _CRLF
        + b"WARC-Target-URI: " + url.encode("utf-8") + _CRLF
        + b"WARC-Date: " + _warc_date(ts).encode() + _CRLF
        + b"Content-Type: application/json" + _CRLF
        + b"Content-Length: " + str(len(body)).encode() + _HDR_END
    )
    return head + body + _CRLF + _CRLF


def read_wat(
    spark: SparkSession, path: str, lax: bool = True
) -> DataFrame:
    """Scan WAT shard files into (url, warc_ts, wat) — metadata
    records with the JSON payload decoded as UTF-8."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c_url: list[str] = []
            c_ts: list[datetime] = []
            c_wat: list[str] = []
            for content in pdf["content"]:
                recs, _errs = parse_warc(
                    bytes(content), lax=lax, want_type="metadata"
                )
                for url, ts, body in recs:
                    c_url.append(url)
                    c_ts.append(ts)
                    c_wat.append(body.decode("utf-8", errors="replace"))
            yield pd.DataFrame(
                {"url": c_url, "warc_ts": c_ts, "wat": c_wat}
            )

    return files.mapInPandas(
        gen, schema="url string, warc_ts timestamp, wat string"
    )


def write_wat(
    pages: DataFrame, out_dir: str, n_files: int = 8
) -> DataFrame:
    """Write (url, warc_ts, wat) rows as WAT metadata shards —
    ``write_warc``'s deterministic sharding/ordering over the
    derived-metadata artifact. Callers derive ``wat`` with
    ``wat_payload`` (or any deterministic JSON column)."""
    os.makedirs(out_dir, exist_ok=True)
    shard = (
        F.conv(F.substring(F.md5(F.col("url")), 1, 8), 16, 10).cast("long")
        % n_files
    )
    df = (
        pages.select("url", "warc_ts", "wat")
        .withColumn("_shard", shard)
        .repartition(n_files, "_shard")
        .sortWithinPartitions("_shard", "url", "warc_ts")
    )

    def write_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bufs: dict[int, list[bytes]] = {}
        for pdf in batches:
            for url, ts, wat, sh in zip(
                pdf["url"], pdf["warc_ts"], pdf["wat"], pdf["_shard"]
            ):
                ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                bufs.setdefault(int(sh), []).append(
                    wat_record(str(url), ts, str(wat))
                )
        c_file, c_recs, c_bytes = [], [], []
        for sh, recs in sorted(bufs.items()):
            name = f"shard-{sh:05d}.warc.wat"
            data = warcinfo_record(name) + b"".join(recs)
            with open(os.path.join(out_dir, name), "wb") as f:
                f.write(data)
            c_file.append(name)
            c_recs.append(len(recs))
            c_bytes.append(len(data))
        yield pd.DataFrame(
            {"file": c_file, "n_records": c_recs, "n_bytes": c_bytes}
        )

    return df.mapInPandas(
        write_parts, schema="file string, n_records long, n_bytes long"
    )
