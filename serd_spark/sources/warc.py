"""WARC (ISO 28500) file ingestion and egress — the wire format of
Common-Crawl-style corpora, so a user can point this engine at real
crawl archives (or emit them) instead of parquet.

Scale shape: WARC has no intra-file split points without an external
CDX index (records are length-prefixed but a reader can't seek to an
arbitrary byte and resynchronize reliably), so parallelism is BY FILE
— exactly how production Common Crawl jobs run: ~1 GB per .warc,
~100k files per crawl, one task per file. ``read_warc`` scans with
Spark's ``binaryFile`` source (one row per file, lazily read) and
parses records in one iterator ``mapInArrow`` kernel; a smaller
``maxPartitionBytes`` cannot help here, so even file sizing is the
writer's job (``write_warc`` shards by url hash into ``n_files``).

Bomb discipline (CLAUDE.md): every record's work is bounded by its
DECLARED Content-Length, validated against the remaining buffer
BEFORE any slice — a record claiming 2 GB in a 1 KB file is one
``(offset, message)`` error from ``parse_warc``, never an allocation;
the lax ``read_*`` scans drop such records and keep no error rows.
Malformed headers resync by scanning for the next ``WARC/`` magic, so
one corrupt record never drops the rest of the file.

Determinism: records are written sorted by (url, warc_ts) within each
shard file, shard = md5-prefix of url — a pure function of the input
rows, so re-running the writer yields byte-identical files and the
read-back roundtrip is oracle-checkable cross-engine.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from datetime import datetime, timezone

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARC_VERSION = b"WARC/1.0"
_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"


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


def _record(
    warc_type: str, head_lines: tuple[str, ...], content_type: str, body: bytes
) -> bytes:
    """The one WARC record framing: ``WARC/1.0`` header block (type,
    ``head_lines``, content type, Content-Length), blank line, body,
    two CRLFs."""
    head = "\r\n".join(
        (
            f"WARC-Type: {warc_type}",
            *head_lines,
            f"Content-Type: {content_type}",
            f"Content-Length: {len(body)}",
        )
    )
    return (
        WARC_VERSION + _CRLF + head.encode("utf-8") + _HDR_END
        + body + _CRLF + _CRLF
    )


def _target(url: str, ts: datetime) -> tuple[str, str]:
    return f"WARC-Target-URI: {url}", f"WARC-Date: {_warc_date(ts)}"


def warc_record(url: str, ts: datetime, html: bytes) -> bytes:
    """One WARC response record wrapping an HTTP/1.1 200 response —
    the layout Common Crawl emits (WARC headers, blank line, HTTP
    head, blank line, body, two CRLFs)."""
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=utf-8\r\n"
        b"Content-Length: " + str(len(html)).encode() + _HDR_END + html
    )
    return _record(
        "response", _target(url, ts), "application/http; msgtype=response", http
    )


def wet_record(url: str, ts: datetime, text: str) -> bytes:
    """One WET conversion record (the Common-Crawl .wet artifact):
    the EXTRACTED TEXT of a page as a ``WARC-Type: conversion``
    record with a plain-text identity payload — no HTTP envelope."""
    return _record(
        "conversion", _target(url, ts), "text/plain", text.encode("utf-8")
    )


def wat_record(url: str, ts: datetime, wat_json: str) -> bytes:
    """One WAT metadata record: per-page derived metadata JSON as a
    ``WARC-Type: metadata`` record (identity JSON payload)."""
    return _record(
        "metadata", _target(url, ts), "application/json",
        wat_json.encode("utf-8"),
    )


def warcinfo_record(filename: str) -> bytes:
    """The file-head warcinfo record real crawls carry — readers must
    skip non-response records, so the writer always emits one."""
    return _record(
        "warcinfo", (f"WARC-Filename: {filename}",), "application/warc-fields",
        b"software: serd-spark\r\nformat: WARC File Format 1.0\r\n",
    )


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


def _read_records(
    spark: SparkSession,
    path: str,
    lax: bool,
    want_type: str,
    col: str,
    ddl: str,
    decode,
) -> DataFrame:
    """The one reader behind ``read_warc``/``read_wet``/``read_wat``:
    ``binaryFile`` scan → ``parse_warc`` per file → (url, warc_ts,
    ``col``) rows, ``col`` typed by ``ddl`` and filled with
    ``decode(payload)``. One task per file (see module docstring for why); output
    batches are built from column lists against one Arrow schema
    derived from the DDL on the driver."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    out_ddl = f"url string, warc_ts timestamp, {col} {ddl}"
    schema = to_arrow_schema(_parse_datatype_string(out_ddl))
    files = spark.read.format("binaryFile").load(path).select("content")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: tuple[list, list, list] = ([], [], [])
            for content in batch.column(0).to_pylist():
                recs, _errs = parse_warc(content, lax=lax, want_type=want_type)
                for url, ts, body in recs:
                    cols[0].append(url)
                    cols[1].append(ts)
                    cols[2].append(decode(body))
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                schema=schema,
            )

    return files.mapInArrow(run, schema=out_ddl)


def _utf8(body: bytes) -> str:
    return body.decode("utf-8", errors="replace")


def read_warc(
    spark: SparkSession, path: str, lax: bool = True
) -> DataFrame:
    """Scan ``path`` (a ``binaryFile`` glob, e.g. ``dir/*.warc``) into
    (url, warc_ts, html) — the pages-table shape minus the derived
    text/lang columns, ready for ``latest_crawl`` + extraction.
    One task per file (see module docstring for why)."""
    return _read_records(spark, path, lax, "response", "html", "binary", bytes)


def read_wet(
    spark: SparkSession, path: str, lax: bool = True
) -> DataFrame:
    """Scan WET shard files into (url, warc_ts, text) — conversion
    records with the identity plain-text payload decoded as UTF-8.
    Same by-file parallelism as ``read_warc``."""
    return _read_records(
        spark, path, lax, "conversion", "text", "string", _utf8
    )


def read_wat(
    spark: SparkSession, path: str, lax: bool = True
) -> DataFrame:
    """Scan WAT shard files into (url, warc_ts, wat) — metadata
    records with the JSON payload decoded as UTF-8."""
    return _read_records(spark, path, lax, "metadata", "wat", "string", _utf8)


_MANIFEST_SCHEMA = "file string, n_records long, n_bytes long"


def _write_shards(
    pages: DataFrame,
    out_dir: str,
    n_files: int,
    col: str,
    record,
    suffix: str,
) -> DataFrame:
    """The one sharded writer behind ``write_warc``/``write_wet``/
    ``write_wat``: (url, warc_ts, ``col``) rows become
    ``record(url, ts, value)`` bytes in ``shard-NNNNN{suffix}`` files,
    each led by a warcinfo record; returns the (file, n_records,
    n_bytes) manifest as a DataFrame (one action materializes it).

    Shard = md5-prefix of url mod ``n_files`` — a pure function of
    the row, so the file SET and each file's byte content are
    deterministic under retries and any input partitioning (records
    sort by (url, warc_ts) within a shard). The buffer cost is one
    shard file per task at a time — the writer-side analogue of the
    ~1 GB-per-file sizing convention. ``out_dir`` must be storage all
    executors can reach (a DFS mount on a real cluster; any local dir
    on local[N])."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    os.makedirs(out_dir, exist_ok=True)
    schema = to_arrow_schema(_parse_datatype_string(_MANIFEST_SCHEMA))
    shard = (
        F.conv(F.substring(F.md5(F.col("url")), 1, 8), 16, 10).cast("long")
        % n_files
    )
    df = (
        pages.select("url", "warc_ts", col)
        .withColumn("_shard", shard)
        .repartition(n_files, "_shard")
        .sortWithinPartitions("_shard", "url", "warc_ts")
    )

    def write_parts(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        bufs: dict[int, list[bytes]] = {}
        for batch in batches:
            for url, ts, value, sh in zip(
                *(c.to_pylist() for c in batch.columns)
            ):
                bufs.setdefault(sh, []).append(record(url, ts, value))
        cols: tuple[list, list, list] = ([], [], [])
        for sh, recs in sorted(bufs.items()):
            name = f"shard-{sh:05d}{suffix}"
            data = warcinfo_record(name) + b"".join(recs)
            with open(os.path.join(out_dir, name), "wb") as f:
                f.write(data)
            cols[0].append(name)
            cols[1].append(len(recs))
            cols[2].append(len(data))
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )

    return df.mapInArrow(write_parts, schema=_MANIFEST_SCHEMA)


def write_warc(
    pages: DataFrame, out_dir: str, n_files: int = 8
) -> DataFrame:
    """Write (url, warc_ts, html) rows as ``n_files`` WARC shard
    files under ``out_dir``; returns the (file, n_records, n_bytes)
    manifest (sharding and determinism: ``_write_shards``)."""
    return _write_shards(pages, out_dir, n_files, "html", warc_record, ".warc")


def write_wet(
    pages: DataFrame, out_dir: str, n_files: int = 8
) -> DataFrame:
    """Write (url, warc_ts, text) rows as WET conversion shards —
    the Common-Crawl text-artifact derivation, with ``write_warc``'s
    deterministic md5-url sharding and in-shard (url, warc_ts)
    ordering. Returns the same (file, n_records, n_bytes) manifest
    shape."""
    return _write_shards(
        pages, out_dir, n_files, "text", wet_record, ".warc.wet"
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


def write_wat(
    pages: DataFrame, out_dir: str, n_files: int = 8
) -> DataFrame:
    """Write (url, warc_ts, wat) rows as WAT metadata shards —
    ``write_warc``'s deterministic sharding/ordering over the
    derived-metadata artifact. Callers derive ``wat`` with
    ``wat_payload`` (or any deterministic JSON column)."""
    return _write_shards(
        pages, out_dir, n_files, "wat", wat_record, ".warc.wat"
    )
