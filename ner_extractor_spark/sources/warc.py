"""WARC source — the native interchange format of web crawls
(ISO 28500; the CommonCrawl container the `pages` table is built
from upstream in production).

The reference repo consumes pre-extracted CoNLL text; a web-scale KG
pipeline starts one step earlier, at the crawler's WARC output.  This
module closes that step with pure public-spec machinery:

  * ``warc_record_expr`` — a declarative (JVM-side) builder of a
    WARC/1.0 *response* record for a (url, ts, payload) row: WARC
    header block + encapsulated HTTP/1.1 response, CRLF framing and
    Content-Length exactly per spec.  Used by tests and the oracle
    query to synthesize corpora deterministically (no external data).
  * ``synth_warc_files`` — groups records into multi-record file
    blobs (md5-bucketed, url-sorted binary concatenation) — the
    many-records-per-file layout real WARCs have.
  * ``parse_warc_records`` — the actual operator: an Arrow-batched
    ``mapInPandas`` parser that walks a blob's framing (version line →
    header block → Content-Length-delimited body → CRLF CRLF record
    separator), decodes the encapsulated HTTP response (status,
    headers, payload), and supports per-member-gzipped blobs (the
    `.warc.gz` convention: each record its own gzip member) via
    stdlib zlib.  Any framing slip shifts every later offset, so the
    round-trip oracle query (``warc_roundtrip``) is a real parse
    check, not a format echo.
  * ``read_warc`` — ``spark.read.format("binaryFile")`` → parser;
    one task per file (WARC files are written ~1 GiB by crawlers —
    the natural partition grain; at 100 TB that is ~100k files, and
    binaryFile's maxPartitionBytes packing handles small-file skew).
  * ``read_warc_pages`` — ``read_warc`` → ``pages``, keeping the
    latest capture of each url (the KG pipeline's row key).

Payload bytes stay opaque binary through the parse (the multimodal
column discipline); downstream ``html_extract_text`` consumes them.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType,
                               TimestampType)

_CRLF = "\r\n"
_HTTP_CT = "text/html; charset=utf-8"

PARSED = StructType([
    StructField("file_id", LongType(), True),
    StructField("rec_type", StringType(), True),
    StructField("url", StringType(), True),
    StructField("warc_date", StringType(), True),
    StructField("content_length", LongType(), True),
    StructField("http_status", IntegerType(), True),
    StructField("mime", StringType(), True),
    StructField("payload", BinaryType(), True),
])


def warc_record_expr(url_col, ts_col, payload_col) -> Column:
    """Binary column: one WARC/1.0 response record encapsulating an
    HTTP/1.1 200 response whose body is ``payload_col`` (binary).
    Declarative concat of encoded header strings + the payload —
    whole-stage-codegen JVM expressions, no UDF."""
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    ts = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    payload = (F.col(payload_col) if isinstance(payload_col, str)
               else payload_col)
    plen = F.length(payload)  # byte length of binary
    http_head = F.concat(
        F.lit(f"HTTP/1.1 200 OK{_CRLF}"
              f"Content-Type: {_HTTP_CT}{_CRLF}"
              "Content-Length: "),
        plen.cast("string"), F.lit(_CRLF + _CRLF))
    clen = F.length(http_head) + plen  # ASCII head: chars == bytes
    warc_head = F.concat(
        F.lit(f"WARC/1.0{_CRLF}WARC-Type: response{_CRLF}"
              "WARC-Record-ID: <urn:md5:"),
        F.md5(F.encode(url, "UTF-8")), F.lit(f">{_CRLF}WARC-Target-URI: "),
        url, F.lit(f"{_CRLF}WARC-Date: "),
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit(f"{_CRLF}Content-Type: application/http; msgtype=response"
              f"{_CRLF}Content-Length: "),
        clen.cast("string"), F.lit(_CRLF + _CRLF))
    return F.concat(F.encode(warc_head, "UTF-8"),
                    F.encode(http_head, "UTF-8"), payload,
                    F.encode(F.lit(_CRLF + _CRLF), "UTF-8"))


def synth_warc_files(pages: DataFrame, n_files: int = 4,
                     url_col: str = "url", ts_col: str = "warc_ts",
                     payload_col: str = "html") -> DataFrame:
    """(file_id, content): pages grouped into ``n_files`` md5 buckets,
    each file the url-sorted binary concatenation of its records —
    deterministic any partitioning.  The per-file fold is a single
    aggregate over the collected record array (files are the bounded
    unit here: a synthetic file holds corpus/n_files records; real
    crawlers cap at ~1 GiB/file for the same reason)."""
    rec = warc_record_expr(url_col, ts_col, payload_col)
    fid = (F.conv(F.substring(F.md5(F.col(url_col)), 1, 8), 16, 10)
           .cast("long") % n_files)
    per = pages.select(fid.alias("file_id"), F.col(url_col).alias("_u"),
                       rec.alias("_rec"))
    recs = (per.groupBy("file_id")
            .agg(F.array_sort(F.collect_list(F.struct("_u", "_rec")))
                 .alias("_rs")))
    content = F.aggregate(
        "_rs", F.lit(b""), lambda acc, x: F.concat(acc, x["_rec"]))
    return recs.select("file_id", content.alias("content"))


def _gunzip_members(blob: bytes) -> bytes:
    """Concatenated-gzip-member decompression (the .warc.gz layout:
    one member per record).  stdlib zlib, streaming member by member."""
    out, pos = [], 0
    while pos < len(blob):
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        out.append(d.decompress(blob[pos:]))
        if not d.eof:       # truncated member
            break
        pos = len(blob) - len(d.unused_data)
    return b"".join(out)


def parse_warc_blob(blob: bytes, file_id=None) -> list[dict]:
    """Pure-Python WARC parser for one file blob -> record dicts.
    Walks the spec framing: 'WARC/1.x' version line, header block to
    CRLF CRLF, Content-Length body octets, CRLF CRLF separator.
    Response records get their encapsulated HTTP response decoded
    (status line, headers, payload after the HTTP header block);
    other record types (warcinfo, request, metadata) are emitted with
    NULL http fields and payload.  Unparseable leading bytes are
    skipped to the next 'WARC/' marker (crawler files can carry
    padding) — a record with malformed headers is skipped, never
    mis-sliced into the next one."""
    if blob[:2] == b"\x1f\x8b":
        blob = _gunzip_members(blob)
    rows: list[dict] = []
    pos = 0
    n = len(blob)
    while pos < n:
        start = blob.find(b"WARC/", pos)
        if start < 0:
            break
        hdr_end = blob.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            break
        lines = blob[start:hdr_end].decode("utf-8", "replace").split(_CRLF)
        if not lines[0].startswith("WARC/1."):
            pos = start + 5
            continue
        hdrs = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            hdrs[k.strip().lower()] = v.strip()
        try:
            clen = int(hdrs["content-length"])
        except (KeyError, ValueError):
            pos = start + 5
            continue
        body = blob[hdr_end + 4: hdr_end + 4 + clen]
        pos = hdr_end + 4 + clen + 4  # skip CRLF CRLF separator
        rtype = hdrs.get("warc-type", "")
        row = {
            "file_id": file_id, "rec_type": rtype,
            "url": hdrs.get("warc-target-uri"),
            "warc_date": hdrs.get("warc-date"),
            "content_length": clen, "http_status": None,
            "mime": None, "payload": None,
        }
        if (rtype == "response"
                and hdrs.get("content-type", "").startswith(
                    "application/http")):
            he = body.find(b"\r\n\r\n")
            if he >= 0:
                hlines = body[:he].decode("utf-8", "replace").split(_CRLF)
                st = hlines[0].split(" ")
                row["http_status"] = (int(st[1]) if len(st) > 1
                                      and st[1].isdigit() else None)
                for ln in hlines[1:]:
                    k, _, v = ln.partition(":")
                    if k.strip().lower() == "content-type":
                        row["mime"] = v.strip()
                row["payload"] = body[he + 4:]
        rows.append(row)
    return rows


def parse_warc_records(files: DataFrame, content_col: str = "content",
                       file_id_col: str | None = "file_id") -> DataFrame:
    """(file_id?, content binary) -> PARSED rows via Arrow-batched
    mapInPandas (one Python pass per FILE, not per record — the
    multimodal batch-shape contract).  Gzipped blobs auto-detected."""
    cols = ([file_id_col, content_col] if file_id_col else [content_col])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [f.name for f in PARSED.fields]
        for pdf in batches:
            rows: list[dict] = []
            for _, r in pdf.iterrows():
                rows.extend(parse_warc_blob(
                    bytes(r[content_col]),
                    int(r[file_id_col]) if file_id_col else None))
            yield pd.DataFrame(rows, columns=names)

    return files.select(*cols).mapInPandas(fn, schema=PARSED)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read .warc / .warc.gz files under ``path`` into PARSED rows.
    binaryFile gives (path, content) one row per file; the parser
    fans records out inside the task."""
    raw = (spark.read.format("binaryFile")
           .option("pathGlobFilter", "*.warc*").load(path)
           .select(F.xxhash64("path").alias("file_id"), "content"))
    return parse_warc_records(raw)


def warc_to_pages(parsed: DataFrame) -> DataFrame:
    """Parsed response records -> the canonical ``pages`` input shape
    (url, warc_ts, html); feeds ``run_kg_pipeline(use_html=True)`` /
    ``html_extract_text`` unchanged."""
    return (parsed.filter((F.col("rec_type") == "response")
                          & F.col("payload").isNotNull())
            .select("url",
                    F.to_timestamp("warc_date",
                                   "yyyy-MM-dd'T'HH:mm:ss'Z'")
                    .alias("warc_ts"),
                    F.col("payload").alias("html")))


def read_warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """The WARC files under ``path`` as ``pages`` (url, warc_ts, html),
    one row per url: the latest capture (ties: the larger payload).
    A crawl repeats urls and ``run_kg_pipeline`` keys its rows on
    ``url``; the dedup is one aggregation exchange ahead of the
    pipeline's map-only path."""
    latest = F.max(F.struct("warc_ts", "html")).alias("p")
    return (warc_to_pages(read_warc(spark, path))
            .groupBy("url").agg(latest)
            .select("url", "p.warc_ts", "p.html"))


# binaryFile's fixed schema — streaming sources cannot infer it
_BINARYFILE_SCHEMA = StructType([
    StructField("path", StringType(), True),
    StructField("modificationTime", TimestampType(), True),
    StructField("length", LongType(), True),
    StructField("content", BinaryType(), True),
])


def stream_warc(spark: SparkSession, path: str) -> DataFrame:
    """Streaming twin of ``read_warc``: watch ``path`` for new
    .warc/.warc.gz files (the crawler's drop directory) and emit
    PARSED records per micro-batch.  binaryFile is a standard file
    stream source — each file is discovered exactly once and tracked
    in the streaming checkpoint, so a crawl feed drains incrementally
    with cross-run resume; the parse itself is the same stateless
    mapInPandas stage as batch."""
    raw = (spark.readStream.format("binaryFile")
           .schema(_BINARYFILE_SCHEMA)
           .option("pathGlobFilter", "*.warc*").load(path)
           .select(F.xxhash64("path").alias("file_id"), "content"))
    return parse_warc_records(raw)


def stream_warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """Streaming WARC feed -> the pages shape ``run_kg_stream``
    consumes (text/lang NULL — the html path extracts text;
    use_html=True downstream)."""
    return (warc_to_pages(stream_warc(spark, path))
            .withColumn("text", F.lit(None).cast("string"))
            .withColumn("lang", F.lit(None).cast("string")))
