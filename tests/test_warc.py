"""WARC source (sources/warc): framing round-trip, gzip members,
non-response records, padding robustness, binaryFile read, one page
per url for a crawl that repeats urls, and the composition into the
html extraction path."""

import gzip
import hashlib

from pyspark.sql import functions as F

from ner_extractor_spark.sources.warc import (
    parse_warc_blob, parse_warc_records, read_warc, read_warc_pages,
    synth_warc_files, warc_record_expr, warc_to_pages)

PAGES = [
    ("https://a.test/1", "2024-01-01 00:00:05", "<p>Hello world</p>"),
    ("https://b.test/2", "2024-02-03 04:05:06",
     "<p>Zwei > Seiten & ümläute</p>"),
    ("https://c.test/3", "2024-03-01 10:00:00", "<p></p>"),
]


def _pages_df(spark):
    return (spark.createDataFrame(PAGES, "url string, ts string, "
                                  "body string")
            .select("url", F.to_timestamp("ts").alias("warc_ts"),
                    F.encode("body", "UTF-8").alias("html")))


def test_record_expr_framing_exact(spark):
    # byte-level check of one record: spec CRLF framing, both
    # Content-Lengths, ISO date
    row = (_pages_df(spark).filter(F.col("url") == "https://a.test/1")
           .select(warc_record_expr("url", "warc_ts", "html").alias("r"))
           .collect()[0])
    raw = bytes(row["r"])
    payload = "<p>Hello world</p>".encode()
    head, _, rest = raw.partition(b"\r\n\r\n")
    lines = head.decode().split("\r\n")
    assert lines[0] == "WARC/1.0"
    hdrs = dict(ln.split(": ", 1) for ln in lines[1:])
    assert hdrs["WARC-Type"] == "response"
    assert hdrs["WARC-Target-URI"] == "https://a.test/1"
    assert hdrs["WARC-Date"] == "2024-01-01T00:00:05Z"
    http, _, tail = rest.partition(b"\r\n\r\n")
    assert int(hdrs["Content-Length"]) == len(http) + 4 + len(payload)
    hlines = http.decode().split("\r\n")
    assert hlines[0] == "HTTP/1.1 200 OK"
    assert f"Content-Length: {len(payload)}" in hlines
    assert tail == payload + b"\r\n\r\n"


def test_parse_roundtrip(spark):
    files = synth_warc_files(_pages_df(spark), n_files=2)
    got = {r["url"]: r for r in parse_warc_records(files).collect()}
    assert set(got) == {u for (u, _, _) in PAGES}
    for (u, _, body) in PAGES:
        r = got[u]
        assert r["rec_type"] == "response"
        assert r["http_status"] == 200
        assert r["mime"] == "text/html; charset=utf-8"
        assert bytes(r["payload"]) == body.encode()


def test_parse_blob_gzip_members_and_padding():
    # .warc.gz layout: one gzip member per record; plus leading junk
    # padding before a record (must resync on the WARC/ marker)
    payload = b"<p>x</p>"
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Length: %d\r\n\r\n" % len(payload)) + payload
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://gz.test/\r\n"
           b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
           b"Content-Type: application/http; msgtype=response\r\n"
           b"Content-Length: %d\r\n\r\n" % len(http)) + http + b"\r\n\r\n"
    two = gzip.compress(rec) + gzip.compress(rec.replace(b"gz.test",
                                                         b"g2.test"))
    rows = parse_warc_blob(two)
    assert [r["url"] for r in rows] == ["https://gz.test/",
                                       "https://g2.test/"]
    assert all(bytes(r["payload"]) == payload for r in rows)
    padded = b"JUNKJUNK" + rec
    assert [r["url"] for r in parse_warc_blob(padded)] == [
        "https://gz.test/"]


def test_parse_blob_non_response_records():
    # warcinfo / request records are emitted with NULL http fields
    # and never steal bytes from the following response
    info_body = b"software: test\r\n"
    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            b"Content-Type: application/warc-fields\r\n"
            b"Content-Length: %d\r\n\r\n" % len(info_body)
            ) + info_body + b"\r\n\r\n"
    payload = b"<p>after info</p>"
    http = (b"HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n"
            b"Content-Length: %d\r\n\r\n" % len(payload)) + payload
    resp = (b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://nf.test/\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: %d\r\n\r\n" % len(http)) + http + b"\r\n\r\n"
    rows = parse_warc_blob(info + resp)
    assert [r["rec_type"] for r in rows] == ["warcinfo", "response"]
    assert rows[0]["http_status"] is None and rows[0]["payload"] is None
    assert rows[1]["http_status"] == 404
    assert rows[1]["mime"] == "text/plain"
    assert bytes(rows[1]["payload"]) == payload


def test_read_warc_binaryfile(spark, tmp_path):
    # real files on disk through the binaryFile reader — including a
    # gzipped sibling — parse identically to the in-plan blobs
    files = {r["file_id"]: bytes(r["content"])
             for r in synth_warc_files(_pages_df(spark),
                                       n_files=2).collect()}
    (tmp_path / "part0.warc").write_bytes(files[0])
    (tmp_path / "part1.warc.gz").write_bytes(gzip.compress(files[1]))
    got = {r["url"]: bytes(r["payload"])
           for r in read_warc(spark, str(tmp_path)).collect()}
    assert got == {u: b.encode() for (u, _, b) in PAGES}


def test_read_warc_pages_keeps_latest_capture_per_url(spark, tmp_path):
    # a crawl that captured a.test/1 three times: the pages keep one row
    # per url, the latest capture, so run_kg_pipeline's (url, sent_id)
    # key holds
    recaptures = [
        ("https://a.test/1", "2023-12-31 23:59:59", "<p>Older words</p>"),
        ("https://a.test/1", "2024-06-01 12:00:00", "<p>Newest words</p>"),
    ]
    crawl = spark.createDataFrame(
        PAGES + recaptures, "url string, ts string, body string").select(
        "url", F.to_timestamp("ts").alias("warc_ts"),
        F.encode("body", "UTF-8").alias("html"))
    for r in synth_warc_files(crawl, n_files=2).collect():
        (tmp_path / f"crawl-{r['file_id']}.warc").write_bytes(
            bytes(r["content"]))
    assert read_warc(spark, str(tmp_path)).count() == 5
    pages = read_warc_pages(spark, str(tmp_path))
    assert pages.columns == ["url", "warc_ts", "html"]
    rows = pages.collect()
    assert len(rows) == len(PAGES)
    got = {r["url"]: (r["warc_ts"].strftime("%Y-%m-%d %H:%M:%S"),
                      bytes(r["html"]).decode()) for r in rows}
    want = {u: (ts, body) for u, ts, body in PAGES}
    want["https://a.test/1"] = recaptures[1][1:]
    assert got == want


def test_warc_to_pages_feeds_html_extraction(spark):
    # the whole point: WARC -> pages -> html_extract_text recovers
    # the clean text
    from ner_extractor_spark.operators.html import html_to_text
    files = synth_warc_files(_pages_df(spark), n_files=2)
    pages = warc_to_pages(parse_warc_records(files))
    assert pages.schema.simpleString().startswith(
        "struct<url:string,warc_ts:timestamp,html:binary")
    txt = {r["url"]: r["text"] for r in
           pages.select("url", html_to_text(
               F.decode("html", "UTF-8")).alias("text")).collect()}
    assert txt["https://a.test/1"] == "Hello world"
    assert "ümläute" in txt["https://b.test/2"]


def test_synth_files_deterministic_any_partitioning(spark):
    p = _pages_df(spark)
    a = {r["file_id"]: hashlib.md5(bytes(r["content"])).hexdigest()
         for r in synth_warc_files(p, n_files=2).collect()}
    b = {r["file_id"]: hashlib.md5(bytes(r["content"])).hexdigest()
         for r in synth_warc_files(p.repartition(7), n_files=2).collect()}
    assert a == b


def test_warc_feed_drives_kg_pipeline(spark, tmp_path):
    # crawl-native input end to end: gold pages -> WARC files on disk
    # -> read_warc_pages -> the KG pipeline (use_html=True)
    # produces the identical triples as feeding the pages directly
    from ner_extractor_spark import synth
    from ner_extractor_spark.plans.kg_pipeline import run_kg_pipeline
    from ner_extractor_spark.schemas import ALIASES, PAGES as PAGES_SCHEMA

    pages = spark.createDataFrame(
        synth.pages_rows(synth.gold_corpus(12)), schema=PAGES_SCHEMA)
    wdir = tmp_path / "warc"
    wdir.mkdir()
    for r in synth_warc_files(pages, n_files=2).collect():
        (wdir / f"crawl-{r['file_id']}.warc").write_bytes(
            bytes(r["content"]))
    via_warc = (read_warc_pages(spark, str(wdir))
                .withColumn("text", F.lit(None).cast("string"))
                .withColumn("lang", F.lit(None).cast("string")))
    aliases = spark.createDataFrame(synth.alias_rows(), schema=ALIASES)
    tag = synth.tagger_dictionary()
    r1 = run_kg_pipeline(spark, via_warc, aliases, tag,
                         str(tmp_path / "w1"), lang=None, use_html=True)
    r2 = run_kg_pipeline(spark, pages, aliases, tag,
                         str(tmp_path / "w2"), lang=None, use_html=True)
    t1 = sorted(map(tuple, r1.triples.collect()))
    t2 = sorted(map(tuple, r2.triples.collect()))
    assert t1 == t2 and len(t1) > 0


def test_resolve_run_args_warc_implies_html():
    import argparse
    from ner_extractor_spark.cli import resolve_run_args
    ns = argparse.Namespace(pages=None, workdir="/tmp/w", synth=None,
                            lang=None, run_id=None, use_html=None,
                            warc="/tmp/crawl")
    run = resolve_run_args(ns, {})
    assert run["warc"] == "/tmp/crawl" and run["use_html"] is True
    # config-supplied warc path works the same way
    ns2 = argparse.Namespace(pages=None, workdir=None, synth=None,
                             lang=None, run_id=None, use_html=None,
                             warc=None)
    run2 = resolve_run_args(ns2, {"paths": {"warc": "/cfg/crawl",
                                            "workdir": "/cfg/w"}})
    assert run2["warc"] == "/cfg/crawl" and run2["use_html"] is True


def test_stream_warc_incremental_kg(spark, tmp_path):
    # crawl drop-dir streaming: drain existing WARC files through the
    # incremental KG stream, then drop ONE more file and resume with
    # the same checkpoint — only the new file is processed, and the
    # union equals the all-batch run
    from ner_extractor_spark import synth
    from ner_extractor_spark.operators.extract import extract_sentences
    from ner_extractor_spark.operators.ner import tag_sentences
    from ner_extractor_spark.operators.triples import extract_triples_local
    from ner_extractor_spark.schemas import PAGES as PAGES_SCHEMA
    from ner_extractor_spark.sources.warc import stream_warc_pages
    from ner_extractor_spark.streaming.kg_stream import run_kg_stream

    pages = spark.createDataFrame(
        synth.pages_rows(synth.gold_corpus(18)), schema=PAGES_SCHEMA)
    blobs = {r["file_id"]: bytes(r["content"])
             for r in synth_warc_files(pages, n_files=3).collect()}
    wdir = tmp_path / "drop"
    wdir.mkdir()
    gaz = synth.tagger_dictionary()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    (wdir / "crawl-0.warc").write_bytes(blobs[0])
    (wdir / "crawl-1.warc").write_bytes(blobs[1])
    run_kg_stream(stream_warc_pages(spark, str(wdir)), gaz, out, ckpt,
                  lang=None, use_html=True)
    n_first = spark.read.parquet(f"{out}/triples_raw").count()

    (wdir / "crawl-2.warc").write_bytes(blobs[2])
    run_kg_stream(stream_warc_pages(spark, str(wdir)), gaz, out, ckpt,
                  lang=None, use_html=True)
    streamed = spark.read.parquet(f"{out}/triples_raw")
    batch = extract_triples_local(
        tag_sentences(extract_sentences(
            pages.withColumn("text", F.decode("html", "UTF-8")),
            lang=None), gaz))
    s = sorted(map(tuple, streamed.select(*batch.columns).collect()))
    b = sorted(map(tuple, batch.collect()))
    assert len(s) > n_first  # the third file really arrived later
    assert s == b and len(s) > 0
