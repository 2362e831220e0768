"""``cli kg`` end to end, in-process on the test session: a WARC feed
with no ``--lang`` extracts triples, an empty run exits non-zero, and
``--pages`` keeps one capture per url."""

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from ner_extractor_spark import cli, synth
from ner_extractor_spark.operators.extract import extract_sentences
from ner_extractor_spark.schemas import PAGES
from ner_extractor_spark.sources.pages import latest_capture
from ner_extractor_spark.sources.warc import synth_warc_files


@pytest.fixture
def run_cli(spark, monkeypatch, capsys):
    """``cli.main(argv)`` on the session fixture (never stopped);
    returns the JSON summary it prints."""
    import ner_extractor_spark.session as session
    monkeypatch.setattr(session, "get_spark", lambda **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    def run(*argv):
        cli.main(["kg", *argv])
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    return run


def _pages(spark, n=12):
    return spark.createDataFrame(synth.pages_rows(synth.gold_corpus(n)),
                                 schema=PAGES)


def test_warc_without_lang_extracts_triples(spark, run_cli, tmp_path):
    wdir = tmp_path / "warc"
    wdir.mkdir()
    for r in synth_warc_files(_pages(spark).select("url", "warc_ts", "html"),
                              n_files=2).collect():
        (wdir / f"crawl-{r['file_id']}.warc").write_bytes(bytes(r["content"]))
    out = run_cli("--warc", str(wdir), "--workdir", str(tmp_path / "wd"))
    assert out["sentences"] > 0 and out["triples"] > 0


def test_no_page_passes_lang_filter_exits_nonzero(run_cli, tmp_path):
    with pytest.raises(SystemExit) as e:
        run_cli("--synth", "4", "--lang", "zz",
                "--workdir", str(tmp_path / "wd"))
    assert e.value.code not in (0, None)
    assert "--lang zz" in str(e.value.code)


def test_pages_repeated_url_keeps_latest_capture(spark, run_cli, tmp_path):
    pages = _pages(spark)
    url = pages.filter(F.col("lang") == "en").first()["url"]
    # an older capture of the first url, with text of its own
    old = spark.createDataFrame(
        [(url, datetime(2000, 1, 1), None, "Old words about nothing .",
          "en")], schema=PAGES)
    pages.unionByName(old).write.parquet(str(tmp_path / "pages"))
    wd = tmp_path / "wd"
    run_cli("--pages", str(tmp_path / "pages"), "--workdir", str(wd))

    def rows(df):
        return sorted(map(tuple, df.filter(F.col("url") == url)
                          .select("url", "sent_id", "tokens").collect()))
    got = rows(spark.read.parquet(str(wd / "sentences")))
    want = rows(extract_sentences(pages, lang="en"))
    assert want and got == want


def test_latest_capture_rule(spark):
    t1, t2 = datetime(2024, 1, 1), datetime(2024, 6, 1)
    pages = spark.createDataFrame([
        ("u1", t1, b"<p>zz</p>", None, None),
        ("u1", t2, b"<p>a</p>", None, None),     # latest wins
        ("u2", t2, b"<p>a</p>", None, None),
        ("u2", t2, b"<p>b</p>", None, None),     # tie: larger html wins
        ("u3", t1, None, "only", "en"),
    ], schema=PAGES)
    got = latest_capture(pages)
    assert got.columns == pages.columns
    assert sorted(map(tuple, got.collect())) == [
        ("u1", t2, bytearray(b"<p>a</p>"), None, None),
        ("u2", t2, bytearray(b"<p>b</p>"), None, None),
        ("u3", t1, None, "only", "en")]
