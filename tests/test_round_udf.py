"""The crawl round's one Python pass (udfs.make_round_udf): per golden
fixture, with and without link expansion, in both engine variants, the mdx
must be byte-identical to the golden and ``out`` must be the golden links
canonicalized with their hosts; pdf, other, null-content-type and
null-html rows follow the engine's content-type dispatch."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from supercrawler_spark import refspec
from supercrawler_spark.functions import udfs
from supercrawler_spark.functions.urls import canonicalize_url, url_host
from tests.test_pdf_extract import CONTENT, _tiny_pdf

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
URL = "https://fixtures.example.com/page"
NAMES = sorted(os.path.basename(p)[:-5] for p in glob.glob(f"{FIX}/*.html"))
VARIANTS = ("supercrawler", "main")
# the main variant keeps loose container text of any length (src/main.rs)
MAIN_DIFFERS = {"container_loose_text"}
PDF_URL = "https://fixtures.example.com/files/doc.pdf"
SPECIAL = [
    ("pdf", PDF_URL, _tiny_pdf(CONTENT), "application/pdf"),
    # pdf wins over html (src/supercrawler.rs:717-730)
    ("pdf_and_html", PDF_URL, _tiny_pdf(CONTENT),
     "text/html, application/pdf"),
    ("bad_pdf", PDF_URL, b"%PDF-1.4 no streams here", "application/pdf"),
    ("other", URL, b"<html><body><a href='/x'>x</a></body></html>",
     "image/png"),
    ("null_ct", URL, b"<html><body><a href='/x'>x</a></body></html>", None),
    ("null_html", URL, None, "text/html"),
]


def _read(name, ext):
    with open(f"{FIX}/{name}.{ext}") as f:
        return f.read()


@pytest.fixture(scope="module")
def rounds(spark):
    """{(variant, name, expand): (mdx, doc_key, out)} in one Spark job per
    variant."""
    rows = [(name, URL, _read(name, "html").encode(), "text/html", ex)
            for name in NAMES for ex in (False, True)]
    rows += [(n, u, h, ct, ex) for n, u, h, ct in SPECIAL
             for ex in (False, True)]
    df = spark.createDataFrame(
        rows, "name string, url string, html binary, content_type string, "
              "expand boolean")
    got = {}
    for variant in VARIANTS:
        fn = udfs.make_round_udf(variant, True)
        for r in df.select("name", "expand",
                           fn("url", "html", "content_type", "expand")
                           .alias("p")).collect():
            out = None if r["p"]["out"] is None else \
                [(o["url"], o["host"]) for o in r["p"]["out"]]
            got[(variant, r["name"], r["expand"])] = (
                r["p"]["mdx"], r["p"]["doc_key"], out)
    return got


@pytest.mark.parametrize("variant", VARIANTS)
@pytest.mark.parametrize("expand", [False, True])
@pytest.mark.parametrize("name", NAMES)
def test_round_udf_matches_goldens(rounds, name, expand, variant):
    mdx, key, out = rounds[(variant, name, expand)]
    html = _read(name, "html")
    if variant == "main" and name in MAIN_DIFFERS:
        golden = refspec.clean_to_mdx(html, URL, "main")
        assert golden != _read(name, "golden.mdx")
    else:
        golden = _read(name, "golden.mdx")
    assert mdx == golden
    assert key == refspec.url_to_filename(URL)
    if not expand:
        assert out is None
        return
    links = _read(name, "golden.links")
    canon = [canonicalize_url(link) for link in
             (links.split("\n") if links else [])]
    assert out == [(c, url_host(c)) for c in canon if c is not None]


@pytest.mark.parametrize("expand", [False, True])
def test_round_udf_dispatch(rounds, expand):
    pdf_mdx = refspec.pdf_to_mdx(
        PDF_URL, refspec.extract_pdf_text(_tiny_pdf(CONTENT)))
    for variant in VARIANTS:
        for name in ("pdf", "pdf_and_html"):
            assert rounds[(variant, name, expand)] == (
                pdf_mdx, refspec.url_to_filename(PDF_URL), None), name
        for name in ("bad_pdf", "other", "null_ct", "null_html"):
            assert rounds[(variant, name, expand)] == (None, None, None), \
                name


def test_round_udf_strip_tracking(spark):
    html = (b"<html><body><a href='/p?utm_source=x&id=1#frag'>p</a>"
            b"<a href='https://other.example.com/'>o</a></body></html>")
    df = spark.createDataFrame([(URL, html)], "url string, html binary")
    got = {}
    for strip in (True, False):
        fn = udfs.make_round_udf("supercrawler", strip)
        r = df.select(fn("url", "html", F.lit("text/html"), F.lit(True))
                      .alias("p")).collect()[0]
        got[strip] = [(o["url"], o["host"]) for o in r["p"]["out"]]
    assert got[True] == [("https://fixtures.example.com/p?id=1",
                          "fixtures.example.com"),
                         ("https://other.example.com/", "other.example.com")]
    assert got[False][0] == ("https://fixtures.example.com/p?utm_source=x&id=1",
                             "fixtures.example.com")


def test_canonical_links_drop_invalid_keep_order():
    got = udfs._canonical_links(
        ["https://b.example.com/2", "http://[bad", "https://A.example.com/1#x"],
        True)
    assert got == [{"url": "https://b.example.com/2", "host": "b.example.com"},
                   {"url": "https://a.example.com/1", "host": "a.example.com"}]


def test_canonical_host_seed_udf(spark):
    df = spark.createDataFrame(
        [("https://H.example.com/a?utm_medium=m#f",), ("http://[bad",),
         (None,)], "url string")
    got = [tuple(r["c"]) if r["c"] is not None else None for r in
           df.select(udfs.make_canonical_host(True)("url").alias("c"))
           .collect()]
    assert got == [("https://h.example.com/a", "h.example.com"),
                   (None, None), (None, None)]


def test_one_python_pass_per_round(spark, corpus_sf0001, tmp_path,
                                   monkeypatch):
    """Every parquet write of a crawl records its physical plan: the seed
    step and each round evaluate at most one Arrow UDF in total."""
    from pyspark.sql import DataFrameWriter

    from supercrawler_spark.crawler import CrawlConfig, crawl
    from supercrawler_spark.sources.synth import load_tables

    pages, seeds, _ = load_tables(spark, corpus_sf0001)
    evals: dict[str, int] = {}
    write = DataFrameWriter.parquet

    def recording(self, path, *args, **kwargs):
        plan = self._df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        step = os.path.relpath(path, tmp_path).split(os.sep)[0]
        evals[step] = evals.get(step, 0) + plan.count("ArrowEvalPython")
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    res = crawl(spark, pages, seeds, CrawlConfig(crawl_depth=2, num_buckets=8),
                store_dir=str(tmp_path))
    assert res.rounds_run == 3
    assert set(evals) == {"init", "round=0000", "round=0001", "round=0002"}
    assert all(n <= 1 for n in evals.values()), evals
    assert evals["init"] == 1 and evals["round=0000"] == 1, evals
