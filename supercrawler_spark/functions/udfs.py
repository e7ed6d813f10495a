"""Vectorized pandas/Arrow UDFs — the engine's only Python-side operators.

Everything else in the engine is built-in ``pyspark.sql.functions`` (JVM,
whole-stage codegen). These UDFs wrap the executable extraction spec
(``supercrawler_spark.refspec``) per the reference's kernel:

  - make_round_udf : a crawl round's whole per-page work — html/pdf → mdx
                     [X5/S3, src/supercrawler.rs:347-500,627-633], links
                     [X6, rs:736-757] canonicalized [F4, rs:1241-1252] with
                     their host [F8], doc key [X7, rs:527-562]
  - make_canonical_host : seed url → (canonical url, host) [F4+F8]
  - extract_page   : html → (mdx, raw links[]) — the kernel alone
  - canonicalize, doc_key, extract_anchors_udf

Each Arrow UDF evaluation costs a fixed slice of Python worker CPU per task
whatever its row count, so a crawl round, and the seed step, cross into
Python exactly once.

URL hashing deliberately has NO UDF: the engine uses the built-in
``F.xxhash64`` (JVM-side; the Python mirror in functions/hashing.py exists
for the oracle/generator only).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from supercrawler_spark import refspec
from supercrawler_spark.functions import urls as _urls

PAGE_STRUCT = StructType([
    StructField("mdx", StringType()),
    StructField("links", ArrayType(StringType())),
])

URL_HOST = StructType([
    StructField("url", StringType()),
    StructField("host", StringType()),
])

LINKS = ArrayType(URL_HOST)

ROUND_STRUCT = StructType([
    StructField("mdx", StringType()),
    StructField("doc_key", StringType()),
    StructField("out", LINKS),
])


def _decode_html(raw) -> str:
    # S2: resp.text_with_charset("utf-8") — lossy UTF-8 decode
    # (src/supercrawler.rs:732); None ≙ fetch failure
    if raw is None:
        return ""
    if isinstance(raw, (bytes, bytearray)):
        return bytes(raw).decode("utf-8", errors="replace")
    return str(raw)


@pandas_udf(PAGE_STRUCT)
def extract_page(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    """HTML binary → (mdx, links) for the canonical engine variant. The
    reference parses twice (clean_to_mdx after noise strip, link extraction
    over raw — rs:734 vs rs:738); ``refspec.extract_page_fields`` keeps
    that structure but shares ONE parse when the noise strip is a no-op
    (byte-identical by construction — the MDX walk never mutates the
    tree)."""
    mdx_out: list[str | None] = []
    links_out: list[list[str] | None] = []
    for u, h in zip(url, html):
        if h is None:
            mdx_out.append(None)   # F7/E4: missing page ≙ failed fetch
            links_out.append(None)
            continue
        mdx, links = refspec.extract_page_fields(_decode_html(h), u)
        mdx_out.append(mdx)
        links_out.append(links)
    return pd.DataFrame({"mdx": mdx_out, "links": links_out})


def _canon_host(url: str, strip_tracking: bool):
    """F4+F8: (canonical url, its host); (None, None) when the url does not
    canonicalize (F13)."""
    c = _urls.canonicalize_url(url, strip_tracking=strip_tracking)
    return c, (None if c is None else _urls.url_host(c))


def _canonical_links(links: list[str], strip_tracking: bool) -> list[dict]:
    """Canonical (url, host) per link in document order, dropping links
    that do not canonicalize."""
    return [{"url": c, "host": h} for c, h in
            (_canon_host(link, strip_tracking) for link in links)
            if c is not None]


def _pdf_mdx(url: str, raw) -> str | None:
    try:
        return refspec.pdf_to_mdx(url, refspec.extract_pdf_text(bytes(raw)))
    except Exception:
        return None  # E4: per-URL failure isolation


def make_round_udf(variant: str = "supercrawler",
                   strip_tracking: bool = True):
    """(url, html, content_type, expand) → (mdx, doc_key, out) for an
    engine variant. F5 dispatch, application/pdf first
    (src/supercrawler.rs:717-730): a null html (failed fetch) or a content
    type that is neither pdf nor html gives all nulls; pdf gives its mdx
    and no links; html runs the kernel, and with ``expand`` (F10: depth <
    crawl_depth) puts its canonical links in ``out`` — without it F10
    would drop them, so ``clean_to_mdx`` skips the link walk and ``out``
    is null. ``doc_key`` is set wherever mdx is."""
    @pandas_udf(ROUND_STRUCT)
    def extract_round(url: pd.Series, html: pd.Series,
                      content_type: pd.Series,
                      expand: pd.Series) -> pd.DataFrame:
        mdx_out: list[str | None] = []
        key_out: list[str | None] = []
        links_out: list[list[dict] | None] = []
        for u, h, ct, ex in zip(url, html, content_type, expand):
            mdx = links = None
            if h is None or ct is None:
                pass                    # failed fetch, or an unknown type
            elif "application/pdf" in ct:
                mdx = _pdf_mdx(u, h)
            elif "text/html" in ct:
                text = _decode_html(h)
                if ex:
                    mdx, raw_links = refspec.extract_page_fields(
                        text, u, variant=variant)
                    links = _canonical_links(raw_links, strip_tracking)
                else:
                    mdx = refspec.clean_to_mdx(text, u, variant)
            mdx_out.append(mdx)
            key_out.append(None if mdx is None
                           else refspec.url_to_filename(u))
            links_out.append(links)
        return pd.DataFrame({"mdx": mdx_out, "doc_key": key_out,
                             "out": links_out})
    return extract_round


def make_canonical_host(strip_tracking: bool = True):
    """Seed url → (canonical url, its host); both null for an invalid
    url (F13)."""
    @pandas_udf(URL_HOST)
    def canonical_host(url: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [(None, None) if u is None else _canon_host(u, strip_tracking)
             for u in url], columns=["url", "host"])
    return canonical_host


ANCHOR_STRUCT = ArrayType(StructType([
    StructField("href", StringType()),
    StructField("anchor", StringType()),
]))


@pandas_udf(ANCHOR_STRUCT)
def extract_anchors_udf(url: pd.Series, html: pd.Series) -> pd.Series:
    """(href, anchor text) pairs per page — extract_links plus the anchor
    text content (refspec.extract_anchors)."""
    return pd.Series([
        None if h is None
        else [{"href": a, "anchor": t}
              for a, t in refspec.extract_anchors(_decode_html(h), u)]
        for u, h in zip(url, html)
    ])


def make_canonicalize(strip_tracking: bool = True):
    @pandas_udf(StringType())
    def canonicalize(url: pd.Series) -> pd.Series:
        return url.map(
            lambda u: None if u is None
            else _urls.canonicalize_url(u, strip_tracking=strip_tracking)
        )
    return canonicalize


canonicalize_url_udf = make_canonicalize(True)


@pandas_udf(StringType())
def doc_key(url: pd.Series) -> pd.Series:
    return url.map(lambda u: None if u is None else refspec.url_to_filename(u))


def url_hash_col(col):
    """JVM-side URL hash (no Python): xxhash64 over the canonical url."""
    return F.xxhash64(col)


def bucket_col(col, num_buckets: int):
    """JVM-side bucket id: pmod(xxhash64(url), B) — matches
    hashing.url_bucket used by the generator/oracle."""
    return F.pmod(F.xxhash64(col), F.lit(num_buckets)).cast("int")
