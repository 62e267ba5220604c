"""Web-page text + link extraction (Arrow-vectorized, byte-identical).

The engine's primary input (per BASELINE.json ``input_hint``) is a table
of Common-Crawl-style pages ``(url, warc_ts, html: binary, text, lang)``.
This module turns pages into

* extracted plain text — the **byte-identical per url** invariant: the
  Arrow-vectorized extraction UDF must produce exactly the same bytes
  as the pinned pure-Python reference :func:`extract_text_py` (tested
  in tests/test_extract.py), and
* out-links — ``(src_url, dst_url)`` pairs, later relabeled to integer
  vertex ids via the dictionary in :mod:`combblas_spark.sources.dictionary`
  (the ReadGeneralizedTuples analogue, SpParMat.cpp:3886-3983).

Everything executes as pandas (Arrow-batched) UDFs — no row-at-a-time
Python UDFs (input_hint: "vectorized pandas/Arrow UDFs (no per-row
Python) throughout").  The extraction pipeline is a fixed, documented
rule set so it is reproducible across engines:

1. decode utf-8 (errors="replace")
2. drop <script>/<style>/<head> element bodies
3. block-level close tags and <br> become newlines
4. every remaining tag is stripped
5. the five basic HTML entities are unescaped (&amp; last)
6. horizontal whitespace collapses to single spaces, lines are
   stripped, empty lines dropped, lines joined with "\n"
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

# one rule table shared by the vectorized and reference implementations
_DROP_RE = r"(?is)<(script|style|head)\b[^>]*>.*?</\1>"
_NL_RE = r"(?i)<(?:br\s*/?|/p|/div|/h[1-6]|/li|/tr|/table|/ul|/ol)>"
_TAG_RE = r"(?s)<[^>]*>"
_WS_RE = r"[ \t\r\f\v]+"
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]
_HREF_RE = re.compile(r"""(?i)<a\s[^>]*?href\s*=\s*["']([^"'<>\s]+)["']""")


def extract_text_py(html: bytes) -> str:
    """Pinned pure-Python reference extractor (the golden semantics).

    Deliberately simple and frozen: any change breaks the byte-identical
    invariant and requires regenerating golden columns.
    """
    s = html.decode("utf-8", errors="replace")
    s = re.sub(_DROP_RE, "", s)
    s = re.sub(_NL_RE, "\n", s)
    s = re.sub(_TAG_RE, "", s)
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    s = re.sub(_WS_RE, " ", s)
    lines = [ln.strip() for ln in s.split("\n")]
    return "\n".join(ln for ln in lines if ln)


def _extract_text_batch(html: pd.Series) -> pd.Series:
    """Arrow-batch implementation over pandas' C string kernels."""
    s = html.map(lambda b: b.decode("utf-8", errors="replace"))
    s = s.str.replace(_DROP_RE, "", regex=True)
    s = s.str.replace(_NL_RE, "\n", regex=True)
    s = s.str.replace(_TAG_RE, "", regex=True)
    for ent, ch in _ENTITIES:
        s = s.str.replace(ent, ch, regex=False)
    s = s.str.replace(_WS_RE, " ", regex=True)
    return s.str.split("\n").map(
        lambda lines: "\n".join(ln for ln in (l.strip() for l in lines) if ln)
    )


@F.pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    return _extract_text_batch(html)


@F.pandas_udf(ArrayType(StringType()))
def extract_hrefs(html: pd.Series) -> pd.Series:
    s = html.map(lambda b: b.decode("utf-8", errors="replace"))
    return s.map(_HREF_RE.findall)


def page_links(pages: DataFrame) -> DataFrame:
    """(src_url, dst_url) link pairs — the DistEdgeList-by-url stage.

    ``explode`` keeps this fully distributed; dedup happens later when
    the edge list is collapsed to a weighted adjacency (Graph ctor).
    """
    return pages.select(
        F.col("url").alias("src_url"),
        F.explode(extract_hrefs(F.col("html"))).alias("dst_url"),
    )


_ANCHOR_RE = re.compile(
    r"""(?is)<a\s[^>]*?href\s*=\s*["']([^"'<>\s]+)["'][^>]*>([^<]*)</a>"""
)

_ANCHOR_SCHEMA = "src_url string, dst_url string, anchor string"


def extract_anchor_rows(pages: DataFrame) -> DataFrame:
    """(src_url, dst_url, anchor) rows — links WITH their anchor text.

    The input to an anchor-text index (the classic web-search corpus
    product: what the web calls a page).  Arrow-batched ``mapInPandas``
    emitting the exploded rows directly, so the nested list<struct>
    type never materializes; per batch the only Python work is one
    compiled findall per page.
    """

    def gen(batches):
        for b in batches:
            urls, hrefs, anchors = [], [], []
            for url, html in zip(b["url"], b["html"]):
                for href, text in _ANCHOR_RE.findall(
                    html.decode("utf-8", errors="replace")
                ):
                    urls.append(url)
                    hrefs.append(href)
                    anchors.append(text.strip())
            yield pd.DataFrame(
                {"src_url": urls, "dst_url": hrefs, "anchor": anchors}
            )

    return pages.select("url", "html").mapInPandas(gen, _ANCHOR_SCHEMA)


def anchor_index(pages: DataFrame) -> DataFrame:
    """Per-target anchor-text summary over the extracted link stream.

    For each link target: in-link count, distinct anchor-term count,
    and the dominant anchor term (argmax by count, ties broken on the
    term — deterministic).  Term counting is one map-side-combined
    groupBy on (dst_url, term); the argmax is a window keyed on
    dst_url — high cardinality, no skew beyond the in-degree
    distribution itself (a hub's terms still hash across partitions
    during the count; only the final per-target rank sees the hub's
    DISTINCT terms, already aggregated).
    """
    from pyspark.sql import Window

    terms = extract_anchor_rows(pages).select(
        "dst_url",
        F.explode(F.split(F.lower("anchor"), " ")).alias("term"),
    )
    counts = terms.groupBy("dst_url", "term").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("dst_url").orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    per_target = counts.groupBy("dst_url").agg(
        F.countDistinct("term").alias("n_terms"),
        F.sum("cnt").alias("n_anchor_terms"),
    )
    top = (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("dst_url", F.col("term").alias("top_term"))
    )
    return per_target.join(top, "dst_url")
