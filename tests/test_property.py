"""Property tests (hypothesis): the pipeline must never crash and must
hold its byte-offset invariants on ARBITRARY byte input — the
``validate_det_res`` invariant family (SURVEY §5) under fuzz."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from webx.charset import decode_bytes, normalize_input_bytes, sniff_charset
from webx.config import ExtractConfig
from webx.extract import extract_batch
from webx.recognize import decode_span
from webx.tokenize import tokenize

CFG = ExtractConfig(min_span_chars=1, min_block_chars=1)

# arbitrary bytes, plus html-ish fragments to hit tag paths
tag_soup = st.lists(
    st.sampled_from(
        [b"<p>", b"</p>", b"<div>", b"</div>", b"<a href='/x'>", b"</a>",
         b"<script>", b"</script>", b"<!--", b"-->", b"<nav>", b"</nav>",
         b"<h1>", b"</h1>", b"text here", b"&amp;", b"&#65;", b" \t\n",
         b"<![CDATA[", b"]]>", b"<br/>", b'<p data-x="a>b">', b"\xff\xfe",
         b"caf\xc3\xa9", b"<meta charset=gbk>", b"<", b'<meta charset="a\x00b">']
    ),
    max_size=30,
).map(b"".join)
raw_bytes = st.binary(max_size=400)
html_like = st.one_of(raw_bytes, tag_soup)


@settings(max_examples=150, deadline=None)
@given(html_like)
def test_tokenize_invariants(html):
    blocks = tokenize(html)
    prev_end = 0
    for b in blocks:
        # offsets in bounds, ordered, non-overlapping, trimmed, non-empty text
        assert 0 <= b.start < b.end <= len(html)
        assert b.start >= prev_end
        prev_end = b.end
        seg = html[b.start : b.end]
        assert seg == seg.strip(b" \t\r\n\f\v")
        assert b.tlen > 0
        assert 0 <= b.link_tlen <= b.tlen


NUL_LABEL_PAGE = b'<meta charset="a\x00b"><p>x</p>'  # label with a NUL byte


@settings(max_examples=150, deadline=None)
@given(html_like)
@example(b"\xff\xfe<p><p>")  # UTF-16 BOM page whose UTF-8 transcode is LONGER than the input
@example(NUL_LABEL_PAGE)
def test_extract_never_crashes_and_spans_valid(html):
    out = extract_batch(pd.DataFrame({"url": ["u"], "html": [html]}), CFG)
    row = out.iloc[0]
    assert row["status"] in ("ok", "charset_fallback", "empty")
    # span offsets index the NORMALIZED buffer (BOM strip / UTF-16
    # transcode happen before the byte lexer — webx/charset.py
    # normalize_input_bytes), which can differ in length from the input
    norm = normalize_input_bytes(bytes(html))
    prev_end = 0
    for s in row["spans"]:
        assert 0 <= s["start"] < s["end"] <= len(norm)
        assert s["start"] >= prev_end
        prev_end = s["end"]
        assert s["text"]
    assert isinstance(row["text"], str)


def _html_lanes():
    from webx.comments import split_comments_batch
    from webx.extract import detect_batch, interleave_batch
    from webx.markdown import render_markdown_batch
    from webx.route import _routed_batch
    from webx.tables import tables_batch

    return {
        "extract": extract_batch, "detect": detect_batch,
        "interleave": interleave_batch, "tables": tables_batch,
        "markdown": render_markdown_batch, "comments": split_comments_batch,
        "router": lambda pdf, cfg: _routed_batch(
            pdf.rename(columns={"html": "payload"}), cfg
        ),
    }


@pytest.mark.parametrize("mode", ["auto", "off"])
@pytest.mark.parametrize("lane", sorted(_html_lanes()))
@settings(max_examples=40, deadline=None)
@given(html=html_like)
@example(html=NUL_LABEL_PAGE)
def test_html_lane_total(lane, mode, html):
    """Every HTML lane's batch function returns a frame on any bytes,
    under both kernel modes, and no row of it is a caught error."""
    cfg = ExtractConfig(min_span_chars=1, min_block_chars=1, ckernels=mode)
    out = _html_lanes()[lane](pd.DataFrame({"url": ["u"], "html": [html]}), cfg)
    assert isinstance(out, pd.DataFrame)
    assert set(out["url"]) <= {"u"}
    if "status" in out.columns:
        assert "error" not in set(out["status"])


@settings(max_examples=150, deadline=None)
@given(html_like)
def test_extract_deterministic(html):
    pdf = pd.DataFrame({"url": ["u"], "html": [html]})
    a = extract_batch(pdf, CFG).iloc[0]
    b = extract_batch(pdf, CFG).iloc[0]
    assert a["text"] == b["text"] and a["spans"] == b["spans"]


@settings(max_examples=100, deadline=None)
@given(raw_bytes, st.sampled_from(["utf-8", "latin-1", "gbk", "nope-codec"]))
def test_decode_total_functions(raw, charset):
    text, status, codec = decode_bytes(raw, charset)
    assert isinstance(text, str) and status in ("ok", "charset_fallback")
    assert isinstance(decode_span(raw, charset), str)
    assert isinstance(sniff_charset(raw), str)


@settings(max_examples=100, deadline=None)
@given(html_like)
def test_extract_anchors_never_crashes_and_pairs_align(html):
    """The anchor regex path must fail soft on arbitrary bytes, and the
    two aligned regex passes must produce equal-length arrays (pairing
    by construction)."""
    import pandas as pd  # noqa: F401  (spark fixture not needed: local relation)

    from webx.urls import extract_anchors

    spark = _anchor_spark()
    pages = spark.createDataFrame(
        [("https://h0.example.com/d/p", bytearray(html))],
        "url string, html binary",
    )
    rows = extract_anchors(pages).collect()
    for r in rows:
        assert r["href"] is not None
        assert r["anchor"] is not None  # may be '' for empty inner text


def _anchor_spark():
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[2]"
    ).getOrCreate()


@settings(max_examples=25, deadline=None)
@given(html_like)
def test_new_mining_lanes_never_crash(html):
    """Every codegen mining lane added this round must be total on
    arbitrary bytes: base resolution, captions, srcset, media, code,
    math, canonical/refresh, pagination, feeds, hreflang, templates —
    no exceptions, schema-stable rows, and the documented non-null
    contracts hold."""
    from webx.metadata import code_blocks, math_spans
    from webx.urls import (
        feed_links,
        hreflang_alternates,
        image_captions,
        image_srcset_best,
        media_sources,
        meta_refresh_target,
        pagination_links,
        rel_canonical,
        url_path_template,
        url_trap_signals,
    )
    from pyspark.sql import functions as SF

    spark = _anchor_spark()
    pages = spark.createDataFrame(
        [("https://h0.example.com/d/p", bytearray(html))],
        "url string, html binary",
    )
    for r in image_captions(pages, require_alt=False).collect():
        assert r["img_url"] is not None
    for r in image_srcset_best(pages).collect():
        assert r["best_src"] is not None
    for r in media_sources(pages).collect():
        assert r["media_url"] is not None and r["tag"] in ("video", "audio", "source")
    for r in hreflang_alternates(pages).collect():
        assert r["hreflang"] and r["alt_url"] is not None
    for r in feed_links(pages).collect():
        assert r["feed_kind"] in ("rss", "atom") and r["feed_url"] is not None
    row = meta_refresh_target(rel_canonical(pagination_links(pages))).collect()[0]
    assert row["canonical"] is not None and row["refresh_url"] is not None
    assert row["next_url"] is not None and row["prev_url"] is not None
    for r in code_blocks(pages).collect():
        assert r["code"] != "" and r["n_lines"] >= 1
    for r in math_spans(pages).collect():
        assert r["kind"] in ("mathml", "display", "inline", "bracket")
    t = pages.select(url_path_template(SF.col("url")).alias("t")).collect()[0]["t"]
    assert t.startswith("/")
    assert url_trap_signals(pages).collect()[0]["is_trap"] is not None


# invisible-char fragments woven between tag soup: the normalize policy
# (webx/recognize.py _INVIS_RE) must hold on ARBITRARY placements —
# inside words, as entity forms, straddling block boundaries, adjacent
# to kept joiners — never leaking a stripped code point into output.
_invis_soup = st.lists(
    st.sampled_from(
        [b"<p>", b"</p>", b"<div>", b"</div>", b"<h1>", b"</h1>",
         b"word", b" plain text ", b"&shy;", b"&#173;", b"&#8203;",
         "­".encode(), "​".encode(), "‎".encode(),
         "‫".encode(), "‬".encode(), "⁠".encode(),
         "⁦".encode(), "⁩".encode(), "﻿".encode(),
         "‌".encode(), "‍".encode(),  # KEPT joiners
         "caf\xe9".encode(), b"<!--", b"-->", b" \t\n"]
    ),
    max_size=40,
).map(b"".join)

_STRIPPED = set("­​‎‏‪‫‬‭"
                "‮⁠⁦⁧⁨⁩﻿")


@settings(max_examples=150, deadline=None)
@given(_invis_soup)
def test_invisible_chars_never_reach_output(html):
    out = extract_batch(pd.DataFrame({"url": ["u"], "html": [html]}), CFG)
    text = out.iloc[0]["text"]
    assert not (_STRIPPED & set(text)), [hex(ord(c)) for c in set(text) & _STRIPPED]
