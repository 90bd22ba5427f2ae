"""The lane runner (webx/lane.py): row fan-out, passthrough, fail-soft."""

from __future__ import annotations

import pandas as pd
import pytest

from webx.config import ExtractConfig
from webx.extract import extract_row
from webx.lane import apply_rows, map_lane
from webx.schema import extracted_schema

NUL_LABEL_PAGE = b'<meta charset="a\x00b"><p>x</p>'
PAGE = b"<html><body><p>" + b"plain prose words for the detector " * 4 + b"</p></body></html>"


def test_apply_rows_fans_out_and_repeats_passthrough():
    pdf = pd.DataFrame({"k": ["a", "b", "c"], "n": [2, 0, 1], "p": [10, 20, 30]})

    def row(k, n):
        return [(k, i) for i in range(n)]

    out = apply_rows(pdf, row, ("k", "i"), ("k", "n"), ("p",))
    assert out.to_dict("list") == {
        "k": ["a", "a", "c"], "i": [0, 1, 0], "p": [10, 10, 30]
    }
    empty = apply_rows(pdf.head(0), row, ("k", "i"), ("k", "n"), ("p",))
    assert list(empty.columns) == ["k", "i", "p"] and len(empty) == 0


def test_apply_rows_fail_soft_only_with_status():
    pdf = pd.DataFrame({"url": ["u", "bad"], "html": [PAGE, PAGE], "p": [1, 2]})

    def row(url, html):
        if url == "bad":
            raise ValueError("poison row")
        return extract_row(ExtractConfig(), url, html)

    cols = extracted_schema().fieldNames()
    out = apply_rows(pdf, row, cols, ("url", "html"), ("p",))
    assert out["url"].tolist() == ["u", "bad"] and out["p"].tolist() == [1, 2]
    assert out["status"].tolist() == ["ok", "error"]
    # the error row is the lane's empty-input row for that url
    empty = extract_row(ExtractConfig(), None, None)[0]
    assert tuple(out.iloc[1][cols]) == ("bad", *empty[1:4], "error", empty[5])

    def fanout(url, html):
        if url == "bad":
            raise ValueError("poison row")
        return ((url, len(html)),)

    with pytest.raises(ValueError, match="poison row"):
        apply_rows(pdf, fanout, ("url", "n"), ("url", "html"))


def test_map_lane_isolates_a_raising_row(spark):
    """A row function that raises on one url: the 2-row job returns both
    rows, that one with status='error'."""
    pages = spark.createDataFrame(
        [("good", bytearray(PAGE)), ("poison", bytearray(PAGE))],
        "url string, html binary",
    )

    def row(url, html):
        if url == "poison":
            raise RuntimeError("lane bug on one row")
        return extract_row(ExtractConfig(), url, html)

    rows = {
        r["url"]: r["status"]
        for r in map_lane(pages, row, extracted_schema(), ("url", "html")).collect()
    }
    assert rows == {"good": "ok", "poison": "error"}


def test_nul_charset_label_page_extracts(spark):
    """The 33-byte page whose <meta charset> label holds a NUL byte
    comes back as a row in a 2-row run_extraction job."""
    from webx.pipeline import run_extraction

    pages = spark.createDataFrame(
        [("nul", bytearray(NUL_LABEL_PAGE)), ("plain", bytearray(PAGE))],
        "url string, html binary",
    )
    rows = {r["url"]: r for r in run_extraction(pages).collect()}
    assert set(rows) == {"nul", "plain"}
    assert rows["nul"]["status"] == "ok" and rows["nul"]["meta"]["charset"] == "utf-8"
    assert rows["plain"]["status"] == "ok" and rows["plain"]["text"]


def test_whatwg_label_resolution():
    from webx.charset import normalize_charset_name

    assert normalize_charset_name(" \tLatin1\n") == "cp1252"
    assert normalize_charset_name("UTF-8") == "utf-8"
    for label in ("a\x00b", "true", "windows-1252.", "not-a-codec-xx", "utf_8", ""):
        assert normalize_charset_name(label) is None
