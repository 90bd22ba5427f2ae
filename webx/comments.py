"""Comment separation — main text vs user-comment text, per document.

The flagship extractor KEEPS user comments inline (reviewed policy,
fixtures 43/49: genuine human text is corpus content). But corpus
builders want the knob: comments are a different register, often a
different quality band, and common pipelines (trafilatura's
``comments`` output field) surface them separately so downstream
filtering can include, exclude, or reweight them. This lane does the
same split WITHOUT changing the flagship contract:

* comment REGIONS are byte ranges of container elements
  (div/section/ol/ul/aside/article) whose ``class``/``id`` tokens hit
  the comment vocabulary (``comment(s)``, ``review(s)``,
  ``discussion``, ``replies``, ``responses``) — the same sequential
  attribute parse as the boilerplate hints (webx/tokenize.py
  class_hint_boiler: value-trap-proof, no regex over attr soup),
  with DEPTH TRACKING on the container tag so nested same-name
  elements (a comments section full of ``<div class="comment">``)
  close at the matching tag, not the first one; comment/CDATA and
  script/style/textarea islands hide opens, closes and depth changes
  (lexer precedence).
* stage 1 + stage 2 run EXACTLY as the flagship; each surviving span
  is then PARTITIONED against the regions by byte intersection (the
  decode_span_pre shape): outside parts decode into ``text``, inside
  parts into ``comment_text``. A span straddling the region boundary
  contributes to both, split at the boundary — span granularity never
  leaks chrome into either stream.

FROZEN: nested comment regions coalesce into the outermost range;
unclosed containers run to EOF; self-closed opens create no region.
Every part (main OR comment) decodes through the flagship's dispatch —
``<xmp>``/``<plaintext>`` rawkept literal decode, ``<pre>``/``<listing>``
whitespace preservation, else the collapse path — so on any span that
does NOT straddle a comment region (one part = the whole span) the
``text`` stream is byte-identical to the flagship, including rawkept
and pre pages. A straddling span partitions at region boundaries and
each part decodes by the same rules.

Scale shape: same narrow plan as run_extraction — pruned (url, html)
scan, one Arrow mapInPandas, no shuffle; the region scan runs only on
documents whose bytes probe positive for the vocabulary.
"""

from __future__ import annotations

import re
import unicodedata as _unicodedata
from functools import partial
from typing import List, Optional, Tuple

import pandas as pd
from pyspark.sql import types as T

from webx.charset import normalize_input_bytes, sniff_charset
from webx.config import ExtractConfig
from webx.extract import _extract_doc_stage1, resolve_strip
from webx.lane import apply_rows, map_lane
from webx.recognize import (
    decode_span_pre,
    decode_span_rawkept,
    decode_stripped,
    has_rawkept,
    pre_regions,
    strip_markup,
)

COMMENT_TOKENS = frozenset(
    b"comment comments review reviews discussion replies responses".split()
)
# The okMaybeItsACandidate override, same as the boilerplate hints
# (webx/tokenize.py POS_CLASS_TOKENS): an EDITORIAL review is main
# content — class="movie-review article" must not route to comments.
POS_TOKENS = frozenset(
    b"article body column content entry main post story".split()
)

_CONTAINERS = b"div|section|ol|ul|aside|article"
# cheap per-document probe: any vocabulary word at all
_PROBE_RE = re.compile(
    rb"comment|review|discussion|replies|responses", re.I
)
_ISLANDS = (
    rb"<!--.*?(?:--\s*>|\Z)|<!\[CDATA\[.*?\]\]>"
    rb"|<(script|style|textarea|iframe|template)(?:\s[^>]*)?>.*?</\1(?:\s[^>]*)?>"
)
_OPEN_RE = re.compile(
    _ISLANDS
    + rb"|<(" + _CONTAINERS + rb")((?:[\s/](?:[^>\"']|\"[^\"]*\"|'[^']*')*)?)>",
    re.I | re.S,
)

_WS_SET = frozenset(b" \t\r\n\f\v")
_NAME_STOP = frozenset(b" \t\r\n\f\v=/\"'")
_ALNUM = frozenset(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
)


def _hits_comment_vocab(attrs: bytes) -> bool:
    """class/id token test against COMMENT_TOKENS — the sequential
    attribute parse of webx/tokenize.py class_hint_boiler (a
    ``title="class=comment"`` value can never match). Any POS_TOKENS
    member anywhere in class/id wins (editorial reviews stay main
    content), mirroring the boilerplate hints' override."""
    n = len(attrs)
    i = 0
    hit = False
    while i < n:
        if attrs[i] in _NAME_STOP:
            i += 1
            continue
        j = i + 1
        while j < n and attrs[j] not in _NAME_STOP:
            j += 1
        name = attrs[i:j]
        i = j
        while i < n and attrs[i] in _WS_SET:
            i += 1
        val = b""
        if i < n and attrs[i] == 0x3D:  # '='
            i += 1
            while i < n and attrs[i] in _WS_SET:
                i += 1
            if i < n and attrs[i] in (0x22, 0x27):
                q = attrs[i]
                k = attrs.find(q, i + 1)
                if k < 0:
                    val = attrs[i + 1 :]
                    i = n
                else:
                    val = attrs[i + 1 : k]
                    i = k + 1
            else:
                k = i
                while k < n and attrs[k] not in _WS_SET:
                    k += 1
                val = attrs[i:k]
                i = k
        if val and name.lower() in (b"class", b"id"):
            m = len(val)
            k = 0
            while k < m:
                if val[k] in _ALNUM:
                    j2 = k + 1
                    while j2 < m and val[j2] in _ALNUM:
                        j2 += 1
                    tok = val[k:j2].lower()
                    if tok in POS_TOKENS:
                        return False
                    if tok in COMMENT_TOKENS:
                        hit = True
                    k = j2
                else:
                    k += 1
    return hit


def _depth_re(name: bytes) -> "re.Pattern[bytes]":
    return re.compile(
        _ISLANDS
        + rb"|<(/?)(" + name + rb")(?=[\s/>])((?:[\s/](?:[^>\"']|\"[^\"]*\"|'[^']*')*)?)>",
        re.I | re.S,
    )


_DEPTH_RES = {
    n: _depth_re(n)
    for n in (b"div", b"section", b"ol", b"ul", b"aside", b"article")
}


def comment_regions(html: bytes) -> Tuple[Tuple[int, int], ...]:
    """Byte ranges of comment-container CONTENT (open tag end → matching
    close tag start), depth-tracked per container name, island-aware,
    nested regions coalesced into the outermost."""
    if _PROBE_RE.search(html) is None:
        return ()
    out: List[Tuple[int, int]] = []
    pos = 0
    n = len(html)
    while pos < n:
        m = _OPEN_RE.search(html, pos)
        if m is None:
            break
        if m.group(2) is None:  # island
            pos = max(m.end(), pos + 1)
            continue
        name = m.group(2).lower()
        attrs = m.group(3) or b""
        if attrs.rstrip().endswith(b"/"):  # self-closed: no region
            pos = m.end()
            continue
        if not _hits_comment_vocab(attrs):
            pos = m.end()
            continue
        start = m.end()
        depth = 1
        dre = _DEPTH_RES[name]
        cpos = start
        end = n
        while cpos < n:
            e = dre.search(html, cpos)
            if e is None:
                break
            if e.group(3) is None:  # island inside the region
                cpos = max(e.end(), cpos + 1)
                continue
            closing = e.group(2) == b"/"
            a = e.group(4) or b""
            if not closing and a.rstrip().endswith(b"/"):
                cpos = e.end()  # self-closed same-name tag: depth flat
                continue
            depth += -1 if closing else 1
            cpos = e.end()
            if depth == 0:
                end = e.start()
                break
        out.append((start, end))
        pos = end if end > pos else pos + 1
    return tuple(out)


def _decode_part(
    raw_doc: bytes, lo: int, hi: int, charset: str, preserved, strip, nfc: bool
) -> str:
    """One span part through the flagship's decode dispatch
    (webx/extract.py _decode_spans): rawkept literal text, then
    pre/listing whitespace preservation, else strip + collapse, then the
    same NFC step. Keeps comment-lane parts byte-identical to flagship
    span decodes."""
    raw = raw_doc[lo:hi]
    if has_rawkept(raw):
        text = decode_span_rawkept(raw, charset)
    elif preserved and any(rs < hi and re_ > lo for rs, re_ in preserved):
        text = decode_span_pre(raw, charset, lo, preserved, strip)
    else:
        text = decode_stripped(strip(raw), charset)
    if nfc and text and not text.isascii():  # ASCII is NFC-invariant
        text = _unicodedata.normalize("NFC", text)
    return text


COMMENTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("comment_text", T.StringType()),
        T.StructField("n_comment_spans", T.IntegerType()),
    ]
)


def comments_row(cfg: ExtractConfig, url, html):
    """One page → one (url, text, comment_text, n_comment_spans) row."""
    main_parts: List[str] = []
    com_parts: List[str] = []
    n_com = 0
    if html is not None and len(html) > 0:
        strip = resolve_strip(cfg.ckernels) or strip_markup
        raw_doc = normalize_input_bytes(bytes(html))[: cfg.limit_side_len]
        charset = sniff_charset(raw_doc, cfg.default_charset)
        regions = comment_regions(raw_doc)
        preserved = pre_regions(raw_doc)
        _, spans, _ = _extract_doc_stage1(raw_doc, cfg)
        for s in spans:
            if s.score < cfg.drop_score:
                continue
            seg = s.start
            hit = False
            for rs, re_ in regions:
                lo = max(rs, s.start)
                hi = min(re_, s.end)
                if hi <= lo:
                    continue
                if lo > seg:
                    t = _decode_part(
                        raw_doc, seg, lo, charset, preserved, strip, cfg.nfc
                    )
                    if t:
                        main_parts.append(t)
                t = _decode_part(raw_doc, lo, hi, charset, preserved, strip, cfg.nfc)
                if t:
                    com_parts.append(t)
                    hit = True
                seg = hi
            if seg < s.end:
                t = _decode_part(
                    raw_doc, seg, s.end, charset, preserved, strip, cfg.nfc
                )
                if t:
                    main_parts.append(t)
            if hit:
                n_com += 1
    return ((url, cfg.join_sep.join(main_parts), cfg.join_sep.join(com_parts), n_com),)


def split_comments_batch(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    return apply_rows(
        pdf, partial(comments_row, cfg), COMMENTS_SCHEMA.fieldNames(), ("url", "html")
    )


def split_comments(pages, cfg: Optional[ExtractConfig] = None):
    """pages(url, html, …) → (url, text, comment_text, n_comment_spans):
    the flagship extraction with comment-region bytes routed into a
    separate column. Narrow plan: pruned scan → one Arrow mapInPandas."""
    cfg = cfg or ExtractConfig()
    return map_lane(
        pages.select("url", "html"), partial(comments_row, cfg), COMMENTS_SCHEMA,
        ("url", "html"),
    )
