"""Mixed-corpus routed extraction — the real crawl-archive shape.

A Common-Crawl-style capture stream is NOT homogeneous: one WARC holds
HTML pages, PDFs, and images side by side. The reference pipeline picks
its decoder per input up front (mindocr/data/builder.py routes dataset
classes; general_transforms.py:35-53 decodes by buffer content); this
module is the Spark recast: ONE Arrow ``mapInPandas`` pass whose batch
function dispatches each row on its MAGIC BYTES (never the
Content-Type header — the q_mime_route policy) into the right lane:

* ``html``  → the fused two-stage extractor (webx/extract.py
  extract_row — same code, same C kernels, byte-identical output);
* ``pdf``   → the text-PDF parser (webx/pdf.py parse_pdf, incl. the
  encrypted and xref-stream layouts), fail-soft 'unsupported';
* ``image`` → the pure-struct header sniffer (webx/media.py
  sniff_image_meta) — metadata only, text NULL;
* ``audio`` (WAV / FLAC / Ogg magic) → sniff_audio_meta → sample_rate;
* ``video`` (ISO-BMFF ftyp, non-AVIF brand) → sniff_video_meta →
  dims + duration_ms;
* anything else → kind='other', status='skipped', nothing lost. MP3 is
  deliberately NOT magic-routed here: its 11-bit frame sync is too weak
  a signature for arbitrary binary (the audio lane still parses MP3
  when a caller routes it explicitly).

Each kind maps to the row function of its standalone lane
(``extract_row``, ``pdf_row``, ``image_meta_row``, ``audio_meta_row``,
``video_meta_row``), so the html row pays exactly the flagship's cost
and the mixed pass stays one scan, one Python stage, zero shuffles. A
row whose lane raises fails soft on its own (``status='error'``, the
lane runner's policy). At 100 TB this is the plan you want: no
three-way scan fan-out, no routing shuffle; lane skew (a PDF-heavy
shard) is already handled by the upstream url-hash repartition.
"""

from __future__ import annotations

from functools import partial
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from webx.config import ExtractConfig
from webx.extract import extract_row
from webx.lane import apply_rows, map_lane
from webx.media import audio_meta_row, image_meta_row, video_meta_row
from webx.pdf import pdf_row

ROUTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

_IMAGE_MAGICS = (b"\x89PNG\r\n\x1a\n", b"GIF87a", b"GIF89a", b"\xff\xd8", b"RIFF")


def classify_payload(b: bytes) -> str:
    """Magic-byte routing (the Python twin of webx.sources.sniff_mime's
    codegen CASE): pdf / image / audio / video / html / other."""
    if b.startswith(b"%PDF-"):
        return "pdf"
    if b.startswith(b"BM") and len(b) >= 18:
        return "image"
    if b.startswith((b"fLaC", b"OggS")):
        return "audio"
    if len(b) >= 12 and b[4:8] == b"ftyp":
        return "image" if b[8:12] in (b"avif", b"avis") else "video"
    for m in _IMAGE_MAGICS:
        if b.startswith(m):
            if m == b"RIFF":
                if len(b) >= 12 and b[8:12] == b"WEBP":
                    return "image"
                if len(b) >= 12 and b[8:12] == b"WAVE":
                    return "audio"
                continue
            return "image"
    head = b[:1024].lstrip(b" \t\r\n\f")
    low = head[:64].lower()
    if low.startswith((b"<!doctype", b"<html", b"<head", b"<body")) or head[:1] == b"<":
        return "html"
    return "other"


def _status(ok: bool) -> str:
    return "ok" if ok else "unsupported"


def _html(cfg, url, p):
    ((_, text, _, _, status, _),) = extract_row(cfg, url, p)
    return text, status, None, None, None, None


def _pdf(cfg, url, p):
    ((_, text, _, status, _, _),) = pdf_row(url, p)
    return text, status, None, None, None, None


def _image(cfg, url, p):
    ((_, _, w, h, ok),) = image_meta_row(url, p)
    return None, _status(ok), w, h, None, None


def _audio(cfg, url, p):
    ((_, _, sr, _, ok),) = audio_meta_row(url, p)
    return None, _status(ok), None, None, sr, None


def _video(cfg, url, p):
    ((_, _, w, h, dur, ok),) = video_meta_row(url, p)
    return None, _status(ok), w, h, None, dur


# kind → the standalone lane's row function, projected onto
# (text, status, width, height, sample_rate, duration_ms)
_LANES = {"html": _html, "pdf": _pdf, "image": _image, "audio": _audio,
          "video": _video}


def routed_row(cfg: ExtractConfig, url, payload):
    """One capture → one ROUTED_SCHEMA row; kind 'other' is skipped."""
    payload = bytes(payload) if payload is not None else b""
    kind = classify_payload(payload)
    lane = _LANES.get(kind)
    if lane is None:
        return ((url, kind, None, "skipped", None, None, None, None),)
    return ((url, kind, *lane(cfg, url, payload)),)


def _routed_batch(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    """``routed_row`` over one (url, payload) batch."""
    return apply_rows(
        pdf, partial(routed_row, cfg), ROUTED_SCHEMA.fieldNames(), ("url", "payload")
    )


def extract_mixed(
    captures: DataFrame,
    cfg: Optional[ExtractConfig] = None,
    url_col: str = "url",
    payload_col: str = "payload",
    passthrough: tuple = (),
) -> DataFrame:
    """(url, payload) mixed captures → (url, kind, text, status, width,
    height, sample_rate, duration_ms): one pruned scan, one Arrow pass,
    per-row magic-byte dispatch into the existing lane kernels.
    ``passthrough`` columns ride through unchanged (the extract_pdf
    contract). Works unchanged on a streaming frame."""
    cfg = cfg or ExtractConfig()
    df = captures.select(
        F.col(url_col).alias("url"),
        F.col(payload_col).alias("payload"),
        *passthrough,
    )
    return map_lane(
        df, partial(routed_row, cfg), ROUTED_SCHEMA, ("url", "payload"), passthrough
    )


def checkpointed_routed_extract_fn(subset: DataFrame, cfg, passthrough) -> DataFrame:
    """Adapter matching webx.lineage's ``extract_fn`` contract so MIXED
    corpora get partition-granular checkpoint/resume like the HTML and
    PDF lanes: input (url, html=payload bytes, partition cols…) →
    lineage-shaped output (url, text, conf, status, spans, meta) with
    the routing columns riding along."""
    sub = subset.withColumn("__nb", F.octet_length("html"))
    routed = extract_mixed(
        sub, cfg, payload_col="html",
        passthrough=tuple(passthrough) + ("__nb",),
    )
    spans_t = "array<struct<start:bigint,end:bigint,kind:string>>"
    return routed.select(
        "url",
        F.coalesce("text", F.lit("")).alias("text"),
        F.expr(f"CAST(array() AS {spans_t})").alias("spans"),
        "status",
        F.when(F.col("status") == "ok", F.lit(1.0)).otherwise(F.lit(0.0)).alias("conf"),
        F.struct(F.col("__nb").cast("long").alias("html_bytes")).alias("meta"),
        "kind", "width", "height", "sample_rate", "duration_ms",
        *passthrough,
    )
