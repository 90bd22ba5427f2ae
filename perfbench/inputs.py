"""Seeded input generation and correctness references for the workloads.

Every workload is built from two in-repo sources only: a seeded
``documents`` table shaped like the repository's synthetic testdata (word-soup
texts of 10-100 tokens over a 30-word vocabulary, five languages, twenty
sources, ~5% ``dup``-suffixed copies of an earlier document) and the
committed ``tests/fixtures/gnarly`` pages with their reviewed goldens.
The same seed always gives the same inputs; the program only ever sees
the generated parquet files.
"""

from __future__ import annotations

import hashlib
import os
import re
from typing import Dict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_WS = re.compile(r"[ \t\r\n\f\x0b]+")
_UNNORM = re.compile(r"[\t\r\n\f\x0b]|  |^ | $")


def norm(text: str) -> str:
    """The whitespace contract of the synth oracles (``webx.synth._norm``)."""
    if _UNNORM.search(text) is None:   # already normal: skip the rewrite
        return text
    return _WS.sub(" ", text).strip()


def golden(doc_id: int, text: str) -> str:
    """Closed-form extraction of a flagship page or synth PDF."""
    return f"Doc {doc_id}\n{norm(text)}"


def url_of(doc_id: int) -> str:
    return f"https://h{doc_id % 7}.example.com/doc/{doc_id}"


def flagship_page(doc_id: int, text: str) -> bytes:
    """One flagship page from the frozen template parts of ``webx.synth``,
    byte-identical to ``synth.flagship_pages_from_docs`` (the self-test
    checks this against the Spark builder)."""
    from webx import synth

    did = f"Doc {doc_id}"
    body = norm(text).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    return (synth.P_HEAD_UTF8 + did + synth.P_CHROME + did + synth.P_MID + body
            + synth.P_TAIL).encode("utf-8")


def synth_pdf(doc_id: int, text: str) -> bytes:
    """One text PDF in the ``layout='mixed'`` rotation of
    ``synth.synth_pdfs``: classic xref under six stream filters, xref
    streams with and without the PNG predictor, composite fonts, and the
    RC4-40, RC4-128 and AES-128 encrypted layouts."""
    from webx.pdf import write_pdf, write_pdf_cid, write_pdf_encrypted, write_pdf_xrefstream

    t, b, d = f"Doc {doc_id}", norm(text), doc_id
    even = {0: "flate", 2: "lzw", 4: "a85flate", 6: "raw", 10: "lzw0", 12: "ahx"}
    if d % 16 == 8:
        return write_pdf_encrypted(t, b, "rc4", r=2 if d % 32 == 24 else None)
    if d % 16 == 14:
        return write_pdf_encrypted(t, b, "aesv2")
    if d % 2 == 0:
        return write_pdf(t, b, stream_filter=even[d % 16])
    if d % 4 == 3:
        return write_pdf_cid(t, b)
    return write_pdf_xrefstream(
        t, b, predictor=12 if d % 8 == 1 else 1,
        encrypted="aesv2" if d % 16 == 13 else None,
    )


def digest(text) -> str:
    """md5 hex of the UTF-8 text; Spark's ``md5(CAST(text AS BINARY))``
    computes the same value on the output side."""
    return hashlib.md5((text or "").encode("utf-8")).hexdigest()


def documents(seed: int, n: int, first_id: int = 0) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    words = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{d % 20}" for d in ids],
            "n_chars": [len(t) for t in texts],
        }
    )


def pages_table(urls, payloads) -> pa.Table:
    return pa.table({"url": pa.array(urls, pa.string()),
                     "html": pa.array(payloads, pa.binary())})


def write_documents(docs: pd.DataFrame, sf_dir: str) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), path)
    return path


def write_split(table: pa.Table, out_dir: str, files: int) -> None:
    """Write ``table`` as ``files`` equal parquet files so the scan splits
    into that many tasks regardless of Spark's byte-based split sizing."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:04d}.parquet"))


def gnarly_fixtures(root: str) -> Dict[str, tuple]:
    """name → (html bytes, golden text) for every committed gnarly page."""
    fixdir = os.path.join(root, "tests", "fixtures", "gnarly")
    out = {}
    for f in sorted(os.listdir(fixdir)):
        if f.endswith(".html"):
            name = f[:-5]
            with open(os.path.join(fixdir, f), "rb") as fh:
                html = fh.read()
            with open(os.path.join(fixdir, name + ".txt"), encoding="utf-8") as fh:
                out[name] = (html, fh.read())
    if not out:
        raise FileNotFoundError(f"no gnarly fixtures under {fixdir}")
    return out


# ------------------------------------------------------------ routed mix

ROUTED_SHARES = {
    "html": 0.86, "pdf": 0.05, "image": 0.03, "audio": 0.02,
    "video": 0.02, "other": 0.02,
}
SAMPLE_RATES = (8000, 16000, 22050, 44100, 48000)


def routed_kinds(seed: int, n: int) -> np.ndarray:
    rng = np.random.default_rng(seed + 1)
    kinds = list(ROUTED_SHARES)
    return rng.choice(kinds, size=n, p=[ROUTED_SHARES[k] for k in kinds])


def routed_payload(kind: str, d: int, text: str) -> bytes:
    from webx.media import mp4_bytes, png_bytes, wav_bytes

    if kind == "html":
        return flagship_page(d, text)
    if kind == "pdf":
        return synth_pdf(d, text)
    if kind == "other":
        return text.encode("utf-8")
    if kind == "image":
        return png_bytes(64 + d % 193, 48 + d % 129)
    if kind == "audio":
        return wav_bytes(SAMPLE_RATES[d % 5], 1 + d % 2)
    return mp4_bytes(64 + d % 193, 48 + d % 129, 1000 + (d % 89) * 250)


def routed_expected(kind: str, d: int, text: str) -> tuple:
    """(kind, text, status, width, height, sample_rate, duration_ms) a
    routed row must carry — the q_extract_mixed closed form."""
    w = h = sr = dur = None
    if kind in ("html", "pdf"):
        return (kind, golden(d, text), "ok", w, h, sr, dur)
    if kind == "image":
        w, h = 64 + d % 193, 48 + d % 129
    elif kind == "audio":
        sr = SAMPLE_RATES[d % 5]
    elif kind == "video":
        w, h, dur = 64 + d % 193, 48 + d % 129, 1000 + (d % 89) * 250
    else:
        return (kind, "", "skipped", w, h, sr, dur)
    return (kind, "", "ok", w, h, sr, dur)
