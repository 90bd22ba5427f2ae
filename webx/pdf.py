"""Minimal text-PDF extraction in the two-stage span model.

The north rule names "PDF/layout parse" next to HTML boilerplate strip;
this module is the PDF lane of the same detect→decode design the HTML
path uses (webx/detect.py + webx/recognize.py, recasting the reference's
DBNet detect → CRNN decode split):

* stage 1 — ``detect_text_objects``: walk the document structure (classic
  xref table → trailer /Root → page tree → /Contents streams, FlateDecode
  or raw) and locate BT…ET text objects — the "region proposals".
* stage 2 — ``decode_text_object``: decode each region's show-text
  operators (Tj, TJ, ', ") in order, with Td/TD/T*/Tm line moves as
  newlines and full PDF string-escape handling — the "sequence decode".

Honest bounds (stated, not hidden): classic xref tables AND PDF 1.5+
xref streams / object streams (/Prev incremental-update chains, TIFF +
all five per-row PNG predictors); stream filters FlateDecode, LZWDecode
(EarlyChange 0/1, table-clear cycles), ASCII85Decode, ASCIIHexDecode,
and /Filter arrays chaining them (image-only filters DCT/JPX/CCITT/RLE
carry no text and stay unsupported). Show-string decode
goes through font maps: /ToUnicode CMaps (codespacerange + bfchar +
both bfrange forms — the composite/CID-font layout modern subsetted
writers emit) and simple-font /Encoding with /Differences (WinAnsi /
MacRoman bases + an Adobe-Glyph-List subset); fonts with neither map
decode as UTF-8 bytes (the synthetic-fixture contract and the
best-effort fallback). Anything outside these bounds yields
status='unsupported' with zero rows lost — same explicit bad-row
policy as the HTML lane.

Distribution: ``extract_pdf`` is one fused Arrow ``mapInPandas`` pass
over (url, pdf) rows — the same zero-shuffle flagship plan shape as
``run_extraction``.
"""

from __future__ import annotations

import re
import zlib
from typing import Callable, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, functions as F, types as T

from webx.lane import map_lane

# --------------------------------------------------------------- fixtures


def _esc(s: bytes) -> bytes:
    return s.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def write_pdf(
    title: str, body: str, compress: bool = True, stream_filter: "str | None" = None
) -> bytes:
    """Deterministic single-page text PDF showing ``title`` then ``body``
    (generate-input-from-expected-output: extracting it must yield
    ``title + "\\n" + body`` byte-identically). ``stream_filter`` picks
    the /Contents encoding lane: flate | raw | lzw | lzw0 (EarlyChange 0)
    | a85flate (ASCII85-over-Flate chain) | ahx (ASCIIHex); default
    follows ``compress``."""
    import base64

    content = (
        b"BT /F1 12 Tf 72 720 Td ("
        + _esc(title.encode("utf-8"))
        + b") Tj 0 -14 TD ("
        + _esc(body.encode("utf-8"))
        + b") Tj ET"
    )
    if stream_filter is None:
        stream_filter = "flate" if compress else "raw"
    if stream_filter == "flate":
        data = zlib.compress(content)
        fdecl = b" /Filter /FlateDecode"
    elif stream_filter == "raw":
        data = content
        fdecl = b""
    elif stream_filter == "lzw":
        data = _lzw_encode(content)
        fdecl = b" /Filter /LZWDecode"
    elif stream_filter == "lzw0":
        data = _lzw_encode(content, early=0)
        fdecl = b" /Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>"
    elif stream_filter == "a85flate":
        data = base64.a85encode(zlib.compress(content)) + b"~>"
        fdecl = b" /Filter [ /ASCII85Decode /FlateDecode ]"
    elif stream_filter == "ahx":
        data = content.hex().encode("ascii") + b">"
        fdecl = b" /Filter /ASCIIHexDecode"
    else:
        raise ValueError(f"unknown stream_filter {stream_filter!r}")
    stream_dict = b"<< /Length " + str(len(data)).encode() + fdecl + b" >>"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        stream_dict + b"\nstream\n" + data + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    return _classic_assemble(objs)


def _classic_assemble(objs: List[bytes], header: bytes = b"%PDF-1.4\n",
                      trailer_extra: bytes = b"") -> bytes:
    """Assemble numbered objects 1..N into a classic-xref-table PDF.
    ``trailer_extra`` splices additional trailer entries (e.g.
    ``/Encrypt n 0 R /ID [...]``) before the closing ``>>``."""
    out = [header]
    offsets = []
    pos = len(out[0])
    for i, body_i in enumerate(objs, start=1):
        chunk = f"{i} 0 obj\n".encode() + body_i + b"\nendobj\n"
        offsets.append(pos)
        out.append(chunk)
        pos += len(chunk)
    xref_pos = pos
    xref = [f"xref\n0 {len(objs) + 1}\n".encode(), b"0000000000 65535 f \n"]
    for off in offsets:
        xref.append(f"{off:010d} 00000 n \n".encode())
    out.extend(xref)
    out.append(
        b"trailer\n<< /Size "
        + str(len(objs) + 1).encode()
        + b" /Root 1 0 R"
        + trailer_extra
        + b" >>\nstartxref\n"
        + str(xref_pos).encode()
        + b"\n%%EOF\n"
    )
    return b"".join(out)




def write_pdf_encrypted(title: str, body: str, method: str = "rc4",
                        r: "int | None" = None) -> bytes:
    """Encrypted twin of ``write_pdf``: same single-page layout, content
    stream encrypted under the ISO 32000 standard security handler with
    an EMPTY user password (owner-password-only permissions encryption —
    the legally-extractable kind CC PDF shards contain). ``method`` is
    'rc4' (R=3/128-bit by default; pass r=2 for the 40-bit V1 form) or
    'aesv2' (V=4/R=4 AES-128-CBC crypt filter). Extraction must yield
    exactly what the plaintext writer's would — byte-identity through
    the decrypt path."""
    import hashlib

    from webx.pdfcrypt import StandardSecurityHandler

    content = (
        b"BT /F1 12 Tf 72 720 Td ("
        + _esc(title.encode("utf-8"))
        + b") Tj 0 -14 TD ("
        + _esc(body.encode("utf-8"))
        + b") Tj ET"
    )
    if method == "rc4":
        rr = 2 if r == 2 else 3
        v = 1 if rr == 2 else 2
        nbytes = 5 if rr == 2 else 16
    elif method == "aesv2":
        rr, v, nbytes = 4, 4, 16
    else:
        raise ValueError(f"unknown method {method!r}")
    p = -44  # print+copy permitted; any value participates in the key
    id0 = hashlib.md5(("webx-id:" + title + "|" + body).encode("utf-8")).digest()
    o = StandardSecurityHandler.compute_o(rr, nbytes)
    h = StandardSecurityHandler(o, p, id0, rr, nbytes, method)
    u = h.compute_u()[:32].ljust(32, b"\x00")
    data = h.encrypt(4, 0, zlib.compress(content))
    stream_dict = (
        b"<< /Length " + str(len(data)).encode() + b" /Filter /FlateDecode >>"
    )
    if method == "aesv2":
        encd = (
            b"<< /Filter /Standard /V 4 /R 4 /Length 128 "
            b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
            b"/StmF /StdCF /StrF /StdCF "
            b"/O <" + o.hex().encode() + b"> /U <" + u.hex().encode() + b"> "
            b"/P " + str(p).encode() + b" >>"
        )
    else:
        encd = (
            b"<< /Filter /Standard /V " + str(v).encode()
            + b" /R " + str(rr).encode()
            + b" /Length " + str(nbytes * 8).encode()
            + b" /O <" + o.hex().encode() + b"> /U <" + u.hex().encode() + b"> "
            b"/P " + str(p).encode() + b" >>"
        )
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        stream_dict + b"\nstream\n" + data + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        encd,
    ]
    idhex = b"<" + id0.hex().encode() + b">"
    return _classic_assemble(
        objs,
        trailer_extra=b" /Encrypt 6 0 R /ID [" + idhex + b" " + idhex + b"]",
    )


def _tounicode_cmap(codes: List[Tuple[int, str]]) -> bytes:
    """Build a /ToUnicode CMap for (code, char) pairs (2-byte codes).
    Runs of ≥3 consecutive codes mapping to consecutive BMP codepoints
    (within one 256-code block, per spec) become incrementing bfrange
    rows; runs of exactly 2 use the ARRAY bfrange form; everything else
    (singles, non-BMP surrogate pairs, multi-char) becomes bfchar — so
    every construct a reader must support is exercised by synthesis."""

    def u16(s: str) -> str:
        return s.encode("utf-16-be").hex().upper()

    bfchar: List[bytes] = []
    bfrange: List[bytes] = []
    i, n = 0, len(codes)
    while i < n:
        c0, ch0 = codes[i]
        j = i + 1
        if len(ch0) == 1 and ord(ch0) <= 0xFFFF and not 0xD800 <= ord(ch0) <= 0xDFFF:
            while (
                j < n
                and codes[j][0] == codes[j - 1][0] + 1
                and (codes[j][0] >> 8) == (c0 >> 8)
                and len(codes[j][1]) == 1
                and ord(codes[j][1]) == ord(codes[j - 1][1]) + 1
                and ord(codes[j][1]) <= 0xFFFF
            ):
                j += 1
        run = codes[i:j]
        if len(run) >= 3:
            bfrange.append(
                f"<{c0:04X}> <{run[-1][0]:04X}> <{ord(ch0):04X}>".encode()
            )
        elif len(run) == 2:
            bfrange.append(
                f"<{c0:04X}> <{run[1][0]:04X}> [<{u16(ch0)}> <{u16(run[1][1])}>]".encode()
            )
        else:
            bfchar.append(f"<{c0:04X}> <{u16(ch0)}>".encode())
        i = j
    parts = [
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/CMapName /WebxUCS def\n/CMapType 2 def\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    ]
    # spec caps sections at 100 rows
    for rows, kw in ((bfchar, b"bfchar"), (bfrange, b"bfrange")):
        for s in range(0, len(rows), 100):
            chunk = rows[s : s + 100]
            parts.append(
                str(len(chunk)).encode() + b" begin" + kw + b"\n"
                + b"\n".join(chunk) + b"\nend" + kw + b"\n"
            )
    parts.append(
        b"endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n"
    )
    return b"".join(parts)


def write_pdf_cid(
    title: str,
    body: str,
    compress: bool = True,
    extra_simple_font: bool = False,
    corrupt_tounicode: bool = False,
) -> bytes:
    """The ``write_pdf`` document in the layout modern subsetted-font
    writers emit: a Type0 (composite) font with 2-byte CIDs assigned in
    first-appearance order, show ops as HEX strings, and a /ToUnicode
    CMap carrying the code→unicode map. Extraction must be byte-identical
    to ``title + "\\n" + body`` — the decode goes code units → CMap →
    characters, the same dictionary indirection mindocr's recognizer
    applies to logit indices (mindocr/postprocess/rec_postprocess.py).

    ``extra_simple_font`` adds a second (plain) font and a third line
    shown under it after a mid-region Tf switch — the mixed-font test.
    ``corrupt_tounicode`` writes garbage as the CMap stream (fallback
    path test)."""
    order: Dict[str, int] = {}
    for ch in title + body:
        if ch not in order:
            order[ch] = len(order) + 1  # code 0 stays unmapped

    def hexstr(s: str) -> bytes:
        return b"<" + "".join(f"{order[ch]:04X}" for ch in s).encode() + b">"

    content = (
        b"BT /F1 12 Tf 72 720 Td "
        + hexstr(title)
        + b" Tj 0 -14 TD "
        + hexstr(body)
        + b" Tj"
    )
    if extra_simple_font:
        content += b" /F2 12 Tf T* (plain!) Tj"
    content += b" ET"
    if compress:
        data = zlib.compress(content)
        stream_dict = (
            b"<< /Length " + str(len(data)).encode() + b" /Filter /FlateDecode >>"
        )
    else:
        data = content
        stream_dict = b"<< /Length " + str(len(data)).encode() + b" >>"
    cmap = (
        b"not a cmap \xff\xfe"
        if corrupt_tounicode
        else _tounicode_cmap([(c, ch) for ch, c in order.items()])
    )
    cmap_z = zlib.compress(cmap)
    fonts = b"<< /F1 5 0 R" + (b" /F2 8 0 R" if extra_simple_font else b"") + b" >>"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font " + fonts + b" >> >>",
        stream_dict + b"\nstream\n" + data + b"\nendstream",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /WebxCID /Encoding /Identity-H "
        b"/DescendantFonts [6 0 R] /ToUnicode 7 0 R >>",
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /WebxCID "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> >>",
        b"<< /Length " + str(len(cmap_z)).encode() + b" /Filter /FlateDecode >>"
        b"\nstream\n" + cmap_z + b"\nendstream",
    ]
    if extra_simple_font:
        objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    return _classic_assemble(objs, header=b"%PDF-1.6\n")


def write_pdf_differences(title: str, body: str) -> bytes:
    """The same document under a SIMPLE (single-byte) font whose
    /Encoding carries a /Differences array: ASCII shows as itself
    (WinAnsi base), every non-ASCII character gets a byte ≥ 0x80 mapped
    by Adobe glyph name. Raises if the text needs a glyph outside the
    supported name table — fixtures must stay within it."""
    rev = {v: k for k, v in _AGL.items()}
    assign: Dict[str, int] = {}
    diffs: List[bytes] = []
    state = {"nxt": 0x80}

    def enc(s: str) -> bytes:
        out = bytearray()
        for ch in s:
            if ord(ch) < 0x80:
                out.append(ord(ch))
                continue
            if ch not in assign:
                name = rev.get(ch) or (
                    f"uni{ord(ch):04X}" if ord(ch) <= 0xFFFF else None
                )
                if name is None:
                    raise ValueError(f"no glyph name for {ch!r}")
                if state["nxt"] > 0xFF:
                    raise ValueError("too many non-ASCII characters for one byte font")
                assign[ch] = state["nxt"]
                diffs.append(f"{state['nxt']} /{name}".encode())
                state["nxt"] += 1
            out.append(assign[ch])
        return bytes(out)

    t_enc, b_enc = enc(title), enc(body)
    content = (
        b"BT /F1 12 Tf 72 720 Td ("
        + _esc(t_enc)
        + b") Tj 0 -14 TD ("
        + _esc(b_enc)
        + b") Tj ET"
    )
    data = zlib.compress(content)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(data)).encode() + b" /Filter /FlateDecode >>"
        b"\nstream\n" + data + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /WebxDiff /Encoding 6 0 R >>",
        b"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding /Differences ["
        + b" ".join(diffs)
        + b"] >>",
    ]
    return _classic_assemble(objs)


def _png_up_encode(rows: List[bytes], columns: int) -> bytes:
    """Encode fixed-width rows with the PNG Up filter (predictor 12) —
    the encoding real writers emit for xref streams."""
    out = bytearray()
    prev = bytes(columns)
    for row in rows:
        out.append(2)  # Up
        out.extend((row[c] - prev[c]) & 0xFF for c in range(columns))
        prev = row
    return bytes(out)


def write_pdf_xrefstream(title: str, body: str, predictor: int = 12,
                         encrypted: "str | None" = None) -> bytes:
    """The same one-page document as ``write_pdf`` in the PDF 1.5+
    layout every modern writer emits: catalog/pages/page/font packed in
    a compressed object stream (/Type /ObjStm) addressed by a binary
    cross-reference STREAM (/Type /XRef, W [1 2 2]) instead of a classic
    table; ``predictor`` ∈ {1, 12} selects raw vs PNG-Up row encoding.
    Extraction must be byte-identical to the classic-layout document.

    ``encrypted`` ('rc4' | 'aesv2') emits the modern-writer ENCRYPTED
    form: the content stream AND the ObjStm container encrypt under the
    standard security handler (empty user password), while the XRef
    stream stays plain and the /Encrypt dictionary is a plain classic
    object — exactly the ISO 32000 rules (7.5.8.2: xref streams shall
    not be encrypted; strings inside object streams are not separately
    encrypted because the container already is)."""
    crypt = None
    if encrypted is not None:
        import hashlib as _h

        from webx.pdfcrypt import StandardSecurityHandler

        rr = 4 if encrypted == "aesv2" else 3
        id0 = _h.md5(("webx-xid:" + title + "|" + body).encode("utf-8")).digest()
        o = StandardSecurityHandler.compute_o(rr, 16)
        crypt = StandardSecurityHandler(o, -44, id0, rr, 16, encrypted)
    content = (
        b"BT /F1 12 Tf 72 720 Td ("
        + _esc(title.encode("utf-8"))
        + b") Tj 0 -14 TD ("
        + _esc(body.encode("utf-8"))
        + b") Tj ET"
    )
    data = zlib.compress(content)
    if crypt is not None:
        data = crypt.encrypt(4, 0, data)
    obj4 = (
        b"4 0 obj\n<< /Length " + str(len(data)).encode() + b" /Filter /FlateDecode >>"
        b"\nstream\n" + data + b"\nendstream\nendobj\n"
    )
    # ObjStm 7: objects 1 (catalog), 2 (pages), 3 (page), 5 (font)
    inner_objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (
            3,
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 5 0 R >> >> >>",
        ),
        (5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    bodies, header, off = [], [], 0
    for num, b_ in inner_objs:
        header.append(f"{num} {off}".encode())
        bodies.append(b_)
        off += len(b_) + 1
    stm_payload = b" ".join(header) + b"\n" + b" ".join(bodies)
    first = stm_payload.index(b"\n") + 1
    stm_z = zlib.compress(stm_payload)
    if crypt is not None:
        stm_z = crypt.encrypt(7, 0, stm_z)
    obj7 = (
        b"7 0 obj\n<< /Type /ObjStm /N 4 /First " + str(first).encode()
        + b" /Length " + str(len(stm_z)).encode() + b" /Filter /FlateDecode >>"
        b"\nstream\n" + stm_z + b"\nendstream\nendobj\n"
    )
    obj8 = b""
    if crypt is not None:
        u = crypt.compute_u()[:32].ljust(32, b"\x00")
        if encrypted == "aesv2":
            encd = (
                b"<< /Filter /Standard /V 4 /R 4 /Length 128 "
                b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
                b"/StmF /StdCF /StrF /StdCF "
                b"/O <" + crypt.o.hex().encode() + b"> /U <" + u.hex().encode()
                + b"> /P -44 >>"
            )
        else:
            encd = (
                b"<< /Filter /Standard /V 2 /R 3 /Length 128 "
                b"/O <" + crypt.o.hex().encode() + b"> /U <" + u.hex().encode()
                + b"> /P -44 >>"
            )
        obj8 = b"8 0 obj\n" + encd + b"\nendobj\n"
    head = b"%PDF-1.5\n"
    off4 = len(head)
    off7 = off4 + len(obj4)
    off8 = off7 + len(obj7)
    off6 = off8 + len(obj8)
    # xref rows (type, field2, field3) for objects 0..N, W = [1, 2, 2]
    entries = [
        (0, 0, 65535),
        (2, 7, 0),
        (2, 7, 1),
        (2, 7, 2),
        (1, off4, 0),
        (2, 7, 3),
        (1, off6, 0),
        (1, off7, 0),
    ]
    if crypt is not None:
        entries.append((1, off8, 0))
    rows = [
        bytes([t]) + f2.to_bytes(2, "big") + f3.to_bytes(2, "big")
        for t, f2, f3 in entries
    ]
    if predictor == 12:
        xdata = _png_up_encode(rows, 5)
        parms = b" /DecodeParms << /Predictor 12 /Columns 5 >>"
    else:
        xdata = b"".join(rows)
        parms = b""
    xz = zlib.compress(xdata)
    extra = b""
    if crypt is not None:
        idhex = b"<" + crypt.id0.hex().encode() + b">"
        extra = b" /Encrypt 8 0 R /ID [" + idhex + b" " + idhex + b"]"
    obj6 = (
        b"6 0 obj\n<< /Type /XRef /Size " + str(len(entries)).encode()
        + b" /W [1 2 2] /Root 1 0 R" + extra + b" /Length "
        + str(len(xz)).encode() + b" /Filter /FlateDecode" + parms + b" >>"
        b"\nstream\n" + xz + b"\nendstream\nendobj\n"
    )
    return (
        head + obj4 + obj7 + obj8 + obj6
        + b"startxref\n" + str(off6).encode() + b"\n%%EOF\n"
    )


# ----------------------------------------------------------- object model

_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R")
_WS = b"\x00\t\n\x0c\r "


def _parse_xref(raw: bytes) -> Tuple[dict, dict]:
    """Cross-reference walk: startxref → classic table OR xref stream
    (PDF 1.5+), following /Prev chains (incremental updates — newest
    entry wins). Returns ({obj_num: offset_or_("instm", stm, idx)},
    trailer_dict)."""
    tail = raw[-256:]
    m = list(re.finditer(rb"startxref\s+(\d+)", tail))
    if not m:
        raise ValueError("no startxref")
    pos: Optional[int] = int(m[-1].group(1))
    offsets: dict = {}
    trailer: Optional[dict] = None
    seen: set = set()
    while pos is not None and pos not in seen:
        seen.add(pos)
        if raw[pos : pos + 4] == b"xref":
            t = _parse_xref_table(raw, pos, offsets)
        else:
            t = _parse_xref_stream(raw, pos, offsets)
        if trailer is None:
            trailer = t
        prev = t.get("Prev")
        pos = int(prev) if isinstance(prev, (int, float)) else None
    if trailer is None:
        raise ValueError("no xref")
    return offsets, trailer


def _parse_xref_table(raw: bytes, pos: int, offsets: dict) -> dict:
    """Classic ``xref`` keyword table at pos; fills offsets (setdefault:
    earlier sections in the walk are newer). Returns the trailer dict."""
    p = pos + 4
    while True:
        m2 = re.match(rb"\s*(\d+)\s+(\d+)\s*", raw[p : p + 64])
        if not m2:
            break
        start, count = int(m2.group(1)), int(m2.group(2))
        p += m2.end()
        for i in range(count):
            entry = raw[p : p + 20]
            em = re.match(rb"(\d{10})\s+(\d{5})\s+([nf])", entry)
            if not em:
                raise ValueError("bad xref entry")
            if em.group(3) == b"n":
                offsets.setdefault(start + i, int(em.group(1)))
            p += 20
    tm = re.search(rb"trailer", raw[p - 1 :])
    if not tm:
        raise ValueError("no trailer")
    tstart = p - 1 + tm.end()
    return _parse_dict(raw, _skip_ws(raw, tstart))[0]


def _apply_predictor(data: bytes, parms: dict) -> bytes:
    """Reverse the /DecodeParms predictor on decoded stream bytes.
    Supports the ones real xref streams use: none, TIFF (2), and the
    per-row PNG filters (10-15; each ROW carries its own filter byte,
    so any PNG predictor value must handle all five filters). Assumes
    Colors=1, BitsPerComponent=8 — the xref-stream case."""
    pred = parms.get("Predictor", 1)
    pred = int(pred) if isinstance(pred, (int, float)) else 1
    if pred == 1:
        return data
    columns = int(parms.get("Columns", 1))
    if pred == 2:  # TIFF horizontal differencing
        out = bytearray(data)
        for r in range(0, len(out), columns):
            for c in range(1, min(columns, len(out) - r)):
                out[r + c] = (out[r + c] + out[r + c - 1]) & 0xFF
        return bytes(out)
    if 10 <= pred <= 15:  # PNG row filters
        rowlen = columns + 1
        if len(data) % rowlen:
            raise ValueError("predictor row misalignment")
        out = bytearray()
        prev = bytearray(columns)
        for r in range(0, len(data), rowlen):
            ftype = data[r]
            row = bytearray(data[r + 1 : r + rowlen])
            if ftype == 0:
                pass
            elif ftype == 1:  # Sub
                for c in range(1, columns):
                    row[c] = (row[c] + row[c - 1]) & 0xFF
            elif ftype == 2:  # Up
                for c in range(columns):
                    row[c] = (row[c] + prev[c]) & 0xFF
            elif ftype == 3:  # Average
                for c in range(columns):
                    left = row[c - 1] if c else 0
                    row[c] = (row[c] + ((left + prev[c]) >> 1)) & 0xFF
            elif ftype == 4:  # Paeth
                for c in range(columns):
                    a = row[c - 1] if c else 0
                    b = prev[c]
                    cc = prev[c - 1] if c else 0
                    pp = a + b - cc
                    pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - cc)
                    pred_v = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    row[c] = (row[c] + pred_v) & 0xFF
            else:
                raise ValueError(f"unsupported PNG filter {ftype}")
            out.extend(row)
            prev = row
        return bytes(out)
    raise ValueError(f"unsupported predictor {pred}")


# ----------------------------------------------------------- stream filters


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """LZWDecode (PDF 1.7 §7.4.4; TIFF-variant LZW): variable 9→12-bit
    MSB-first codes, 256=clear-table, 257=EOD, /EarlyChange (default 1)
    widens the code one entry early."""
    out = bytearray()
    prev: bytes | None = None
    next_code = 258
    width = 9
    table: dict = {}
    bitbuf = 0
    bits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bits += 8
        while bits >= width:
            bits -= width
            code = (bitbuf >> bits) & ((1 << width) - 1)
            if code == 256:
                table.clear()
                next_code = 258
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if code < 256:
                entry = bytes([code])
            elif code in table:
                entry = table[code]
            elif code == next_code and prev is not None:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise ValueError(f"bad LZW code {code}")
            if prev is not None:
                table[next_code] = prev + entry[:1]
                next_code += 1
                # the decoder's next_code lags the encoder by one at
                # read time, so its width bump fires one entry earlier
                # than the encoder's post-add check
                if next_code + early >= (1 << width) and width < 12:
                    width += 1
            out += entry
            prev = entry
    return bytes(out)  # tolerated: EOD-less stream ends at data end


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Fixture-side LZW encoder. Two phases: (1) the dictionary walk
    produces the code sequence; (2) the bit packer assigns each code the
    width a STANDARD decoder (pdf.js-style: add entry per data code read
    after the first, bump when next_code + EarlyChange reaches the width
    limit) expects at that point. Driving the width schedule off the
    decoder simulation — not the encoder's own table — is what keeps the
    two sides aligned at the boundary where the decoder performs its
    final (unused) add."""
    base = {bytes([i]): i for i in range(256)}

    # phase 1: code sequence
    codes: List[int] = [256]
    table = dict(base)
    next_code = 258
    w = b""
    for i in range(len(data)):
        ch = data[i : i + 1]
        wc = w + ch
        if wc in table:
            w = wc
            continue
        codes.append(table[w])
        if next_code >= 4096:  # 12-bit codes: 4095 is the last entry
            codes.append(256)
            table = dict(base)
            next_code = 258
        else:
            table[wc] = next_code
            next_code += 1
        w = ch
    if w:
        codes.append(table[w])
    codes.append(257)

    # phase 2: pack, simulating the decoder's width schedule
    outbits = bytearray()
    bitbuf = 0
    bits = 0
    width = 9
    dec_next = 258
    seen_data = False  # decoder's prev != None (a data code read since clear)
    for code in codes:
        bitbuf = (bitbuf << width) | code
        bits += width
        while bits >= 8:
            bits -= 8
            outbits.append((bitbuf >> bits) & 0xFF)
        if code == 256:
            width = 9
            dec_next = 258
            seen_data = False
        elif code != 257:
            if seen_data:  # decoder adds an entry while processing this code
                dec_next += 1
                if dec_next + early >= (1 << width) and width < 12:
                    width += 1
            seen_data = True
    if bits:
        outbits.append((bitbuf << (8 - bits)) & 0xFF)
    return bytes(outbits)


_A85_WS = b" \t\r\n\f\v"


def _ascii85_decode(data: bytes) -> bytes:
    import base64

    end = data.find(b"~>")
    if end >= 0:
        data = data[:end]
    data = bytes(b for b in data if b not in _A85_WS)
    return base64.a85decode(data)


def _asciihex_decode(data: bytes) -> bytes:
    end = data.find(b">")
    if end >= 0:
        data = data[:end]
    data = bytes(b for b in data if b not in _A85_WS)
    if len(data) % 2:
        data += b"0"  # odd final digit implies trailing 0 (spec)
    return bytes.fromhex(data.decode("ascii"))


def _decode_stream(data: bytes, filt, parms) -> bytes:
    """Apply a /Filter chain (name or array) with per-filter /DecodeParms.
    Supported: FlateDecode, LZWDecode, ASCII85Decode, ASCIIHexDecode —
    the text-bearing filters of real web PDFs. Predictors apply to the
    Flate/LZW stages."""
    if filt is None:
        return data
    filters = filt if isinstance(filt, list) else [filt]
    parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
    for f, pm in zip(filters, parms_list):
        name = f[1] if isinstance(f, tuple) and f[0] == "name" else None
        if name == "FlateDecode":
            data = zlib.decompress(data)
        elif name == "LZWDecode":
            early = 1
            if isinstance(pm, dict):
                ec = pm.get("EarlyChange", 1)
                early = int(ec) if isinstance(ec, (int, float)) else 1
            data = _lzw_decode(data, early)
        elif name == "ASCII85Decode":
            data = _ascii85_decode(data)
        elif name == "ASCIIHexDecode":
            data = _asciihex_decode(data)
        else:
            raise ValueError(f"unsupported filter {f}")
        if isinstance(pm, dict) and name in ("FlateDecode", "LZWDecode"):
            data = _apply_predictor(data, pm)
    return data


def _parse_xref_stream(raw: bytes, pos: int, offsets: dict) -> dict:
    """PDF 1.5 cross-reference STREAM at pos: binary (type, f2, f3) rows
    with /W field widths; type 1 = byte offset, type 2 = (object stream,
    index). The stream dict doubles as the trailer."""
    m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj", raw[pos:])
    if not m:
        raise ValueError("bad xref location")
    p = pos + m.end()
    val, p = _parse_value(raw, _skip_ws(raw, p))
    if not isinstance(val, dict) or val.get("Type") != ("name", "XRef"):
        raise ValueError("not an xref stream")
    p = _skip_ws(raw, p)
    if raw[p : p + 6] != b"stream":
        raise ValueError("xref stream missing data")
    p += 6
    if raw[p : p + 2] == b"\r\n":
        p += 2
    elif raw[p : p + 1] == b"\n":
        p += 1
    length = val.get("Length")
    if not isinstance(length, (int, float)):
        raise ValueError("xref stream /Length must be direct")
    data = raw[p : p + int(length)]
    data = _decode_stream(data, val.get("Filter"), val.get("DecodeParms"))
    w = [int(x) for x in val.get("W", [])]
    if len(w) != 3:
        raise ValueError("bad /W")
    size = int(val["Size"])
    index = [int(x) for x in val.get("Index", [0, size])]
    rowlen = sum(w)

    def field(row: bytes, a: int, b: int, default: int) -> int:
        if b == a:
            return default
        return int.from_bytes(row[a:b], "big")

    r = 0
    for s in range(0, len(index), 2):
        start, count = index[s], index[s + 1]
        for i in range(count):
            if r + rowlen > len(data):
                raise ValueError("xref stream truncated")
            row = data[r : r + rowlen]
            r += rowlen
            typ = field(row, 0, w[0], 1)  # w0=0 ⇒ type defaults to 1
            f2 = field(row, w[0], w[0] + w[1], 0)
            f3 = field(row, w[0] + w[1], rowlen, 0)
            num = start + i
            if typ == 1:
                offsets.setdefault(num, f2)
            elif typ == 2:
                offsets.setdefault(num, ("instm", f2, f3))
            # type 0 (free) and unknown types: skip (spec: treat as free)
    return val


def _skip_ws(raw: bytes, p: int) -> int:
    n = len(raw)
    while p < n and raw[p : p + 1] in (b"\x00", b"\t", b"\n", b"\x0c", b"\r", b" "):
        p += 1
    return p


def _parse_dict(raw: bytes, p: int):
    """Parse a ``<< … >>`` dict starting at p → (dict, end_pos). Values
    kept minimal: refs (n, g), numbers, names (as bytes), nested dicts,
    arrays (as python lists)."""
    assert raw[p : p + 2] == b"<<", raw[p : p + 8]
    p += 2
    d = {}
    while True:
        p = _skip_ws(raw, p)
        if raw[p : p + 2] == b">>":
            return d, p + 2
        if raw[p : p + 1] != b"/":
            raise ValueError(f"expected name at {p}")
        m = re.match(rb"/([A-Za-z0-9#._-]+)", raw[p:])
        key = m.group(1).decode("latin-1")
        p += m.end()
        val, p = _parse_value(raw, _skip_ws(raw, p))
        d[key] = val


def _parse_value(raw: bytes, p: int):
    c = raw[p : p + 1]
    if raw[p : p + 2] == b"<<":
        return _parse_dict(raw, p)
    if c == b"[":
        p += 1
        arr = []
        while True:
            p = _skip_ws(raw, p)
            if raw[p : p + 1] == b"]":
                return arr, p + 1
            v, p = _parse_value(raw, p)
            arr.append(v)
    if c == b"/":
        m = re.match(rb"/([A-Za-z0-9#._-]+)", raw[p:])
        return ("name", m.group(1).decode("latin-1")), p + m.end()
    m = _REF_RE.match(raw, p)
    if m:
        return ("ref", int(m.group(1)), int(m.group(2))), m.end()
    m = re.match(rb"[+-]?\d+(\.\d+)?", raw[p:])
    if m:
        s = m.group(0)
        return (float(s) if b"." in s else int(s)), p + m.end()
    if c == b"(":  # literal string (rare in structure dicts)
        s, p2 = _parse_string(raw, p)
        return ("str", s), p2
    if c == b"<":  # hex string (how /O /U /ID are usually written)
        m = re.match(rb"<([0-9A-Fa-f\s]*)>", raw[p:])
        if m:
            return ("str", _cmap_hexbytes(m.group(1))), p + m.end()
    if raw[p : p + 4] == b"true":
        return True, p + 4
    if raw[p : p + 5] == b"false":
        return False, p + 5
    if raw[p : p + 4] == b"null":
        return None, p + 4
    raise ValueError(f"unparseable value at {p}: {raw[p:p+16]!r}")


def _parse_string(raw: bytes, p: int) -> Tuple[bytes, int]:
    """PDF literal string with escapes and balanced parens → raw bytes."""
    assert raw[p : p + 1] == b"("
    p += 1
    out = bytearray()
    depth = 1
    n = len(raw)
    while p < n:
        c = raw[p]
        if c == 0x5C:  # backslash
            nxt = raw[p + 1 : p + 2]
            if len(nxt) != 1:  # trailing backslash at end of input: ignore it
                p += 1
            elif nxt in (b"n", b"r", b"t", b"b", b"f"):
                out.append({"n": 10, "r": 13, "t": 9, "b": 8, "f": 12}[nxt.decode()])
                p += 2
            elif nxt in (b"(", b")", b"\\"):
                out.append(nxt[0])
                p += 2
            elif nxt == b"\n":
                p += 2  # line continuation
            elif (m := re.match(rb"\\([0-7]{1,3})", raw[p:])) is not None:
                out.append(int(m.group(1), 8) & 0xFF)
                p += m.end()
            else:
                p += 1
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
            p += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth == 0:
                return bytes(out), p + 1
            out.append(c)
            p += 1
        else:
            out.append(c)
            p += 1
    raise ValueError("unterminated string")


def _load_compressed_obj(raw: bytes, offsets: dict, num: int, stm_num: int, idx: int,
                         crypt=None):
    """Object packed in a /Type /ObjStm object stream: decode the
    container, read its (obj_num, offset) header pairs, parse the value
    at /First + offset. Compressed objects never carry streams. The
    CONTAINER stream is decrypted (crypt applies at its object number);
    per ISO 32000 strings inside an object stream are not separately
    encrypted."""
    sval, sdata = _load_obj(raw, offsets, stm_num, crypt)
    if not isinstance(sval, dict) or sval.get("Type") != ("name", "ObjStm") or sdata is None:
        raise ValueError(f"object {num}: container {stm_num} is not an ObjStm")
    first = int(sval["First"])
    count = int(sval["N"])
    nums = [int(x) for x in re.findall(rb"\d+", sdata[:first])]
    pairs = list(zip(nums[0::2], nums[1::2]))[:count]
    if idx < len(pairs) and pairs[idx][0] == num:
        off = pairs[idx][1]
    else:  # index drift: fall back to a scan for the object number
        cand = [o for n2, o in pairs if n2 == num]
        if not cand:
            raise ValueError(f"object {num} not in stream {stm_num}")
        off = cand[0]
    return _parse_value(sdata, _skip_ws(sdata, first + off))[0]


def _load_obj(raw: bytes, offsets: dict, num: int, crypt=None):
    """Object at xref offset → (dict_or_value, stream_bytes_or_None).
    ``crypt`` (webx.pdfcrypt.StandardSecurityHandler) decrypts stream
    bytes BEFORE filters run — Algorithm 1's per-object key uses this
    object's number/generation."""
    if num not in offsets:
        raise ValueError(f"missing object {num}")
    loc = offsets[num]
    if isinstance(loc, tuple) and loc[0] == "instm":
        return _load_compressed_obj(raw, offsets, num, loc[1], loc[2], crypt), None
    p = loc
    m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj", raw[p:])
    if not m or int(m.group(1)) != num:
        raise ValueError(f"object header mismatch at {p}")
    p += m.end()
    val, p = _parse_value(raw, _skip_ws(raw, p))
    p = _skip_ws(raw, p)
    stream = None
    if raw[p : p + 6] == b"stream":
        p += 6
        if raw[p : p + 2] == b"\r\n":
            p += 2
        elif raw[p : p + 1] == b"\n":
            p += 1
        length = val.get("Length") if isinstance(val, dict) else None
        if isinstance(length, tuple) and length[0] == "ref":
            length = _load_obj(raw, offsets, length[1])[0]
        stream = raw[p : p + int(length)]
        if crypt is not None:
            stream = crypt.decrypt(num, int(m.group(2)), stream)
        if isinstance(val, dict):
            stream = _decode_stream(
                stream, val.get("Filter"), val.get("DecodeParms")
            )
    return val, stream


def _deref(raw, offsets, v, crypt=None):
    if isinstance(v, tuple) and v and v[0] == "ref":
        return _load_obj(raw, offsets, v[1], crypt)[0]
    return v


# ----------------------------------------------------------- font maps
#
# Show-string bytes are code units, not characters. Composite (Type0)
# fonts carry the code→unicode map in a /ToUnicode CMap stream; simple
# fonts map single bytes through /Encoding (base table + /Differences
# glyph-name overrides). Fonts with neither fall back to the UTF-8
# byte decode (the synthetic-fixture contract, and the best-effort
# policy for fonts we cannot map). The reference analog is the
# recognizer's char dictionary (mindocr/utils/dict/*,
# mindocr/postprocess/rec_postprocess.py:36-60): decode indices through
# a lookup table to characters.

_CMAP_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")


def _cmap_hexbytes(tok: bytes) -> bytes:
    hx = re.sub(rb"\s", b"", tok)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


def _parse_tounicode(
    cmap: bytes,
) -> Tuple[List[Tuple[bytes, bytes]], Dict[bytes, str]]:
    """/ToUnicode CMap stream → (codespace ranges as (lo, hi) byte
    pairs, {code bytes → unicode str}). Handles codespacerange (kept as
    RANGES, not just widths — multi-width CMaps frame codes by matching
    the next bytes against a declared range, so membership in the
    mapping must not drive width selection), bfchar pairs, and BOTH
    bfrange forms (<lo> <hi> <dstStart> with the last UTF-16 unit
    incrementing, and <lo> <hi> [<dst> …]). Destination hex is UTF-16BE:
    surrogate pairs for non-BMP, multiple units for ligature
    expansions."""
    ranges: List[Tuple[bytes, bytes]] = []
    mapping: Dict[bytes, str] = {}

    def dst_str(hx: bytes) -> str:
        return _cmap_hexbytes(hx).decode("utf-16-be", errors="replace")

    for m in re.finditer(rb"begincodespacerange(.*?)endcodespacerange", cmap, re.S):
        toks = [_cmap_hexbytes(hm.group(1)) for hm in _CMAP_HEX_RE.finditer(m.group(1))]
        for lo, hi in zip(toks[0::2], toks[1::2]):
            if len(lo) == len(hi):
                ranges.append((lo, hi))
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", cmap, re.S):
        toks = _CMAP_HEX_RE.findall(m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            mapping[_cmap_hexbytes(src)] = dst_str(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", cmap, re.S):
        body = m.group(1)
        pos, n = 0, len(body)
        while pos < n:
            lo_m = _CMAP_HEX_RE.search(body, pos)
            if not lo_m:
                break
            hi_m = _CMAP_HEX_RE.search(body, lo_m.end())
            if not hi_m:
                break
            lo = _cmap_hexbytes(lo_m.group(1))
            hi = _cmap_hexbytes(hi_m.group(1))
            w = len(lo)
            pos = hi_m.end()
            arr = re.match(rb"\s*(\[)?", body[pos:])
            lo_i, hi_i = int.from_bytes(lo, "big"), int.from_bytes(hi, "big")
            if arr.group(1):  # array form: one dst per code
                pos += arr.end()
                end = body.find(b"]", pos)
                if end < 0:
                    break
                for i, d in enumerate(_CMAP_HEX_RE.findall(body[pos:end])):
                    mapping[(lo_i + i).to_bytes(w, "big")] = dst_str(d)
                pos = end + 1
            else:  # incrementing form: last UTF-16BE unit counts up
                d_m = _CMAP_HEX_RE.search(body, pos)
                if not d_m:
                    break
                base = _cmap_hexbytes(d_m.group(1))
                prefix, last = base[:-2], int.from_bytes(base[-2:] or b"\0\0", "big")
                for i in range(hi_i - lo_i + 1):
                    mapping[(lo_i + i).to_bytes(w, "big")] = (
                        prefix + ((last + i) & 0xFFFF).to_bytes(2, "big")
                    ).decode("utf-16-be", errors="replace")
                pos = d_m.end()
    return sorted(ranges, key=lambda r: (len(r[0]), r[0])) or [(b"\x00\x00", b"\xff\xff")], mapping


def _cmap_decoder(
    ranges: List[Tuple[bytes, bytes]], mapping: Dict[bytes, str]
) -> Callable[[bytes], str]:
    """String bytes → text via the CMap. Width selection follows the
    PDF spec: at each position the next bytes are matched BYTE-WISE
    against the declared codespace ranges, shortest width first — a
    code inside a matched range consumes that width whether or not it
    is mapped (unmapped → U+FFFD), so an unmapped 1-byte code can never
    swallow the first byte of the following 2-byte code. Bytes outside
    every range fall back to mapping membership (CMaps that omit
    codespacerange), then to a single U+FFFD of the widest declared
    unit. Fail-soft, never raises."""
    by_w: Dict[int, List[Tuple[bytes, bytes]]] = {}
    for lo, hi in ranges:
        by_w.setdefault(len(lo), []).append((lo, hi))
    widths = sorted(by_w)

    def decode(s: bytes) -> str:
        out: List[str] = []
        i, n = 0, len(s)
        while i < n:
            for w in widths:
                code = s[i : i + w]
                if len(code) == w and any(
                    all(l <= c <= h for c, l, h in zip(code, lo, hi))
                    for lo, hi in by_w[w]
                ):
                    out.append(mapping.get(code, "�"))
                    i += w
                    break
            else:
                for w in widths:  # no range matched: membership fallback
                    code = s[i : i + w]
                    if code in mapping:
                        out.append(mapping[code])
                        i += w
                        break
                else:
                    i += widths[-1] if i + widths[-1] <= n else 1
                    out.append("�")
        return "".join(out)

    return decode


# Adobe Glyph List subset: ASCII names, Latin-1/15 accents, and the
# typographic punctuation real /Differences arrays use. uniXXXX / uXXXX
# names decode positionally and need no table.
_AGL: Dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "Euro": "€", "trademark": "™",
    "copyright": "©", "registered": "®", "degree": "°",
    "plusminus": "±", "mu": "µ", "periodcentered": "·",
    "onehalf": "½", "onequarter": "¼", "threequarters": "¾",
    "exclamdown": "¡", "questiondown": "¿", "cent": "¢",
    "sterling": "£", "yen": "¥", "section": "§",
    "dieresis": "¨", "guillemotleft": "«",
    "guillemotright": "»", "germandbls": "ß",
    "agrave": "à", "aacute": "á", "acircumflex": "â",
    "atilde": "ã", "adieresis": "ä", "aring": "å",
    "ae": "æ", "ccedilla": "ç", "egrave": "è",
    "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "icircumflex": "î",
    "idieresis": "ï", "eth": "ð", "ntilde": "ñ",
    "ograve": "ò", "oacute": "ó", "ocircumflex": "ô",
    "otilde": "õ", "odieresis": "ö", "divide": "÷",
    "oslash": "ø", "ugrave": "ù", "uacute": "ú",
    "ucircumflex": "û", "udieresis": "ü", "yacute": "ý",
    "thorn": "þ", "ydieresis": "ÿ",
    "Agrave": "À", "Aacute": "Á", "Adieresis": "Ä",
    "Aring": "Å", "AE": "Æ", "Ccedilla": "Ç",
    "Eacute": "É", "Ntilde": "Ñ", "Odieresis": "Ö",
    "Oslash": "Ø", "Udieresis": "Ü", "OE": "Œ",
    "oe": "œ", "Scaron": "Š", "scaron": "š",
    "Ydieresis": "Ÿ", "Zcaron": "Ž", "zcaron": "ž",
    "florin": "ƒ", "circumflex": "ˆ", "tilde": "˜",
    "dagger": "†", "daggerdbl": "‡", "perthousand": "‰",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "fi": "ﬁ", "fl": "ﬂ",
}
for _c in range(0x41, 0x7B):  # A-Z a-z glyph names are the letters themselves
    if chr(_c).isalpha():
        _AGL.setdefault(chr(_c), chr(_c))


def _glyph_to_char(name: str) -> str:
    if name in _AGL:
        return _AGL[name]
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})", name)
    if m:
        return chr(int(m.group(1), 16))
    m = re.fullmatch(r"u([0-9A-Fa-f]{4,6})", name)
    if m:
        cp = int(m.group(1), 16)
        return chr(cp) if cp <= 0x10FFFF else "�"
    return "�"


def _base_encoding_table(name: Optional[str]) -> List[str]:
    # WinAnsi == cp1252, MacRoman == mac-roman; Standard/absent ≈
    # latin-1 for the printable range (documented approximation —
    # StandardEncoding differs from Latin-1 only in glyphs the fixtures
    # never use).
    codec = {"WinAnsiEncoding": "cp1252", "MacRomanEncoding": "mac-roman"}.get(
        name or "", "latin-1"
    )
    table = []
    for b in range(256):
        try:
            table.append(bytes([b]).decode(codec))
        except UnicodeDecodeError:
            table.append("�")
    return table


def _simple_font_decoder(
    base: Optional[str], differences: list
) -> Callable[[bytes], str]:
    """Single-byte font decode: base encoding table overridden by the
    /Differences array ([code /name /name code /name …] — numbers set
    the next code, names consume consecutive codes)."""
    table = _base_encoding_table(base)
    code = 0
    for item in differences:
        if isinstance(item, (int, float)):
            code = int(item)
        else:
            name = item[1] if isinstance(item, tuple) else str(item)
            if 0 <= code < 256:
                table[code] = _glyph_to_char(name)
            code += 1

    def decode(s: bytes) -> str:
        return "".join(table[b] for b in s)

    return decode


def _one_font_decoder(raw: bytes, offsets: dict, fval, crypt=None) -> Optional[Callable[[bytes], str]]:
    """Font dict → decode callable, or None for the UTF-8 fallback.
    Priority: /ToUnicode CMap (authoritative when present, simple or
    composite), then simple-font /Encoding. Unparsable font structures
    fall back to None — a bad font must not fail the document."""
    try:
        if not isinstance(fval, dict):
            return None
        tu = fval.get("ToUnicode")
        if isinstance(tu, tuple) and tu[0] == "ref":
            _, stream = _load_obj(raw, offsets, tu[1], crypt)
            if stream:
                ranges, mapping = _parse_tounicode(stream)
                if mapping:
                    return _cmap_decoder(ranges, mapping)
        enc = _deref(raw, offsets, fval.get("Encoding"), crypt)
        if isinstance(enc, dict):
            base = enc.get("BaseEncoding")
            base_name = base[1] if isinstance(base, tuple) else None
            return _simple_font_decoder(base_name, enc.get("Differences", []))
        if isinstance(enc, tuple) and enc[0] == "name" and enc[1] in (
            "WinAnsiEncoding",
            "MacRomanEncoding",
        ):
            return _simple_font_decoder(enc[1], [])
        return None
    except Exception:
        return None


def _font_decoders(raw: bytes, offsets: dict, resources,
                   crypt=None) -> Dict[bytes, Callable]:
    """Page /Resources → {b'/F1': decoder} for fonts that carry a map;
    fonts without one are simply absent (UTF-8 fallback)."""
    fonts: Dict[bytes, Callable] = {}
    if not isinstance(resources, dict):
        return fonts
    fdict = _deref(raw, offsets, resources.get("Font"), crypt)
    if not isinstance(fdict, dict):
        return fonts
    for name, ref in fdict.items():
        try:
            dec = _one_font_decoder(
                raw, offsets, _deref(raw, offsets, ref, crypt), crypt
            )
        except Exception:
            dec = None
        if dec is not None:
            fonts[b"/" + name.encode("latin-1")] = dec
    return fonts


def page_content_streams(raw: bytes) -> List[bytes]:
    """Stage-1 structural walk: xref → /Root → page tree → decoded
    content streams in page order."""
    return [c for c, _ in page_contents_with_fonts(raw)]


def _build_crypt(raw: bytes, offsets: dict, trailer: dict):
    """/Encrypt in the trailer → a verified empty-user-password handler
    (webx/pdfcrypt.py), or None for unencrypted files. Unsupported
    schemes and non-empty passwords raise UnsupportedEncryption —
    extract_pdf fails soft to status='unsupported' (no mis-decodes,
    no row loss). The /Encrypt dict and its /O //U strings are read
    WITHOUT decryption (they never are), as is the /ID."""
    enc = trailer.get("Encrypt")
    if enc is None:
        return None
    from webx.pdfcrypt import handler_from_encrypt_dict

    encd = _deref(raw, offsets, enc)
    ids = trailer.get("ID") or []
    id0 = ids[0][1] if ids and isinstance(ids[0], tuple) and ids[0][0] == "str" else b""
    return handler_from_encrypt_dict(
        encd, bytes(id0), lambda v: _deref(raw, offsets, v)
    )


def page_contents_with_fonts(raw: bytes) -> List[Tuple[bytes, Dict[bytes, Callable]]]:
    """Stage-1 walk returning (content stream, font decode maps) per
    page. /Resources inherits down the page tree (PDF 7.7.3.4).
    Encrypted documents (RC4/AESV2 standard security, empty user
    password) are transparently decrypted object-by-object."""
    offsets, trailer = _parse_xref(raw)
    crypt = _build_crypt(raw, offsets, trailer)
    root = _deref(raw, offsets, trailer["Root"], crypt)
    pages: List[Tuple[bytes, Dict[bytes, Callable]]] = []

    def walk(node, inherited_res):
        ntype = node.get("Type")
        res = node.get("Resources", None)
        res = _deref(raw, offsets, res, crypt) if res is not None else inherited_res
        if ntype == ("name", "Pages"):
            for kid in node.get("Kids", []):
                walk(_deref(raw, offsets, kid, crypt), res)
        elif ntype == ("name", "Page"):
            contents = node.get("Contents")
            refs = contents if isinstance(contents, list) else [contents]
            parts = []
            for r in refs:
                if isinstance(r, tuple) and r[0] == "ref":
                    _, s = _load_obj(raw, offsets, r[1], crypt)
                    if s is not None:
                        parts.append(s)
            pages.append(
                (b"\n".join(parts), _font_decoders(raw, offsets, res, crypt))
            )

    walk(_deref(raw, offsets, root["Pages"], crypt), None)
    return pages


# ------------------------------------------------------------ text decode

# Content-stream lexer: ONE regex drives both region detection and the
# decode scan, with a dedicated alternative for the string OPENER so the
# scanner can hand balanced/escaped strings to _parse_string — a naive
# string regex (or a bare \bET\b search) would terminate at the first
# unescaped ')' or match a BT/ET *inside* a string literal, silently
# corrupting text that contains those tokens.
_CTOK_RE = re.compile(
    rb"\("                     # string opener → scanner calls _parse_string
    rb"|<[0-9A-Fa-f\s]*>"       # hex string (skipped as data)
    rb"|\[|\]"
    rb"|/[A-Za-z0-9#._-]+"
    rb"|[+-]?\d+(?:\.\d+)?|[+-]?\.\d+"
    rb"|[A-Za-z'\"*][A-Za-z0-9'\"*]*"
)


def _content_tokens(content: bytes, pos: int = 0, end: Optional[int] = None):
    """Yield (kind, value, tok_start, tok_end) over a content stream:
    kind 'str' (raw string bytes), 'num', 'name', 'delim', or 'op'.
    String literals are consumed with full nesting/escape semantics."""
    n = len(content) if end is None else end
    while pos < n:
        m = _CTOK_RE.search(content, pos, n)
        if not m:
            return
        tok = m.group(0)
        if tok == b"(":
            try:
                s, pos2 = _parse_string(content, m.start())
            except ValueError:
                return  # unterminated string: stop the scan
            yield ("str", s, m.start(), pos2)
            pos = pos2
            continue
        pos = m.end()
        if tok.startswith(b"<"):
            yield ("hex", tok, m.start(), pos)
        elif tok in (b"[", b"]"):
            yield ("delim", tok, m.start(), pos)
        elif tok.startswith(b"/"):
            yield ("name", tok, m.start(), pos)
        elif re.match(rb"[+-]?[\d.]", tok):
            yield ("num", tok, m.start(), pos)
        else:
            yield ("op", tok, m.start(), pos)


def detect_text_objects(content: bytes) -> List[Tuple[int, int]]:
    """Stage 1 within a content stream: (start, end) byte regions of
    BT…ET text objects — the region proposals. BT/ET are matched as
    OPERATOR tokens by the string-aware lexer, so 'BT'/'ET' appearing
    inside string literals cannot open or close a region."""
    regions = []
    start: Optional[int] = None
    for kind, tok, t0, t1 in _content_tokens(content):
        if kind != "op":
            continue
        if tok == b"BT" and start is None:
            start = t0
        elif tok == b"ET" and start is not None:
            regions.append((start, t1))
            start = None
    return regions


def regions_with_fonts(
    content: bytes,
) -> List[Tuple[int, int, Optional[bytes]]]:
    """Stage 1 with font tracking: (start, end, active_font_name) per
    BT…ET region. Tf is GRAPHICS STATE — it persists across text
    objects within one content stream and may be issued before the
    first BT (common real-writer output), so the walk tracks the last
    Tf across the whole stream, not per region."""
    regions: List[Tuple[int, int, Optional[bytes]]] = []
    start: Optional[int] = None
    start_font: Optional[bytes] = None
    last_name: Optional[bytes] = None
    cur_font: Optional[bytes] = None
    for kind, tok, t0, t1 in _content_tokens(content):
        if kind == "name":
            last_name = tok
        elif kind == "op":
            if tok == b"Tf":
                cur_font = last_name
            elif tok == b"BT" and start is None:
                start, start_font = t0, cur_font
            elif tok == b"ET" and start is not None:
                regions.append((start, t1, start_font))
                start = None
    return regions


def decode_text_object(
    region: bytes,
    fonts: Optional[Dict[bytes, Callable]] = None,
    initial_font: Optional[bytes] = None,
) -> str:
    """Stage 2: sequential decode of one BT…ET region. Show ops Tj / TJ /
    ' / \" append text; Td/TD with a vertical move, T*, and Tm with a new
    y start a new line. (The CTC-decode analog: an ordered scan that
    emits the final sequence.) ``fonts`` maps font name tokens (b'/F1')
    to decode callables; Tf switches the active map, strings under a
    font with no map decode as UTF-8 bytes (the fixture contract).
    ``initial_font`` is the font selected BEFORE this region (Tf state
    persists across text objects — see regions_with_fonts)."""
    lines: List[str] = [""]
    stack: List[bytes] = []
    nums: List[float] = []
    last_ty: Optional[float] = None
    last_name: Optional[bytes] = None
    cur_decode: Optional[Callable[[bytes], str]] = None
    if initial_font is not None:
        cur_decode = (fonts or {}).get(initial_font)

    def show(s: bytes) -> None:
        lines[-1] += (
            cur_decode(s) if cur_decode is not None
            else s.decode("utf-8", errors="replace")
        )

    def newline() -> None:
        if lines[-1] != "" or len(lines) == 1:
            lines.append("")

    for kind, tok, _, _ in _content_tokens(region):
        if kind == "str":
            stack.append(tok)  # already-decoded raw bytes
        elif kind == "hex":
            hx = re.sub(rb"[^0-9A-Fa-f]", b"", tok[1:-1])
            if len(hx) % 2:
                hx += b"0"  # PDF: odd final digit implies trailing 0
            stack.append(bytes.fromhex(hx.decode("ascii")))
        elif kind == "delim":
            continue  # array delimiters don't clear state
        elif kind == "name":
            last_name = tok
        elif kind == "num":
            nums.append(float(tok))
        else:
            op = tok
            if op == b"Tj" and stack:
                show(stack[-1])
            elif op == b"TJ":
                for s in stack:
                    show(s)
            elif op == b"'":
                newline()
                if stack:
                    show(stack[-1])
            elif op == b'"':
                newline()
                if stack:
                    show(stack[-1])
            elif op in (b"Td", b"TD"):
                if len(nums) >= 2 and nums[-1] != 0:
                    newline()
            elif op == b"T*":
                newline()
            elif op == b"Tm":
                if len(nums) >= 6 and (last_ty is None or nums[-1] != last_ty):
                    if last_ty is not None:
                        newline()
                    last_ty = nums[-1]
            elif op == b"Tf":
                cur_decode = (fonts or {}).get(last_name) if last_name else None
            stack = []
            nums = []
    return "\n".join(line for line in lines if line != "")


def parse_pdf(raw: bytes) -> Tuple[str, List[Tuple[int, int]]]:
    """Full two-stage parse → (text, spans). Spans are character
    [start, end) offsets of each text object's contribution in the final
    text, pages and text objects joined with newlines."""
    pieces: List[str] = []
    spans: List[Tuple[int, int]] = []
    pos = 0
    for content, fonts in page_contents_with_fonts(raw):
        for r0, r1, font0 in regions_with_fonts(content):
            t = decode_text_object(content[r0:r1], fonts=fonts, initial_font=font0)
            if not t:
                continue
            if pieces:
                pos += 1  # joining newline
            spans.append((pos, pos + len(t)))
            pieces.append(t)
            pos += len(t)
    return "\n".join(pieces), spans


PDF_OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("start", T.LongType()),
                        T.StructField("end", T.LongType()),
                        T.StructField("kind", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("status", T.StringType()),
        T.StructField("conf", T.DoubleType()),
        # meta.html_bytes = input container bytes (named for schema
        # compatibility with the HTML lane's lineage contract)
        T.StructField(
            "meta", T.StructType([T.StructField("html_bytes", T.LongType())])
        ),
    ]
)


def pdf_row(url, raw):
    """One PDF → one PDF_OUT_SCHEMA row; unsupported constructs give
    status='unsupported', text=''."""
    data = bytes(raw) if raw is not None else b""
    try:
        text, spans = parse_pdf(data)
        status = "ok"
    except Exception:
        text, spans, status = "", [], "unsupported"
    return ((
        url,
        text,
        [{"start": a, "end": b, "kind": "text"} for a, b in spans],
        status,
        1.0 if status == "ok" else 0.0,
        {"html_bytes": len(data)},
    ),)


def extract_pdf(
    pdfs: DataFrame,
    url_col: str = "url",
    pdf_col: str = "pdf",
    passthrough: tuple = (),
) -> DataFrame:
    """(url, pdf binary) → (url, text, spans, status, conf, meta) in one
    fused Arrow pass — the PDF lane of the flagship zero-shuffle
    extraction plan. ``passthrough`` columns ride through the batch
    unchanged (the HTML lane's passthrough contract). Unsupported
    constructs → status='unsupported', text='', no row loss."""
    return map_lane(
        pdfs.select(F.col(url_col), F.col(pdf_col), *passthrough),
        pdf_row, PDF_OUT_SCHEMA, (url_col, pdf_col), passthrough,
    )


def checkpointed_pdf_extract_fn(subset: DataFrame, cfg, passthrough) -> DataFrame:
    """Adapter matching webx.lineage's ``extract_fn`` contract so PDF
    corpora get the same partition-granular checkpoint/resume as HTML:
    input (url, pdf, partition cols…) → lineage-shaped output. ``cfg``
    is accepted for signature parity (PDF decode has no threshold knobs
    today)."""
    return extract_pdf(subset, passthrough=tuple(passthrough))
