"""Main-content extraction from markup documents (the north rule's
HTML-boilerplate-strip / PDF-parse / DOM-heuristics operators).

Both extractors are real parsers (stdlib html.parser; a PDF content-
stream reader that handles FlateDecode via zlib), run as Arrow-batched
mapInPandas kernels over opaque payload columns — the same pattern as
the image/audio/video decoders. The fixture generators build
deterministic documents whose main content is known in closed form, so
the extraction queries carry full DuckDB value-hash oracles.

DOM heuristic (the readability/trafilatura family, public algorithm):
block-level segmentation → per-block text length and link density →
boilerplate = short blocks or link-dominated blocks (navigation,
footers, ad rails are lists of anchors; body paragraphs are long and
link-free). No site-specific rules.
"""

from __future__ import annotations

import re
import zlib
from html.parser import HTMLParser

from pyspark.sql import DataFrame

__all__ = [
    "synth_html", "extract_main_html", "html_main_content",
    "synth_pdf", "extract_pdf_text", "pdf_text",
    "chunk_words",
]


def chunk_words(text: str, per_par: int = 10) -> list[str]:
    """Split a text into fixed-size word groups — the paragraph
    structure the fixture generators use (and the oracle reproduces)."""
    words = (text or "").split()
    return [" ".join(words[i:i + per_par])
            for i in range(0, len(words), per_par)]


# ---------------------------------------------------------------------------
# HTML
# ---------------------------------------------------------------------------

_NAV_WORDS = ("Home", "About", "Products", "Contact", "Login",
              "Register", "Careers", "Blog")


def synth_html(doc_id: int, text: str) -> str:
    """Deterministic page: link-only nav + optional ad rail +
    the document text as <p> paragraphs + link-only footer. Layout
    varies by doc_id (nav width, ad rail presence, a short teaser
    block that must ALSO be dropped — boilerplate by length)."""
    i = int(doc_id)
    nav = "".join(f'<li><a href="/{w.lower()}">{w}</a></li>'
                  for w in _NAV_WORDS[: 3 + i % 5])
    ads = ""
    if i % 3:
        ads = ("<div class=\"rail\">"
               + "".join(f'<p><a href="/ad{k}">Sponsored link {k} '
                         f'click here now</a></p>'
                         for k in range(2 + i % 3))
               + "</div>")
    paras = "".join(f"<p>{p}</p>" for p in chunk_words(text))
    teaser = f"<p>Read more {i % 7}</p>"
    footer = ("<div>"
              + " ".join(f'<a href="/f{k}">Terms {k}</a>'
                         for k in range(4))
              + "</div>")
    return (f"<html><head><title>Doc {i}</title>"
            f"<script>var x = {i};</script>"
            f"<style>p {{margin: 0}}</style></head>"
            f"<body><ul>{nav}</ul>{ads}<article>{paras}{teaser}"
            f"</article>{footer}</body></html>")


_BLOCK_TAGS = frozenset((
    "p", "div", "article", "section", "li", "td", "th", "blockquote",
    "pre", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "table",
    "header", "footer", "nav", "aside", "main", "body",
))
_SKIP_TAGS = frozenset(("script", "style", "noscript", "template"))


class _BlockParser(HTMLParser):
    """DOM walk → flat block list [(text_chars, link_chars, text)]:
    a block closes when its block-level element closes; anchor text is
    counted separately for the link-density score."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[int, int, str]] = []
        self._buf: list[str] = []
        self._link_chars = 0
        self._in_anchor = 0
        self._skip = 0

    def _flush(self):
        txt = re.sub(r"\s+", " ", "".join(self._buf)).strip()
        if txt:
            self.blocks.append((len(txt), self._link_chars, txt))
        self._buf = []
        self._link_chars = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip += 1
        elif tag == "a":
            self._in_anchor += 1
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag == "a":
            self._in_anchor = max(0, self._in_anchor - 1)
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data):
        if self._skip:
            return
        self._buf.append(data)
        if self._in_anchor:
            self._link_chars += len(re.sub(r"\s+", " ", data).strip())

    def close(self):
        super().close()
        self._flush()


def extract_main_html(html: str, min_len: int = 25,
                      max_link_density: float = 0.33) -> str:
    """Boilerplate strip: keep blocks that are long enough AND not
    link-dominated; join with newlines. Deterministic, site-agnostic."""
    p = _BlockParser()
    try:
        p.feed(html or "")
        p.close()
    except Exception:
        return ""
    kept = [
        txt for chars, link_chars, txt in p.blocks
        if chars >= min_len and link_chars / chars <= max_link_density
    ]
    return "\n".join(kept)


def html_main_content(df: DataFrame, id_col: str = "doc_id",
                      html_col: str = "html") -> DataFrame:
    """(id, html) → (id, main_text) via the block/link-density
    heuristic — Arrow-batched, stateless, trivially partitionable."""
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "main_text": [extract_main_html(h)
                              for h in pdf[html_col]],
            })

    return df.select(id_col, html_col).mapInPandas(
        gen, f"{id_col} {id_type}, main_text string")


# ---------------------------------------------------------------------------
# PDF
# ---------------------------------------------------------------------------


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def synth_pdf(doc_id: int, text: str) -> bytes:
    """Minimal valid single-page PDF whose content stream draws the
    document's paragraphs as text lines; the stream is FlateDecode-
    compressed for even doc_ids (the real-world encoding), raw for odd
    ones — both paths exercise the extractor."""
    lines = chunk_words(text)
    content = ["BT /F1 12 Tf 72 770 Td 14 TL"]
    for ln in lines:
        content.append(f"({_pdf_escape(ln)}) Tj T*")
    content.append("ET")
    stream = " ".join(content).encode("latin-1", "replace")
    flate = int(doc_id) % 2 == 0
    if flate:
        body_stream = zlib.compress(stream)
        filt = " /Filter /FlateDecode"
    else:
        body_stream = stream
        filt = ""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
         b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"),
        (f"<< /Length {len(body_stream)}{filt} >>\nstream\n".encode()
         + body_stream + b"\nendstream"),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for n, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{n} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


_STREAM_AT_RX = re.compile(rb"stream(\r\n|\n)")
_LENGTH_RX = re.compile(rb"/Length\s+(\d+)\b")


def _dict_before(seg: bytes) -> bytes:
    """The full stream dictionary ending at ``seg``'s tail: scan
    backward balancing ``<<``/``>>`` pairs. A plain ``rfind(b"<<")``
    grabs the innermost nested dict (/DecodeParms << >>, /Resources
    << >> ...), losing /Length and /Filter on real-world PDFs."""
    end = seg.rfind(b">>")
    if end == -1:
        return b""
    depth = 0
    i = end
    while i >= 0:
        if seg.startswith(b">>", i):
            depth += 1
            i -= 2
            continue
        if seg.startswith(b"<<", i):
            depth -= 1
            if depth == 0:
                return seg[i:end + 2]
            i -= 2
            continue
        i -= 1
    return b""


def _stream_objects(payload: bytes):
    """Yield (dict_bytes, data_bytes) per stream object, honoring
    /Length to delimit the data exactly — regex-scanning to
    ``endstream`` strips a trailing 0x0D from binary data (the classic
    PDF pitfall: compressed bytes ending in '\\r' merge into the
    end-of-line marker). Falls back to the endstream scan only when
    /Length is absent or inconsistent."""
    for m in _STREAM_AT_RX.finditer(payload):
        start = m.end()
        seg = payload[max(0, m.start() - 600):m.start()]
        head = _dict_before(seg)
        lm = _LENGTH_RX.search(head)
        if lm:
            n = int(lm.group(1))
            data = payload[start:start + n]
            tail = payload[start + n:start + n + 16]
            if len(data) == n and b"endstream" in tail:
                yield head, data
                continue
        em = payload.find(b"endstream", start)
        if em == -1:
            continue
        data = payload[start:em]
        if data.endswith(b"\r\n"):
            data = data[:-2]
        elif data.endswith(b"\n") or data.endswith(b"\r"):
            data = data[:-1]
        yield head, data
_TJ_RX = re.compile(r"\(((?:\\.|[^\\()])*)\)\s*Tj")
_UNESC_RX = re.compile(r"\\([\\()nrtbf]|[0-7]{1,3})")


def _unescape_pdf(s: str) -> str:
    def sub(m):
        g = m.group(1)
        if g in ("\\", "(", ")"):
            return g
        mapping = {"n": "\n", "r": "\r", "t": "\t", "b": "\b",
                   "f": "\f"}
        if g in mapping:
            return mapping[g]
        return chr(int(g, 8))
    return _UNESC_RX.sub(sub, s)


def extract_pdf_text(payload: bytes) -> str | None:
    """Text extraction from uncompressed or FlateDecode content
    streams: find stream objects, inflate when filtered, pull the
    ``(string) Tj`` show-text operands in order, one output line per
    Tj. None when the payload is not a PDF."""
    if not payload or not payload.startswith(b"%PDF"):
        return None
    lines: list[str] = []
    for head, data in _stream_objects(payload):
        if b"FlateDecode" in head:
            try:
                data = zlib.decompress(data)
            except zlib.error:
                continue
        try:
            txt = data.decode("latin-1")
        except UnicodeDecodeError:
            continue
        if "BT" not in txt:
            continue
        for tm in _TJ_RX.finditer(txt):
            lines.append(_unescape_pdf(tm.group(1)))
    return "\n".join(lines)


def pdf_text(df: DataFrame, id_col: str = "doc_id",
             payload_col: str = "payload") -> DataFrame:
    """(id, pdf payload) → (id, pdf_text); non-PDF payloads drop."""
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]

    def gen(batches):
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                t = extract_pdf_text(
                    bytes(payload) if payload is not None else b"")
                if t is not None:
                    rows.append((did, t))
            yield pd.DataFrame(rows, columns=[id_col, "pdf_text"])

    return df.select(id_col, payload_col).mapInPandas(
        gen, f"{id_col} {id_type}, pdf_text string")
