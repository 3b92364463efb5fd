"""Charset sniffing + decoding (SURVEY.md A3–A4).

Reference behavior ([P: XHtmlKit.Network/HttpClientExtensions.cs
GetTextReaderAsync] and the encoding helper in XHtmlKit): charset
priority is HTTP header (when present) → BOM → ``<meta>`` sniff of
the first bytes, re-decoding the buffered window when the meta
declaration disagrees with the provisional codec → UTF-8 fallback.

In the batch pipeline the whole payload is available, so "re-decode
the window" degenerates to: pick the winning codec first, decode
once. Decode never raises (errors="replace") — A17's never-fail
discipline extended to bytes.
"""

from __future__ import annotations

import codecs
import re

__all__ = ["sniff", "decode_html_bytes", "spans_in_order", "SNIFF_WINDOW"]

SNIFF_WINDOW = 4096  # bytes scanned for <meta> declarations (A4)

# HTML5-style prescan: parse each <meta> tag's ATTRIBUTES, honoring a
# bare charset= attribute on any meta, but a content="...charset=..."
# only together with http-equiv=content-type. A naive substring scan
# would let <meta name=description content="... charset=koi8-r ...">
# hijack the document encoding.
_META_TAG_RE = re.compile(rb"<meta\b([^>]*)>", re.IGNORECASE)
_ATTR_RE = re.compile(
    rb"""([a-zA-Z\-]+)\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s"'>]+))"""
)
_CONTENT_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?\s*([a-zA-Z0-9_\-]+)", re.IGNORECASE)


def _meta_charset(window: bytes) -> bytes | None:
    for tag in _META_TAG_RE.finditer(window):
        attrs: dict = {}
        for m in _ATTR_RE.finditer(tag.group(1)):
            name = m.group(1).lower()
            if name not in attrs:
                attrs[name] = m.group(2) or m.group(3) or m.group(4) or b""
        if b"charset" in attrs:
            return attrs[b"charset"]
        if attrs.get(b"http-equiv", b"").lower() == b"content-type":
            m = _CONTENT_CHARSET_RE.search(attrs.get(b"content", b""))
            if m:
                return m.group(1)
    return None

_BOMS = (
    (codecs.BOM_UTF8, "utf-8", 3),
    (codecs.BOM_UTF32_LE, "utf-32-le", 4),  # must test before UTF-16LE
    (codecs.BOM_UTF32_BE, "utf-32-be", 4),
    (codecs.BOM_UTF16_LE, "utf-16-le", 2),
    (codecs.BOM_UTF16_BE, "utf-16-be", 2),
)


def _normalize(label: str) -> str | None:
    label = label.strip().lower()
    try:
        return codecs.lookup(label).name
    except LookupError:
        return None


def sniff(data: bytes, http_charset: str | None = None) -> tuple[str, int]:
    """Return ``(codec_name, bom_bytes_to_skip)`` for an HTML payload.

    Priority (A3/A4): HTTP header charset → BOM → ``<meta>`` within the
    first ``SNIFF_WINDOW`` bytes → UTF-8 fallback.
    """
    if http_charset:
        codec = _normalize(http_charset)
        if codec:
            # skip a matching BOM so it never shows up as text; when the
            # header is endianness-AGNOSTIC (utf-16/utf-32), the BOM is
            # the only byte-order signal — pin the codec from it rather
            # than stripping it and letting the decoder guess LE
            family = {
                "utf-16-le": "utf-16", "utf-16-be": "utf-16",
                "utf-32-le": "utf-32", "utf-32-be": "utf-32",
                "utf-8": "utf-8",
            }
            for bom, bom_codec, skip in _BOMS:
                if data.startswith(bom):
                    if codec == bom_codec:
                        return codec, skip
                    if codec == family[bom_codec]:
                        return bom_codec, skip
                    break  # header/BOM mismatch: header wins, keep BOM bytes
            return codec, 0
    for bom, codec, skip in _BOMS:
        if data.startswith(bom):
            return codec, skip
    label_b = _meta_charset(data[:SNIFF_WINDOW])
    if label_b is not None:
        label = label_b.decode("ascii", "ignore")
        codec = _normalize(label)
        if codec and not codec.startswith("utf-16") and not codec.startswith("utf-32"):
            # a meta label can't declare a BOM-less UTF-16/32 doc we just
            # read as ASCII-compatible; ignore such liars (frozen)
            return codec, 0
    return "utf-8", 0


def decode_html_bytes(data: bytes, http_charset: str | None = None) -> str:
    """Sniff + decode; never raises (undecodable bytes → U+FFFD)."""
    codec, skip = sniff(data, http_charset)
    return data[skip:].decode(codec, errors="replace")


def spans_in_order(kinds: list, texts: list, offsets: list):
    """Yield ``(i, kind, text)`` for one document's spans in offset
    order — the shared preamble of every per-document function. Null
    offsets sort after the real ones, ties stable by input position
    (the schema allows them, and a None<int comparison would kill the
    whole Arrow batch — A17 never-fail). html and pdf spans with NULL
    text are skipped; html bytes are sniffed and decoded (A3–A4).
    Other kinds pass through as-is: callers ignore kinds they do not
    handle."""
    order = sorted(
        range(len(kinds)),
        key=lambda i: (offsets[i] is None, offsets[i] if offsets[i] is not None else 0, i),
    )
    for i in order:
        kind = kinds[i]
        text = texts[i]
        if kind == "html" or kind == "pdf":
            if text is None:
                continue
            if kind == "html" and isinstance(text, (bytes, bytearray)):
                text = decode_html_bytes(bytes(text))
        yield i, kind, text
