"""Minimal PDF writer + layout parser (no third-party libs).

The reference extracts page layout through pypdf visitors
(/root/reference/packages/typhoon_ocr/typhoon_ocr/ocr_utils.py:358-388):
the text visitor records each text-show with the translation components
of ``tm x cm`` (ocr_utils.py:365-367), and the image visitor records a
unit square pushed through the CTM for every ``Do`` of an
``/Subtype /Image`` XObject, ignoring /Width//Height
(ocr_utils.py:369-380). pypdf is unavailable here, so this module is
the engine's own content-stream interpreter for the documented operator
subset — ``BT/ET, Td/TD/Tm/T*/TL, Tj/TJ/'/", cm/q/Q, Do`` — with those
exact placement semantics. Fixture PDFs (written by ``MiniPdfWriter``)
stay inside that subset and always reposition before each show op, so
glyph-advance modeling is not needed.

Supported file structure: classic xref tables AND cross-reference
streams (PDF 1.5+), /Prev chains and hybrid /XRefStm files, objects
packed into /ObjStm object streams, stream filters /FlateDecode
(with PNG predictors 10-15, the form xref streams use) and
/ASCIIHexDecode, page tree with nested /Kids, /MediaBox and
/Resources inheritable from parent nodes, single or array /Contents.
Any other /Filter raises MiniPdfError so the page surfaces as a
visible error row instead of silently-empty success text.
"""

from __future__ import annotations

import re
import zlib
from typing import Dict, List, Optional, Tuple

from .elements import (
    BoundingBox,
    ImageElement,
    PageReport,
    TextElement,
    mat_mult,
    transform_point,
)

IDENTITY = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]


# --------------------------------------------------------------------------
# Object model (tiny): PDF values are represented as Python values;
# names as strings starting with "/", references as ("ref", num).
# --------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_WS_RUN_RE = re.compile(rb"[\x00\t\n\x0c\r ]+")
_HEX_FILTER_RE = re.compile(rb"[^0-9a-fA-F]")

# Master scanner: one compiled alternation per token class, leading
# whitespace folded into the same match, so the common token costs ONE
# regex call and callers dispatch on ``lastgroup``. Besides numbers,
# names, operators and comments it takes the two common string shapes
# whole: a literal with no escape and no nesting (``str``) and a hex
# string of bare digits (``hex``). Anything else that starts at a
# delimiter leaves ``lastgroup`` None and goes to the lexer's slow path.
_NUM = rb"[+-]?(?:\d+\.?\d*|\.\d+)"
_SPACE = rb"[\x00\t\n\x0c\r ]"
_REGULAR = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"
_VALUE = (  # every token class but the comment
    rb"(?P<num>" + _NUM + rb")"
    rb"|(?P<name>/" + _REGULAR + rb"*)"
    rb"|(?P<op>[^\x00\t\n\x0c\r ()<>\[\]{}/%+\-.0-9]" + _REGULAR + rb"*)"
    rb"|\((?P<str>[^()\\]*)\)"
    rb"|<(?P<hex>[0-9A-Fa-f]*)>"
)
_TOKEN = _VALUE + rb"|(?P<comment>%[^\r\n]*)"
_SCAN_RE = re.compile(_SPACE + rb"*(?:" + _TOKEN + rb")?")
# Object syntax also has indirect references: ``ref`` is a dot-free
# integer, then whitespace and comments, then ``\d+\s+R`` not followed by
# an alphanumeric. The possessive run takes every comment to its end of
# line, so no digits inside a comment can pass for the generation number.
# Content streams can't contain refs.
_REF = rb"(?P<ref>[+-]?\d+)(?:[\x00\t\n\x0c\r ]|%[^\r\n]*+)++\d+\s+R(?![A-Za-z0-9])"
_OBJ_SCAN_RE = re.compile(_SPACE + rb"*(?:" + _REF + rb"|" + _TOKEN + rb")?")
# A dictionary entry in one match: the end of the dictionary (``end``),
# a comment (``skip``), or a name key (``key``) followed, when the
# scanner takes it whole, by its value under the value's own token
# group. A comment or delimiter where the value starts leaves
# ``lastgroup`` "key"; anything else where a key belongs leaves it None.
_ENTRY = _SPACE + rb"*(?:(?P<end>>>)|(?P<skip>%[^\r\n]*)|(?P<key>/" + _REGULAR + rb"*)" + _SPACE + rb"*(?:"
_ENTRY_RE = re.compile(_ENTRY + _VALUE + rb")?)?")
_OBJ_ENTRY_RE = re.compile(_ENTRY + _REF + rb"|" + _VALUE + rb")?)?")

# The content interpreter's scanner also takes the three operations that
# make up nearly every text run whole, operands and operator in one
# match: "/F1 12 Tf" (``tf``), "x y Td" (``td_x``, ``td``) and
# "(s) Tj" / "<hex> Tj" (``tj``, ``tjh``). Each matches only where the
# token scanner would split the same bytes into exactly those tokens:
# numbers and names are maximal (whitespace follows them) and the
# operator ends at whitespace, a delimiter or the end of the stream.
_OP_END = rb"(?!" + _REGULAR + rb")"
# at most 30 digits, far below int()'s digit limit; a longer number
# fails the fused match and is scanned as a plain token
_SHORT_NUM = rb"[+-]?(?:\d{1,15}\.?\d{0,15}|\.\d{1,15})"
_CONTENT_SCAN_RE = re.compile(
    _SPACE + rb"*(?:"
    rb"(?P<tf>/" + _REGULAR + rb"*" + _SPACE + rb"+" + _NUM + _SPACE + rb"*Tf)" + _OP_END
    + rb"|(?P<td_x>" + _SHORT_NUM + rb")" + _SPACE + rb"+(?P<td>" + _SHORT_NUM + rb")"
    + _SPACE + rb"*Td" + _OP_END
    + rb"|\((?P<tj>[^()\\]*)\)" + _SPACE + rb"*Tj" + _OP_END
    + rb"|<(?P<tjh>[0-9A-Fa-f]*)>" + _SPACE + rb"*Tj" + _OP_END
    + rb"|" + _TOKEN + rb")?"
)
_WS = b"\x00\t\n\x0c\r "
_ESCAPES = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12, 0x28: 40, 0x29: 41, 0x5C: 92}


def _number(raw: bytes):
    if b"." in raw:
        return float(raw)
    try:
        return int(raw)
    except ValueError:  # beyond the int digit limit
        return float(raw)


def _hex_bytes(digits: bytes) -> bytes:
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii"))


def _scanned(m: "re.Match", kind: str):
    """Value of a token the scanner matched whole (not a comment)."""
    if kind == "num":
        return _number(m.group(kind))
    if kind == "ref":
        return ("ref", int(m.group(kind)))
    if kind == "str":
        return m.group(kind)
    if kind == "hex":
        return _hex_bytes(m.group(kind))
    return m.group(kind).decode("latin-1")  # name or op


class _Lexer:
    """Tokenizer for PDF object syntax + content streams.

    ``refs=False`` scans without the indirect-reference ("N 0 R")
    alternative: content streams can't contain refs. The content
    interpreter runs its own scan loop and comes here only for tokens
    that start at a delimiter the scanner doesn't take whole."""

    def __init__(self, data: bytes, pos: int = 0, refs: bool = True) -> None:
        self.data = data
        self.pos = pos
        self.scan = (_OBJ_SCAN_RE if refs else _SCAN_RE).match
        self.entry = (_OBJ_ENTRY_RE if refs else _ENTRY_RE).match

    def _skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            m = _WS_RUN_RE.match(d, self.pos)
            if m:
                self.pos = m.end()
                continue
            if d[self.pos] == 0x25:  # '%' comment to EOL
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def next_token(self):
        """Return next token: float/int, bytes (string), str (name or
        operator), list, dict, ("ref", n), or None at end."""
        d, n, scan = self.data, len(self.data), self.scan
        while True:
            if self.pos >= n:
                return None
            m = scan(d, self.pos)
            kind = m.lastgroup
            self.pos = m.end()
            if kind is not None:
                if kind == "comment":
                    continue
                return _scanned(m, kind)
            if self.pos >= n:
                return None

            c = d[self.pos]
            if c == 0x28:  # ( literal string with escapes or nesting
                return self._literal_string()
            if c == 0x3C:  # < or <<
                if self.pos + 1 < n and d[self.pos + 1] == 0x3C:
                    self.pos += 2
                    return self._dict_body()
                return self._hex_string()
            if c == 0x5B:  # [
                self.pos += 1
                items = []
                while self.pos < n:
                    m = scan(d, self.pos)
                    kind = m.lastgroup
                    if kind is None:
                        self.pos = m.end()
                        if self.pos < n and d[self.pos] == 0x5D:
                            self.pos += 1
                            return items
                        tok = self.next_token()
                        if tok is None:
                            return items
                        items.append(tok)
                    else:
                        self.pos = m.end()
                        if kind != "comment":
                            items.append(_scanned(m, kind))
                return items
            if c == 0x5D:
                self.pos += 1
                return "]"
            # lone delimiter we don't handle; skip it
            self.pos += 1

    def _literal_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in _ESCAPES:
                    out.append(_ESCAPES[e])
                    self.pos += 1
                elif e in b"01234567":
                    oct_digits = bytearray()
                    while self.pos < n and len(oct_digits) < 3 and d[self.pos] in b"01234567":
                        oct_digits.append(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits.decode(), 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    break
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        return bytes(out)

    def _hex_string(self) -> bytes:
        d = self.data
        self.pos += 1
        end = d.find(b">", self.pos)
        if end < 0:
            end = len(d)
        digits = _HEX_FILTER_RE.sub(b"", d[self.pos : end])
        self.pos = end + 1
        return _hex_bytes(digits)

    def _dict_body(self) -> dict:
        d, entry = self.data, self.entry
        out: dict = {}
        while True:
            m = entry(d, self.pos)
            kind = m.lastgroup
            if kind is None:  # a delimiter or a token that isn't a key
                key = self.next_token()
                if key is None:
                    return out
                if isinstance(key, str) and key.startswith("/"):
                    out[key] = self.next_token()
                continue  # any other key token is dropped, its value read as a key
            self.pos = m.end()
            if kind == "end":
                return out
            if kind == "skip":
                continue
            key, value = m.group("key", kind)
            key = key.decode("latin-1")
            if kind == "name":
                out[key] = value.decode("latin-1")
            elif kind == "ref":
                out[key] = ("ref", int(value))
            elif kind == "key":
                out[key] = self.next_token()
            else:
                out[key] = _scanned(m, kind)


def _decode_pdf_text(raw: bytes) -> str:
    """Fixture convention: literal strings hold ASCII/UTF-8; hex strings
    hold UTF-8 (Thai etc.). UTF-16BE BOM honored like standard readers."""
    if raw.startswith(b"\xfe\xff"):
        return raw[2:].decode("utf-16-be", errors="replace")
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


# --------------------------------------------------------------------------
# Document parsing
# --------------------------------------------------------------------------

class MiniPdfError(ValueError):
    pass


def _index_objects(data: bytes) -> Dict[int, int]:
    """Map object number → offset of its body (after 'obj')."""
    table: Dict[int, int] = {}
    for m in _OBJ_RE.finditer(data):
        table[int(m.group(1))] = m.end()
    if not table:
        raise MiniPdfError("no indirect objects found")
    return table


# --------------------------------------------------------------------------
# Stream filters (pypdf handles these transparently for the reference,
# ocr_utils.py:358-388; here they are explicit and bounded: FlateDecode
# + PNG predictors + ASCIIHexDecode, anything else is a loud error)
# --------------------------------------------------------------------------

def _png_unpredict(data: bytes, columns: int, colors: int = 1, bpc: int = 8) -> bytes:
    """Reverse PNG row filters (predictors 10-15 share this decoder)."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    pos, n = 0, len(data)
    while pos < n:
        ft = data[pos]
        pos += 1
        row = bytearray(data[pos : pos + rowlen])
        pos += rowlen
        if ft == 1:  # Sub
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        elif ft != 0:
            raise MiniPdfError(f"unknown PNG row filter {ft}")
        out += row
        prev = row
    return bytes(out)


def _decode_stream(raw: bytes, info: dict, deref) -> bytes:
    """Apply the stream's /Filter chain. Raises MiniPdfError for any
    filter outside the supported set so real-world exotica surface as
    error rows, never silently-empty text (ADVICE round 1)."""
    filters = deref(info.get("/Filter"))
    if filters is None:
        return raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = deref(info.get("/DecodeParms", info.get("/DP")))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    for filt, parm in zip(filters, parms):
        filt = deref(filt)
        parm = deref(parm)
        if filt == "/FlateDecode":
            try:
                raw = zlib.decompress(raw)
            except zlib.error as exc:
                raise MiniPdfError(f"bad Flate stream: {exc}") from exc
            if isinstance(parm, dict):
                predictor = deref(parm.get("/Predictor", 1)) or 1
                if predictor >= 10:
                    raw = _png_unpredict(
                        raw,
                        int(deref(parm.get("/Columns", 1)) or 1),
                        int(deref(parm.get("/Colors", 1)) or 1),
                        int(deref(parm.get("/BitsPerComponent", 8)) or 8),
                    )
                elif predictor != 1:
                    raise MiniPdfError(f"unsupported predictor {predictor}")
        elif filt == "/ASCIIHexDecode":
            body = raw.split(b">", 1)[0]
            digits = _HEX_FILTER_RE.sub(b"", body)
            if len(digits) % 2:
                digits += b"0"
            raw = bytes.fromhex(digits.decode("ascii"))
        else:
            raise MiniPdfError(f"unsupported stream filter {filt}")
    return raw


# --------------------------------------------------------------------------
# Cross-reference parsing: classic tables, xref streams, /Prev chains,
# hybrid /XRefStm. Entries from newer sections win (first-seen-wins as
# the chain walks newest → oldest).
# --------------------------------------------------------------------------

_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
# one xref row, after the whitespace and comments _Lexer._skip_ws skips
_XREF_ROW_RE = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]|%[^\r\n]*+)*+(\d{10})\s(\d{5})\s([nf])"
)
_XREF_SUBSECTION_RE = re.compile(rb"(\d+)\s+(\d+)")
_STREAM_KEYWORD_RE = re.compile(rb"stream(\r\n|\n|\r)")


def _stream_extent(data: bytes, lex_pos: int, info: dict, deref) -> Tuple[int, int]:
    """(start, end) of the raw stream bytes for a stream object whose
    dict has just been lexed (lexer position = lex_pos)."""
    m = _STREAM_KEYWORD_RE.search(data, lex_pos)
    if not m:
        raise MiniPdfError("stream keyword missing")
    start = m.end()
    length = deref(info.get("/Length"))
    if isinstance(length, int):
        return start, start + length
    end = data.find(b"endstream", start)
    return start, end if end >= 0 else len(data)


def _parse_xref_stream_at(data: bytes, pos: int, offsets, objstms, trailer) -> Optional[int]:
    """Parse one cross-reference stream object; returns /Prev or None."""
    m = _OBJ_RE.match(data, pos) or _OBJ_RE.search(data, pos, pos + 64)
    if not m:
        raise MiniPdfError("xref stream object header missing")
    lex = _Lexer(data, m.end())
    info = lex.next_token()
    if not isinstance(info, dict):
        raise MiniPdfError("xref stream dict missing")

    def deref(v):  # xref streams must be self-contained (direct values)
        return v

    start, end = _stream_extent(data, lex.pos, info, deref)
    body = _decode_stream(data[start:end], info, deref)

    widths = [int(w) for w in info.get("/W", [])]
    if len(widths) != 3:
        raise MiniPdfError("xref stream /W malformed")
    size = int(info.get("/Size", 0))
    index = info.get("/Index") or [0, size]
    rowlen = sum(widths)

    rows = [
        (int(index[i]), int(index[i + 1])) for i in range(0, len(index) - 1, 2)
    ]
    pos_b = 0
    for first, count in rows:
        for num in range(first, first + count):
            chunk = body[pos_b : pos_b + rowlen]
            pos_b += rowlen
            if len(chunk) < rowlen:
                raise MiniPdfError("xref stream truncated")
            o = 0
            f1 = int.from_bytes(chunk[: widths[0]], "big") if widths[0] else 1
            o += widths[0]
            f2 = int.from_bytes(chunk[o : o + widths[1]], "big")
            o += widths[1]
            f3 = int.from_bytes(chunk[o : o + widths[2]], "big")
            if num in offsets or num in objstms:
                continue  # newer section already defined it
            if f1 == 1:
                offsets[num] = f2
            elif f1 == 2:
                objstms[num] = (f2, f3)
            # type 0 (free): ignore
    for key in ("/Root", "/Size", "/Info"):
        if key in info and key not in trailer:
            trailer[key] = info[key]
    prev = info.get("/Prev")
    return int(prev) if isinstance(prev, (int, float)) else None


def _parse_classic_xref_at(data: bytes, pos: int, offsets, objstms, trailer) -> Optional[int]:
    """Parse one classic xref table + trailer; returns /Prev or None."""
    lex = _Lexer(data, pos)
    lex._skip_ws()
    if data[lex.pos : lex.pos + 4] != b"xref":
        raise MiniPdfError("not a classic xref table")
    lex.pos += 4
    while True:
        lex._skip_ws()
        if data[lex.pos : lex.pos + 7] == b"trailer":
            lex.pos += 7
            break
        m = _XREF_SUBSECTION_RE.match(data, lex.pos)
        if not m:
            raise MiniPdfError("xref subsection header malformed")
        first, count = int(m.group(1)), int(m.group(2))
        lex.pos = m.end()
        for num in range(first, first + count):
            em = _XREF_ROW_RE.match(data, lex.pos)
            if not em:
                raise MiniPdfError("xref entry malformed")
            lex.pos = em.end()
            if em.group(3) == b"n" and num not in offsets and num not in objstms:
                offsets[num] = int(em.group(1))
    tdict = lex.next_token()
    if not isinstance(tdict, dict):
        raise MiniPdfError("trailer dict missing")
    for key in ("/Root", "/Size", "/Info"):
        if key in tdict and key not in trailer:
            trailer[key] = tdict[key]
    hybrid = tdict.get("/XRefStm")
    if isinstance(hybrid, (int, float)):
        try:
            _parse_xref_stream_at(data, int(hybrid), offsets, objstms, trailer)
        except MiniPdfError:
            pass
    prev = tdict.get("/Prev")
    return int(prev) if isinstance(prev, (int, float)) else None


def _load_xref(data: bytes) -> Tuple[Dict[int, int], Dict[int, Tuple[int, int]], dict]:
    """Walk the xref chain from the trailing startxref. Returns
    (raw offsets of 'N G obj' headers, objnum → (objstm, index), trailer)."""
    m = None
    for m in _STARTXREF_RE.finditer(data, max(0, len(data) - 4096)):
        pass
    if not m:
        raise MiniPdfError("startxref missing")
    offsets: Dict[int, int] = {}
    objstms: Dict[int, Tuple[int, int]] = {}
    trailer: dict = {}
    pos: Optional[int] = int(m.group(1))
    seen = set()
    while pos is not None and pos not in seen and 0 <= pos < len(data):
        seen.add(pos)
        probe = data[pos : pos + 8].lstrip(_WS)
        if probe.startswith(b"xref"):
            pos = _parse_classic_xref_at(data, pos, offsets, objstms, trailer)
        else:
            pos = _parse_xref_stream_at(data, pos, offsets, objstms, trailer)
    if not offsets and not objstms:
        raise MiniPdfError("empty xref chain")
    return offsets, objstms, trailer


class _Document:
    def __init__(self, data: bytes) -> None:
        if not data.startswith(b"%PDF-"):
            raise MiniPdfError("missing %PDF- header")
        self.data = data
        self.trailer: dict = {}
        self.objstm_refs: Dict[int, Tuple[int, int]] = {}
        offsets: Dict[int, int] = {}
        try:
            raw_offsets, self.objstm_refs, self.trailer = _load_xref(data)
            # normalize: xref offsets point at 'N G obj'; keep the
            # body offset, dropping entries whose header doesn't match
            # (damaged offsets fall through to the brute-force index)
            for num, off in raw_offsets.items():
                m = _OBJ_RE.match(data, off) or _OBJ_RE.search(data, off, off + 32)
                if m and int(m.group(1)) == num:
                    offsets[num] = m.end()
        except MiniPdfError:
            pass
        if not offsets and not self.objstm_refs:
            offsets = _index_objects(data)  # damaged-file fallback
            self._scanned = True
        else:
            self._scanned = False
        self.offsets = offsets
        self._cache: Dict[int, object] = {}
        self._parsed: Dict[int, Tuple[object, int]] = {}
        self._objstm_cache: Dict[int, Dict[int, object]] = {}

    def _resolve_offset(self, num: int) -> Optional[int]:
        off = self.offsets.get(num)
        if off is None and not self._scanned:
            # lazy gap-filler for damaged/patched files: brute-force
            # index fills only entries the xref chain didn't provide
            self._scanned = True
            try:
                for n, o in _index_objects(self.data).items():
                    self.offsets.setdefault(n, o)
            except MiniPdfError:
                pass
            off = self.offsets.get(num)
        return off

    def obj(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if num in self.objstm_refs and num not in self.offsets:
            container, _idx = self.objstm_refs[num]
            members = self._objstm_members(container)
            if num not in members:
                raise MiniPdfError(f"object {num} missing from ObjStm {container}")
            value = members[num]
        else:
            off = self._resolve_offset(num)
            if off is None:
                raise MiniPdfError(f"missing object {num}")
            value = self._parse_at(off)[0]
        self._cache[num] = value
        return value

    def _parse_at(self, off: int) -> Tuple[object, int]:
        """(value, end) of the object body at ``off``, lexed once: a
        stream's dict serves both ``obj`` and ``stream_bytes``."""
        parsed = self._parsed.get(off)
        if parsed is None:
            lex = _Lexer(self.data, off)
            parsed = self._parsed[off] = (lex.next_token(), lex.pos)
        return parsed

    def _objstm_members(self, container: int) -> Dict[int, object]:
        """Decompress an /ObjStm and parse every member object."""
        cached = self._objstm_cache.get(container)
        if cached is not None:
            return cached
        info = self.obj(container)
        if not isinstance(info, dict) or info.get("/Type") != "/ObjStm":
            raise MiniPdfError(f"object {container} is not an ObjStm")
        body = self.stream_bytes(container)
        n = int(self.deref(info.get("/N", 0)) or 0)
        first = int(self.deref(info.get("/First", 0)) or 0)
        header = _Lexer(body)
        pairs: List[Tuple[int, int]] = []
        for _ in range(n):
            onum = header.next_token()
            ooff = header.next_token()
            if not isinstance(onum, int) or not isinstance(ooff, int):
                raise MiniPdfError("ObjStm header malformed")
            pairs.append((onum, ooff))
        members = {
            onum: _Lexer(body, first + ooff).next_token() for onum, ooff in pairs
        }
        self._objstm_cache[container] = members
        return members

    def deref(self, value):
        while isinstance(value, tuple) and len(value) == 2 and value[0] == "ref":
            value = self.obj(value[1])
        return value

    def stream_bytes(self, num: int) -> bytes:
        off = self._resolve_offset(num)
        if off is None:
            raise MiniPdfError(f"stream object {num} missing (streams can't live in ObjStm)")
        info, dict_end = self._parse_at(off)  # the stream dict
        if not isinstance(info, dict):
            return b""
        start, end = _stream_extent(self.data, dict_end, info, self.deref)
        return _decode_stream(self.data[start:end], info, self.deref)

    def catalog(self) -> dict:
        root = self.deref(self.trailer.get("/Root"))
        if isinstance(root, dict):
            return root
        m = None
        for m in re.finditer(rb"/Root\s+(\d+)\s+\d+\s+R", self.data):
            pass
        if m:
            cat = self.deref(("ref", int(m.group(1))))
            if isinstance(cat, dict):
                return cat
        # fallback: scan for /Type /Catalog (top-level then packed)
        for num in self.offsets:
            candidate = self.obj(num)
            if isinstance(candidate, dict) and candidate.get("/Type") == "/Catalog":
                return candidate
        for num in list(self.objstm_refs):
            candidate = self.obj(num)
            if isinstance(candidate, dict) and candidate.get("/Type") == "/Catalog":
                return candidate
        raise MiniPdfError("no catalog")

    def pages(self) -> List[Tuple[dict, dict]]:
        """Flatten the page tree in order → [(page_dict, inherited)]."""
        root = self.deref(self.catalog().get("/Pages"))
        out: List[Tuple[dict, dict]] = []

        def walk(node, inherited: dict) -> None:
            node = self.deref(node)
            if not isinstance(node, dict):
                return
            merged = dict(inherited)
            for key in ("/MediaBox", "/Resources"):
                if key in node:
                    merged[key] = node[key]
            if node.get("/Type") == "/Page":
                out.append((node, merged))
                return
            for kid in self.deref(node.get("/Kids")) or []:
                walk(kid, merged)

        walk(root, {})
        return out


def page_count(data: bytes) -> int:
    """Page count; mirrors the reference's swallow-errors→1 behavior
    (/root/reference/backend/services/ocr_service.py:117-124)."""
    try:
        return max(1, len(_Document(data).pages()))
    except Exception:
        return 1


# --------------------------------------------------------------------------
# Content-stream interpretation (the layout-parse oracle)
# --------------------------------------------------------------------------

# operators the interpreter acts on; any other operator drops its operands
_CONTENT_OPS = frozenset(
    (b"Tj", b"Td", b"BT", b"ET", b"TJ", b"cm", b"q", b"Q", b"Do", b"Tm",
     b"T*", b"TL", b"TD", b"'", b'"')
)


def _flat_array(data: bytes, pos: int):
    """``(items, end)`` for a content-stream array opening just before
    ``pos`` whose items the scanner takes whole (a TJ array), else None
    (nested arrays, dicts, escaped strings, stray delimiters, end of data)."""
    scan, n = _SCAN_RE.match, len(data)
    items: list = []
    while True:
        m = scan(data, pos)
        kind = m.lastgroup
        pos = m.end()
        if kind is None:
            if pos < n and data[pos] == 0x5D:
                return items, pos + 1
            return None
        if kind != "comment":
            items.append(_scanned(m, kind))


def _interpret_content(
    content: bytes,
    image_xobjects: Dict[str, bool],
) -> Tuple[List[TextElement], List[ImageElement]]:
    """One scan loop over the stream: operands are pushed straight from
    the scanner's match, operators dispatch on their bytes. Only tokens
    that start at a delimiter the scanner doesn't take whole (escaped or
    nested strings, spaced hex, dicts, non-flat arrays, stray delimiters)
    go through ``_Lexer``."""
    texts: List[TextElement] = []
    images: List[ImageElement] = []
    stack: List[object] = []
    push = stack.append
    ctm = list(IDENTITY)
    ctm_stack: List[List[float]] = []
    tm = list(IDENTITY)
    tlm = list(IDENTITY)
    leading = 0.0
    scan = _CONTENT_SCAN_RE.match
    lexer = None
    pos, n = 0, len(content)

    while pos < n:
        m = scan(content, pos)
        kind = m.lastgroup
        pos = m.end()
        if kind == "op":
            op = m.group(kind)
        elif kind == "td":
            x, y = m.group("td_x", kind)  # _SHORT_NUM: int() can't fail
            push(float(x) if b"." in x else int(x))
            push(float(y) if b"." in y else int(y))
            op = b"Td"
        elif kind == "tj":
            push(m.group(kind))
            op = b"Tj"
        elif kind == "tf":
            stack.clear()  # Tf isn't interpreted: drop its operands
            continue
        elif kind == "num":
            push(_number(m.group(kind)))
            continue
        elif kind == "tjh":
            push(_hex_bytes(m.group(kind)))
            op = b"Tj"
        elif kind == "str":
            push(m.group(kind))
            continue
        elif kind == "name":
            push(m.group(kind).decode("latin-1"))
            continue
        elif kind == "hex":
            push(_hex_bytes(m.group(kind)))
            continue
        elif kind == "comment":
            continue
        else:
            if pos >= n:
                break
            if content[pos] == 0x5B:
                flat = _flat_array(content, pos + 1)
                if flat is not None:
                    push(flat[0])
                    pos = flat[1]
                    continue
            if lexer is None:
                lexer = _Lexer(content, refs=False)
            lexer.pos = pos
            tok = lexer.next_token()
            pos = lexer.pos
            if tok is None:
                break
            if not isinstance(tok, str) or tok.startswith("/"):
                push(tok)
                continue
            op = tok.encode("latin-1")

        if op not in _CONTENT_OPS:
            stack.clear()  # unknown operator: drop its operands
            continue
        try:
            if op == b"Td":
                ty = float(stack.pop())
                tx = float(stack.pop())
                tlm = mat_mult([1, 0, 0, 1, tx, ty], tlm)
                tm = list(tlm)
            elif op == b"BT":
                tm = list(IDENTITY)
                tlm = list(IDENTITY)
            elif op == b"ET":
                pass
            elif op == b"Tj" or op == b"TJ" or op == b"'" or op == b'"':
                if op == b"'":
                    tlm = mat_mult([1, 0, 0, 1, 0.0, -leading], tlm)
                    tm = list(tlm)
                    raw = stack.pop()
                elif op == b'"':
                    raw = stack.pop()
                    stack.pop()  # ac
                    stack.pop()  # aw
                    tlm = mat_mult([1, 0, 0, 1, 0.0, -leading], tlm)
                    tm = list(tlm)
                else:
                    raw = stack.pop()
                if isinstance(raw, list):
                    text = "".join(
                        _decode_pdf_text(item) for item in raw if isinstance(item, bytes)
                    )
                else:
                    text = _decode_pdf_text(raw)
                # the translation of tm x ctm (mat_mult's last two terms);
                # a Tm that found fewer than six operands fails the unpack
                _, _, _, _, e, f = tm
                p, q, r, s, t, u = ctm
                texts.append(TextElement(text, e * p + f * r + t, e * q + f * s + u))
            elif op == b"cm":
                vals = stack[-6:]
                del stack[-6:]
                ctm = mat_mult([float(v) for v in vals], ctm)
            elif op == b"q":
                ctm_stack.append(list(ctm))
            elif op == b"Q":
                if ctm_stack:
                    ctm = ctm_stack.pop()
            elif op == b"Do":
                name = stack.pop()
                if isinstance(name, str) and image_xobjects.get(name):
                    # unit square through the CTM, bbox normalized —
                    # exactly the reference's placement (ocr_utils.py:378-380)
                    x0, y0 = transform_point(0, 0, ctm)
                    x1, y1 = transform_point(1, 1, ctm)
                    images.append(
                        ImageElement(
                            name.lstrip("/"),
                            BoundingBox(min(x0, x1), min(y0, y1), max(x0, x1), max(y0, y1)),
                        )
                    )
            elif op == b"Tm":
                vals = stack[-6:]
                del stack[-6:]
                tm = [float(v) for v in vals]
                tlm = list(tm)
            elif op == b"T*":
                tlm = mat_mult([1, 0, 0, 1, 0.0, -leading], tlm)
                tm = list(tlm)
            elif op == b"TL":
                leading = float(stack.pop())
            else:  # TD
                ty = float(stack.pop())
                tx = float(stack.pop())
                leading = -ty
                tlm = mat_mult([1, 0, 0, 1, tx, ty], tlm)
                tm = list(tlm)
        except (IndexError, ValueError, TypeError):
            stack.clear()

    return texts, images


def parse_pdf(data: bytes) -> List[PageReport]:
    """Parse every page into the reference's PageReport IR."""
    doc = _Document(data)
    reports: List[PageReport] = []
    for page, inherited in doc.pages():
        mediabox_raw = doc.deref(page.get("/MediaBox", inherited.get("/MediaBox")))
        if not isinstance(mediabox_raw, list) or len(mediabox_raw) != 4:
            mediabox_raw = [0, 0, 612, 792]
        mediabox = BoundingBox(*(float(doc.deref(v)) for v in mediabox_raw))

        resources = doc.deref(page.get("/Resources", inherited.get("/Resources"))) or {}
        xobjects = doc.deref(resources.get("/XObject")) if isinstance(resources, dict) else {}
        image_names: Dict[str, bool] = {}
        if isinstance(xobjects, dict):
            for name, ref in xobjects.items():
                target = doc.deref(ref)
                image_names[name] = (
                    isinstance(target, dict) and target.get("/Subtype") == "/Image"
                )

        contents = doc.deref(page.get("/Contents"))
        chunks: List[bytes] = []
        refs = page.get("/Contents")
        if isinstance(refs, tuple):
            chunks.append(doc.stream_bytes(refs[1]))
        elif isinstance(refs, list):
            for item in refs:
                if isinstance(item, tuple):
                    chunks.append(doc.stream_bytes(item[1]))
        del contents
        content = b"\n".join(chunks)

        texts, images = _interpret_content(content, image_names)
        reports.append(PageReport(mediabox=mediabox, text_elements=texts, image_elements=images))
    return reports


def parse_pdf_page(data: bytes, page_num: int) -> PageReport:
    """1-indexed single-page parse (raises IndexError out of range, the
    trigger for the reference's page-range ValueError path,
    ocr_utils.py:622-623)."""
    if page_num < 1:
        raise IndexError("pages are 1-indexed")
    return parse_pdf(data)[page_num - 1]


# --------------------------------------------------------------------------
# Fixture writer
# --------------------------------------------------------------------------

class MiniPdfWriter:
    """Builds deterministic, spec-valid single/multi-page PDFs using only
    the operator subset the parser understands."""

    def __init__(self) -> None:
        self._pages: List[dict] = []

    @staticmethod
    def _escape_literal(text: str) -> Optional[bytes]:
        try:
            raw = text.encode("ascii")
        except UnicodeEncodeError:
            return None
        out = bytearray()
        table = {0x28: b"\\(", 0x29: b"\\)", 0x5C: b"\\\\",
                 0x0A: b"\\n", 0x0D: b"\\r", 0x09: b"\\t"}
        for b in raw:
            out += table.get(b, bytes([b]))
        return b"(" + bytes(out) + b")"

    @classmethod
    def pdf_string(cls, text: str) -> bytes:
        literal = cls._escape_literal(text)
        if literal is not None:
            return literal
        return b"<" + text.encode("utf-8").hex().encode("ascii") + b">"

    def add_page(self, mediabox=(0, 0, 612, 792)) -> "MiniPdfWriter":
        self._pages.append({"mediabox": tuple(mediabox), "ops": [], "images": {}})
        return self

    def _page(self) -> dict:
        if not self._pages:
            self.add_page()
        return self._pages[-1]

    def text(self, x: float, y: float, s: str, mode: str = "Td") -> "MiniPdfWriter":
        page = self._page()
        payload = self.pdf_string(s)
        if mode == "Tm":
            page["ops"].append(
                b"BT /F1 12 Tf 1 0 0 1 %s %s Tm %s Tj ET" % (_fmt(x), _fmt(y), payload)
            )
        else:
            page["ops"].append(
                b"BT /F1 12 Tf %s %s Td %s Tj ET" % (_fmt(x), _fmt(y), payload)
            )
        return self

    def text_tj(self, x: float, y: float, parts: List[str]) -> "MiniPdfWriter":
        page = self._page()
        arr = b" -250 ".join(self.pdf_string(p) for p in parts)
        page["ops"].append(b"BT /F1 12 Tf %s %s Td [%s] TJ ET" % (_fmt(x), _fmt(y), arr))
        return self

    def text_lines(self, x: float, y: float, leading: float, lines: List[str]) -> "MiniPdfWriter":
        """First line via Td, following lines via T* (exercises TL/T*)."""
        page = self._page()
        ops = [b"BT /F1 12 Tf %s TL %s %s Td" % (_fmt(leading), _fmt(x), _fmt(y))]
        for i, line in enumerate(lines):
            if i > 0:
                ops.append(b"T*")
            ops.append(b"%s Tj" % self.pdf_string(line))
        ops.append(b"ET")
        page["ops"].append(b" ".join(ops))
        return self

    def image(self, name: str, x0: float, y0: float, x1: float, y1: float) -> "MiniPdfWriter":
        """Place image ``name`` covering (x0,y0)-(x1,y1) via cm + Do."""
        page = self._page()
        page["images"].setdefault(name, (8, 8))
        page["ops"].append(
            b"q %s 0 0 %s %s %s cm /%s Do Q"
            % (_fmt(x1 - x0), _fmt(y1 - y0), _fmt(x0), _fmt(y0), name.encode())
        )
        return self

    def raw_ops(self, ops: bytes) -> "MiniPdfWriter":
        self._page()["ops"].append(ops)
        return self

    def build(
        self,
        compress: bool = False,
        xref_stream: bool = False,
        objstm: bool = False,
    ) -> bytes:
        """Serialize. ``compress`` Flate-encodes content streams (the
        real-world norm); ``xref_stream`` writes a PDF-1.5 cross-
        reference stream (Flate + PNG Up predictor) instead of a
        classic table; ``objstm`` (implies xref_stream) packs the
        catalog/pages/page dicts into a compressed /ObjStm with type-2
        xref entries. All modes parse back byte-identically."""
        if objstm:
            xref_stream = True
        if not self._pages:
            self.add_page()
        header = b"%PDF-1.5\n" if xref_stream else b"%PDF-1.4\n"
        chunks: List[bytes] = [header + b"%\xe2\xe3\xcf\xd3\n"]
        offsets: Dict[int, int] = {}
        in_objstm: Dict[int, int] = {}  # obj num -> index within ObjStm
        next_num = 1

        def emit(num: int, body: bytes) -> None:
            offsets[num] = sum(len(c) for c in chunks)
            chunks.append(b"%d 0 obj\n%s\nendobj\n" % (num, body))

        def emit_stream(num: int, dict_body: bytes, payload: bytes, flate: bool) -> None:
            if flate:
                payload = zlib.compress(payload, 6)
                dict_body += b" /Filter /FlateDecode"
            emit(
                num,
                b"<< %s /Length %d >>\nstream\n%s\nendstream"
                % (dict_body, len(payload), payload),
            )

        catalog_num = next_num; next_num += 1
        pages_num = next_num; next_num += 1

        page_plan = []
        for page in self._pages:
            page_num = next_num; next_num += 1
            content_num = next_num; next_num += 1
            image_nums = {}
            for img_name in page["images"]:
                image_nums[img_name] = next_num; next_num += 1
            page_plan.append((page, page_num, content_num, image_nums))

        # dict-only objects: either emitted top-level or packed in ObjStm
        dict_objs: List[Tuple[int, bytes]] = [
            (catalog_num, b"<< /Type /Catalog /Pages %d 0 R >>" % pages_num),
            (
                pages_num,
                b"<< /Type /Pages /Count %d /Kids [%s] >>"
                % (len(page_plan), b" ".join(b"%d 0 R" % p[1] for p in page_plan)),
            ),
        ]
        for page, page_num, content_num, image_nums in page_plan:
            mb = b" ".join(_fmt(v) for v in page["mediabox"])
            xobj = b""
            if image_nums:
                entries = b" ".join(
                    b"/%s %d 0 R" % (name.encode(), num) for name, num in image_nums.items()
                )
                xobj = b" /XObject << %s >>" % entries
            resources = (
                b"/Resources << /Font << /F1 << /Type /Font /Subtype /Type1 "
                b"/BaseFont /Helvetica >> >>%s >>" % xobj
            )
            dict_objs.append(
                (
                    page_num,
                    b"<< /Type /Page /Parent %d 0 R /MediaBox [%s] %s /Contents %d 0 R >>"
                    % (pages_num, mb, resources, content_num),
                )
            )

        if objstm:
            objstm_num = next_num; next_num += 1
            parts: List[bytes] = []
            head: List[bytes] = []
            pos = 0
            for idx, (num, body) in enumerate(dict_objs):
                head.append(b"%d %d" % (num, pos))
                parts.append(body)
                pos += len(body) + 1
                in_objstm[num] = idx
            header_blob = b" ".join(head) + b"\n"
            payload = header_blob + b"\n".join(parts) + b"\n"
            emit_stream(
                objstm_num,
                b"/Type /ObjStm /N %d /First %d" % (len(dict_objs), len(header_blob)),
                payload,
                flate=True,
            )
        else:
            for num, body in dict_objs:
                emit(num, body)

        for page, page_num, content_num, image_nums in page_plan:
            stream = b"\n".join(page["ops"])
            emit_stream(content_num, b"", stream, flate=compress)
            for name, num in image_nums.items():
                w, h = page["images"][name]
                pixels = bytes((w * h) % 251 for _ in range(3))
                emit_stream(
                    num,
                    b"/Type /XObject /Subtype /Image /Width %d /Height %d "
                    b"/ColorSpace /DeviceRGB /BitsPerComponent 8" % (w, h),
                    pixels,
                    flate=False,
                )

        if xref_stream:
            xref_num = next_num; next_num += 1
            count = next_num
            xref_pos = sum(len(c) for c in chunks)
            offsets[xref_num] = xref_pos  # self-entry
            rowlen = 1 + 4 + 2
            rows = bytearray()
            for num in range(count):
                if num == 0:
                    row = b"\x00" + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
                elif num in in_objstm:
                    row = (
                        b"\x02"
                        + objstm_num.to_bytes(4, "big")
                        + in_objstm[num].to_bytes(2, "big")
                    )
                else:
                    row = b"\x01" + offsets[num].to_bytes(4, "big") + (0).to_bytes(2, "big")
                rows += row
            # PNG Up predictor (12): exercises the predictor decoder
            pred = bytearray()
            prev = bytes(rowlen)
            for i in range(0, len(rows), rowlen):
                row = rows[i : i + rowlen]
                pred.append(2)
                pred += bytes((row[j] - prev[j]) & 0xFF for j in range(rowlen))
                prev = row
            payload = zlib.compress(bytes(pred), 6)
            chunks.append(
                b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root %d 0 R "
                b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns %d >> "
                b"/Length %d >>\nstream\n%s\nendstream\nendobj\n"
                % (xref_num, count, catalog_num, rowlen, len(payload), payload)
            )
            chunks.append(b"startxref\n%d\n%%%%EOF\n" % xref_pos)
        else:
            xref_pos = sum(len(c) for c in chunks)
            count = next_num
            xref = [b"xref\n0 %d\n" % count, b"0000000000 65535 f \n"]
            for num in range(1, count):
                xref.append(b"%010d 00000 n \n" % offsets.get(num, 0))
            chunks.append(b"".join(xref))
            chunks.append(
                b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
                % (count, catalog_num, xref_pos)
            )
        return b"".join(chunks)


def _fmt(v: float) -> bytes:
    if float(v) == int(v):
        return b"%d" % int(v)
    return ("%g" % v).encode("ascii")
