"""Text cleanup primitives matching the reference's element-text path.

Reference behavior being matched (cited, not copied):
- head/tail capping with ``" ... "`` joiner:
  /root/reference/packages/typhoon_ocr/typhoon_ocr/ocr_utils.py:253-263
- element cleanup (ftfy repair -> strip -> escape -> 250-char cap):
  ocr_utils.py:266-276

``ftfy`` is not available in this environment and is enormous; per the
documented subset (SURVEY.md §7.4) ``fix_text_lite`` implements exactly:
latin-1<->utf-8 mojibake repair followed by NFC normalization. Fixture
text is constrained to inputs where full ftfy and this subset agree
(guarded by tests).
"""

from __future__ import annotations

import re
import unicodedata

ELEMENT_TEXT_CAP = 250

# Escape table for characters that would corrupt the [XxY]text anchor
# line format (ocr_utils.py:268).
_ESCAPES = {"[": "\\[", "]": "\\]", "\n": "\\n", "\r": "\\r", "\t": "\\t"}
_ESCAPE_RE = re.compile("|".join(re.escape(c) for c in _ESCAPES))


def cap_split_string(text: str, max_length: int) -> str:
    """Cap ``text`` at ``max_length`` by keeping a head and a tail joined
    with ``" ... "`` (ocr_utils.py:253-263).

    The head is the first ``max_length//2 - 3`` characters, backed off to
    the last space inside that window when one exists; the tail is the
    last ``max_length//2 - 3`` characters, advanced past the first space
    inside that window when one exists.
    """
    if len(text) <= max_length:
        return text

    keep = max_length // 2 - 3

    head_window = text[:keep]
    head = head_window.rsplit(" ", 1)[0] or head_window

    tail_window = text[-keep:]
    tail = tail_window.split(" ", 1)[-1] or tail_window

    return f"{head} ... {tail}"


# windows-1252's 0x80-0x9F graphic block (the bytes latin-1 maps to C1
# controls); sloppy-1252 keeps the five unmapped bytes as-is, exactly
# like ftfy's sloppy-windows-1252 codec.
_CP1252_GRAPHICS = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„", 0x85: "…", 0x86: "†",
    0x87: "‡", 0x88: "ˆ", 0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“", 0x94: "”", 0x95: "•",
    0x96: "–", 0x97: "—", 0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}
_SLOPPY_1252_INV = {ch: b for b, ch in _CP1252_GRAPHICS.items()}

# ftfy default fixes reproduced exactly (fix_latin_ligatures,
# fix_character_width, uncurl_quotes — ftfy.fixes tables)
_LIGATURES = {
    "Ĳ": "IJ", "ĳ": "ij", "ﬀ": "ff", "ﬁ": "fi", "ﬂ": "fl",
    "ﬃ": "ffi", "ﬄ": "ffl", "ﬅ": "st", "ﬆ": "st",
}
_CURLY_QUOTES = {"‘": "'", "’": "'", "‚": "'", "‛": "'",
                 "“": '"', "”": '"', "„": '"', "‟": '"'}
_TERMINAL_ESCAPE_RE = re.compile(r"\x1b\[[0-9;]*[mKHJ]")


def _fix_char(ch: str) -> str:
    """fix_c1_controls, fix_latin_ligatures, fix_character_width and
    uncurl_quotes on one character, in that order."""
    cp = ord(ch)
    if 0x80 <= cp <= 0x9F:  # fix_c1_controls
        ch = _CP1252_GRAPHICS.get(cp, ch)
    if ch in _LIGATURES:
        return _LIGATURES[ch]
    if 0xFF01 <= cp <= 0xFF5E:  # fullwidth ASCII block
        ch = chr(cp - 0xFF01 + 0x21)
    elif ch == "\u3000":  # ideographic space
        ch = " "
    return _CURLY_QUOTES.get(ch, ch)


# _fix_char as one str.translate table: it can only change the C1
# controls, the ligatures, the fullwidth ASCII block, the ideographic
# space and the curly quotes, and every other character maps to itself.
# str.translate looks up every character of a non-ASCII text, so it
# only runs on a text that holds one of the table's characters.
_CHAR_FIXES = {
    ord(ch): fixed
    for ch in (
        [chr(cp) for cp in range(0x80, 0xA0)]
        + list(_LIGATURES)
        + [chr(cp) for cp in range(0xFF01, 0xFF5F)]
        + ["\u3000"]
        + list(_CURLY_QUOTES)
    )
    if (fixed := _fix_char(ch)) != ch
}
_CHAR_FIX_RE = re.compile("[" + "".join(re.escape(chr(cp)) for cp in _CHAR_FIXES) + "]")


def sloppy_1252_decode(raw: bytes) -> str:
    """Decode bytes the way a sloppy windows-1252 reader would (ftfy's
    sloppy-windows-1252: the five unmapped bytes pass through as C1
    controls instead of erroring) — the exact inverse of
    _sloppy_1252_bytes. Used by fixtures/tests to MANUFACTURE mojibake
    deterministically; strict cp1252 refuses bytes like 0x9D that real
    mojibake contains all the time."""
    return "".join(
        _CP1252_GRAPHICS.get(b, chr(b)) if 0x80 <= b <= 0x9F else chr(b)
        for b in raw
    )


def _sloppy_1252_bytes(text: str):
    """Encode as windows-1252 the way a mis-decoder would have produced
    the text (unmapped C1 bytes round-trip as themselves); None when
    any character can't have come from a single byte."""
    out = bytearray()
    for ch in text:
        cp = ord(ch)
        if cp < 0x80 or 0xA0 <= cp <= 0xFF:
            out.append(cp)
        elif ch in _SLOPPY_1252_INV:
            out.append(_SLOPPY_1252_INV[ch])
        elif 0x80 <= cp <= 0x9F:  # the five unmapped C1 slots
            out.append(cp)
        else:
            return None
    return bytes(out)


# ftfy's ALTERED_UTF8_RE shape: utf-8 sequences where a 0xA0
# continuation byte was "helpfully" rewritten to an ASCII space by some
# earlier process ("byte A0, that's basically a space!"). Restoring the
# A0 lets the sequence decode. Lead-byte sets cover the 2-byte leads
# whose A0 continuation is a common letter plus all 3/4-byte leads.
_ALTERED_UTF8_RE = re.compile(
    b"[\xc2\xc3\xc5\xce\xcf\xd0\xd1\xd5\xd6\xdb][ ]"
    b"|[\xe0-\xef][ ][\x80-\xbf]"
    b"|[\xe0-\xef][\x80-\xbf][ ]"
    b"|[\xf0-\xf4][ ][\x80-\xbf][\x80-\xbf]"
    b"|[\xf0-\xf4][\x80-\xbf][ ][\x80-\xbf]"
    b"|[\xf0-\xf4][\x80-\xbf][\x80-\xbf][ ]"
)


def restore_byte_a0(raw: bytes) -> bytes:
    """ftfy's restore_byte_a0 (lite): put 0xA0 back where an ASCII
    space sits inside an otherwise-convincing utf-8 sequence. Only
    called when the bytes fail to decode as-is, so it can never touch
    text that was already fine."""
    return _ALTERED_UTF8_RE.sub(
        lambda m: m.group(0).replace(b"\x20", b"\xa0"), raw
    )


# ftfy's LOSSY_UTF8_RE shape: utf-8 sequences where a continuation
# byte was destroyed by an earlier lossy decode — replaced with '?'
# (errors='replace' through ascii) or 0x1A (SUB, the DOS-era
# replacement). The whole wreck becomes U+FFFD, which is what the
# original decode should have produced.
_LOSSY_UTF8_RE = re.compile(
    b"[\xc2-\xdf][\x1a?]"
    b"|[\xe0-\xef][\x1a?][\x80-\xbf]"
    b"|[\xe0-\xef][\x80-\xbf][\x1a?]"
    b"|[\xe0-\xef][\x1a?][\x1a?]"
    b"|[\xf0-\xf4][\x1a?][\x80-\xbf][\x80-\xbf]"
    b"|[\xf0-\xf4][\x80-\xbf][\x1a?][\x80-\xbf]"
    b"|[\xf0-\xf4][\x80-\xbf][\x80-\xbf][\x1a?]"
)


def replace_lossy_sequences(raw: bytes) -> bytes:
    """ftfy's replace_lossy_sequences (lite): a utf-8-shaped sequence
    whose continuation byte was smashed to '?' or SUB can't be
    restored — replace the whole sequence with U+FFFD so the rest of
    the mojibake still repairs. Only called when the bytes fail to
    decode as-is."""
    return _LOSSY_UTF8_RE.sub(b"\xef\xbf\xbd", raw)


def _fix_encoding_once(text: str) -> str:
    """One mojibake-repair pass: if the text could be utf-8 bytes that
    were mis-decoded as latin-1 OR windows-1252, return the re-decoded
    string (accepted only when different and actually non-ASCII).
    The sloppy-1252 inverse covers BOTH mis-decodings: latin-1 puts
    utf-8 continuation bytes at C1 controls (0x80-0x9F branch),
    windows-1252 puts them at its graphics block (inverse table).
    When the bytes don't decode outright, restore_byte_a0 (space-for-
    NBSP corruption) and then replace_lossy_sequences (destroyed
    continuations → U+FFFD) each get one retry."""
    raw = _sloppy_1252_bytes(text)
    if raw is None:
        return text
    try:
        candidate = raw.decode("utf-8")
    except UnicodeDecodeError:
        candidate = None
        for repair in (restore_byte_a0, replace_lossy_sequences):
            repaired = repair(raw)
            if repaired == raw:
                continue
            try:
                candidate = repaired.decode("utf-8")
                break
            except UnicodeDecodeError:
                raw = repaired  # stack repairs: a0-restore then lossy
        if candidate is None:
            return text
    if candidate != text and any(ord(ch) > 127 for ch in candidate):
        return candidate
    return text


def _mojibake_char_class(b0: int, b1: int) -> str:
    """Regex char class of the characters bytes b0..b1 mis-decode to
    under sloppy-1252 — the character-domain image of a byte range."""
    return "".join(re.escape(sloppy_1252_decode(bytes([b]))) for b in range(b0, b1 + 1))


_EMBEDDED_MOJIBAKE_RE = re.compile(
    "(?:[{l4}][{c}]{{3}}|[{l3}][{c}]{{2}}|[{l2}][{c}])+".format(
        l2=_mojibake_char_class(0xC2, 0xDF),
        l3=_mojibake_char_class(0xE0, 0xEF),
        l4=_mojibake_char_class(0xF0, 0xF4),
        c=_mojibake_char_class(0x80, 0xBF),
    )
)


def decode_inconsistent_utf8(text: str) -> str:
    """ftfy's decode_inconsistent_utf8 (lite): repair utf-8 mojibake
    runs EMBEDDED in text that is otherwise already correct (mixed
    sources — a Thai string whose pasted-in fragment is mojibake would
    defeat the whole-string re-encode, which refuses on the first
    non-single-byte-representable char). Maximal runs shaped like full
    mis-decoded utf-8 sequences repair independently through the same
    byte path; runs that don't actually decode stay untouched (the
    acceptance rule inside _fix_encoding_once)."""
    return _EMBEDDED_MOJIBAKE_RE.sub(lambda m: _fix_encoding_once(m.group(0)), text)


# ftfy's unescape_html: the HTML5 named-entity table (stdlib
# html.entities.html5, semicolon-terminated names only) plus numeric
# character references; anything unrecognized passes through untouched.
_HTML_ENTITY_RE = re.compile(r"&#?\w{0,24};")


def _html5_entities():
    import html.entities

    return {
        "&" + name: value
        for name, value in html.entities.html5.items()
        if name.endswith(";")
    }


_HTML_ENTITIES = _html5_entities()


def _unescape_entity(match: "re.Match[str]") -> str:
    import html as _html

    text = match.group(0)
    if text in _HTML_ENTITIES:
        return _HTML_ENTITIES[text]
    if text.startswith("&#"):
        unescaped = _html.unescape(text)
        # html.unescape leaves invalid references alone; keep those
        if ";" not in unescaped:
            return unescaped
    return text


def unescape_html_lite(text: str) -> str:
    """ftfy's unescape_html fixer: decode semicolon-terminated HTML5
    named entities and numeric character references. Callers apply
    ftfy's 'auto' gate (skip text containing '<' — that's markup, and
    unescaping real markup would corrupt it)."""
    return _HTML_ENTITY_RE.sub(_unescape_entity, text)


def fix_text_lite(text: str) -> str:
    """Documented ftfy subset (SURVEY.md §7.4, widened round 3): the
    ftfy.fix_text DEFAULT fixes that are deterministic and
    stdlib-reproducible —

    - fix_encoding: utf-8 bytes mis-decoded as latin-1 or (sloppy)
      windows-1252, iterated to a fixpoint (handles double-encoding)
    - remove_terminal_escapes: ANSI color/cursor sequences
    - fix_c1_controls: stray C1 control characters re-read as their
      windows-1252 graphics (0x85 -> …)
    - fix_latin_ligatures: ﬁ/ﬂ/ﬀ/ﬃ/ﬄ/ﬅ/ﬆ/Ĳ -> ASCII sequences
    - fix_character_width: full-width ASCII + ideographic space fold
    - uncurl_quotes: ‘ ’ “ ” -> straight quotes
    - NFC normalization (ftfy's default normalization)
    - unescape_html='auto' (round 4): HTML5 named + numeric entities
      decode UNLESS the text contains '<' (looks like real markup)
    - restore_byte_a0 (round 4): space-for-NBSP corruption inside
      mojibake utf-8 sequences restored before the decode retry
    - replace_lossy_sequences (round 4): continuations destroyed by an
      earlier lossy decode ('?' / SUB) → U+FFFD, rest still repairs
    - decode_inconsistent_utf8 (round 4): mojibake runs embedded in
      otherwise-correct text (mixed sources) repair independently

    The full ftfy default-fix list is now reproduced (lite semantics:
    acceptance by decode success rather than badness scoring); plain
    ASCII and Thai pass through untouched, matching ftfy.

    The four per-character fixes (C1 controls, ligatures, width, quotes)
    are ``_fix_char``; they run as the one ``str.translate`` table built
    from it at import, on texts that hold a character it changes."""
    if "&" in text and "<" not in text:  # ftfy's 'auto' gate
        text = unescape_html_lite(text)
    if "\x1b" in text:
        text = _TERMINAL_ESCAPE_RE.sub("", text)
    # plain ASCII can't contain mojibake, ligatures, fullwidth forms,
    # C1 controls, or curly quotes, and NFC is identity on it — skip
    # the entire repair tail (str.isascii is C-speed; ASCII elements
    # are the common case at corpus scale)
    if text.isascii():
        return text
    for _ in range(3):  # encoding fixpoint (double-mojibake = 2 passes)
        repaired = _fix_encoding_once(text)
        if repaired == text:
            break
        text = repaired
    text = decode_inconsistent_utf8(text)
    if _CHAR_FIX_RE.search(text):
        text = text.translate(_CHAR_FIXES)
    return unicodedata.normalize("NFC", text)


def cleanup_element_text(text: str) -> str:
    """Element-text cleanup: repair -> strip -> escape -> cap at 250
    (ocr_utils.py:266-276)."""
    cleaned = fix_text_lite(text).strip()
    cleaned = _ESCAPE_RE.sub(lambda m: _ESCAPES[m.group(0)], cleaned)
    return cap_split_string(cleaned, ELEMENT_TEXT_CAP)


def is_base64_string(value: str) -> bool:
    """Base64 round-trip validity check (ocr_utils.py:627-632): decode
    leniently, re-encode, compare the first 10 encoded bytes."""
    import base64

    try:
        return base64.b64encode(base64.b64decode(value))[:10] == value.encode()[:10]
    except Exception:
        return False
