"""Pinned goldens for the PDF parse kernel (``oracle/pdfmini.py``).

``pdf_parse_goldens.json`` maps content streams (through
``_interpret_content``) and whole PDFs (through ``parse_pdf`` and
``page_count``) to their text elements with coordinates, their image
elements, or the exact exception type and message. The cases are
adversarial on purpose: escaped and nested literal strings, hex strings,
nested TJ arrays, stray delimiters, comments, odd numbers, names and
operators glued to delimiters, inline dictionaries in content, truncated
streams, damaged cross-reference data, a missing catalog, plus seeded
token soups and byte mutations.

The expected outcomes come from the per-token lexer interpreter that the
single scan loop replaced, and the kernel must reproduce them byte for
byte. Floats are compared through their JSON text, so ``-0.0`` against
``0.0`` or ``1`` against ``1.0`` is a mismatch.

Regenerate only from a revision whose parser is the reference:

    python tests/test_pdf_parse_goldens.py --write
"""

from __future__ import annotations

import base64
import json
import os
import random
import sys
import zlib

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_PATH = os.path.join(HERE, "pdf_parse_goldens.json")

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))

from typhoon_ocr_spark.oracle import pdfmini  # noqa: E402

XOBJECTS = {"/Im1": True, "/Im2": True, "/Fm1": False}


# --------------------------------------------------------------------------
# Outcomes, in a JSON-comparable form
# --------------------------------------------------------------------------

def _error(exc: BaseException) -> dict:
    return {"error": [type(exc).__name__, str(exc)]}


def _elements(texts, images) -> dict:
    return {
        "texts": [[t.text, t.x, t.y] for t in texts],
        "images": [[i.name, i.bbox.x0, i.bbox.y0, i.bbox.x1, i.bbox.y1] for i in images],
    }


def content_outcome(content: bytes) -> dict:
    try:
        texts, images = pdfmini._interpret_content(content, dict(XOBJECTS))
    except Exception as exc:  # the exception itself is the outcome
        return _error(exc)
    return _elements(texts, images)


def pdf_outcome(data: bytes) -> dict:
    try:
        reports = pdfmini.parse_pdf(data)
    except Exception as exc:
        out = _error(exc)
    else:
        out = {"pages": [
            dict(mediabox=[r.mediabox.x0, r.mediabox.y0, r.mediabox.x1, r.mediabox.y1],
                 **_elements(r.text_elements, r.image_elements))
            for r in reports
        ]}
    out["page_count"] = pdfmini.page_count(data)
    return out


def _canon(outcome: dict) -> str:
    return json.dumps(outcome, sort_keys=True, ensure_ascii=True)


# --------------------------------------------------------------------------
# Inputs
# --------------------------------------------------------------------------

_CONTENT_CASES = {
    "plain_run": b"BT /F1 12 Tf 72 700 Td (Hello) Tj ET",
    "escapes": b"BT 1 2 Td (a\\(b\\)c\\\\d\\n\\r\\t\\b\\f\\101\\7\\12x\\q\\0509) Tj ET",
    "line_continuations": b"BT 1 2 Td (ab\\\ncd) Tj (ef\\\r\ngh) Tj (ij\\\rkl) Tj ET",
    "nested_literals": b"BT 1 2 Td (a(b)c) Tj (x(y(z))w) Tj (()) Tj ET",
    "unbalanced_literal": b"BT 1 2 Td (a(b) Tj 3 4 Td (c) Tj ET",
    "backslash_at_end": b"BT 1 2 Td (abc\\",
    "empty_literals": b"BT 1 2 Td () Tj () ' ET",
    "hex_strings": b"BT 1 2 Td <48656c6c6f> Tj <4865 6c6> Tj <48zz65> Tj <> Tj ET",
    "hex_unterminated": b"BT 1 2 Td <48656c",
    "utf16_and_latin1": b"BT 1 2 Td <feff00480069> Tj <c3> Tj <e0b984e0b897e0b8a2> Tj ET",
    "tj_array": b"BT 5 6 Td [(a) -250 (b) 12.5 <63>] TJ ET",
    "tj_nested": b"BT 5 6 Td [(a) [(b) [(c)]] (d)] TJ ET",
    "tj_empty_and_names": b"BT 5 6 Td [] TJ [(a) /N 3 Tj (b)] TJ ET",
    "tj_stray_paren": b"BT 5 6 Td [(a) ) (b)] TJ (after) Tj ET",
    "tj_stray_brace": b"BT 5 6 Td [(a) } ] TJ (x) Tj ] TJ ET",
    "tj_stray_gt": b"BT 5 6 Td [(a) > (b)] TJ ET",
    "tj_dict_inside": b"BT 5 6 Td [(a) << /K (v) >> (b)] TJ ET",
    "tj_unterminated": b"BT 5 6 Td [(a) (b)",
    "stray_top_level": b"] (x) Tj 1 2 Td ) (y) Tj } { > (z) Tj",
    "comments": b"% lead\nBT 1 2 Td (c) Tj % tail\n[(a) % in array\n (b)] TJ ET % eof",
    "comment_cr": b"BT 1 2 Td %c\r(d) Tj%x\r\nET",
    "numbers_dotted": b"BT 1.2.3 4 Td (n) Tj ET",
    "numbers_signed": b"BT +.5 -.5 Td (s) Tj +5 -3 Td (t) Tj 1. 2. Td (u) Tj 007 8 Td (v) Tj ET",
    "numbers_lone_signs": b"BT - 5 6 Td (w) Tj + . 7 8 Td (x) Tj ET",
    "numbers_glued": b"BT 5-3 Td (a) Tj 1+2 Td (b) Tj 3/Im1 Do ET",
    "number_overflow": b"BT 1" + b"0" * 400 + b" 2 Td (big) Tj ET",
    "number_huge_digits": b"BT 1" + b"0" * 5000 + b" 2 Td (inf) Tj ET",
    "names_glued": b"BT/F1 12 Tf 1 2 Td(abc)Tj(def)Tj/F2 9 Tf<41>Tj[(g)]TJ ET",
    "name_edge_cases": b"BT / 1 2 Td (a) Tj /A/B 3 4 Td (b) Tj // 5 6 Td (c) Tj ET",
    "operators_glued": b"BT 1 2 Td (a)Tj'(b)\"x T*Tj ET",
    "quote_ops": b"BT 12 TL 1 2 Td (a) ' 1 2 (b) \" (c) ' ET",
    "quote_ops_short": b"BT 1 2 Td ' (a) \" 1 (b) \" ET",
    "inline_dict": b"BT << /A 1 /B [2 3] /C << /D (e) >> >> 5 6 Td (f) Tj ET",
    "inline_dict_refs": b"BT << /A 1 0 R /B 2 >> Tj 7 8 Td (g) Tj ET",
    "inline_dict_unterminated": b"BT 1 2 Td (h) Tj << /A (i",
    "inline_dict_comments": b"BT << /A 1 %c\n >> 5 6 Td (k) Tj << %c\n/B 2 >> << /C %c\n 3 >> ET",
    "inline_dict_stray_keys": b"BT << ) /A 1 5 (v) /B >> 7 8 Td (m) Tj ET",
    "text_matrices": b"BT 1 0 0 1 50 60 Tm (a) Tj 2 TL T* (b) Tj 0 -14 TD T* (c) Tj ET",
    "tm_short": b"BT 1 2 Tm (a) Tj 3 4 Td (b) Tj ET BT 7 8 Td (c) Tj ET",
    "tm_string_operands": b"BT (1) (0) (0) (1) (5) (6) Tm (z) Tj <31> <32> Td (y) Tj ET",
    "tm_scaled": b"BT 2 0 0 -3 10 20 Tm (s) Tj 1.5 -2.5 Td (t) Tj ET",
    "show_number": b"BT 1 2 Td 5 Tj ET",
    "show_float": b"BT 1 2 Td 3.5 Tj ET",
    "show_name": b"BT 1 2 Td /N Tj (after) Tj ET",
    "show_dict": b"BT 1 2 Td << /A 1 >> Tj ET",
    "show_empty_stack": b"BT Tj TJ ' 1 2 Td (a) Tj ET",
    "images": b"q 10 0 0 20 5 6 cm /Im1 Do Q q -4 0 0 -4 100 100 cm /Im2 Do Q",
    "images_nested_cm": b"q 2 0 0 2 0 0 cm q 1 0 0 1 10 20 cm /Im1 Do Q /Im2 Do Q /Im1 Do",
    "images_non_image": b"/Fm1 Do /Missing Do [/Im1] Do 5 Do /Im1Do (x) Do",
    "images_glued": b"q 1 0 0 1 3 4 cm/Im1 Do Q",
    "cm_short": b"q 1 2 cm /Im1 Do Q 1 0 0 1 5 5 cm /Im1 Do",
    "q_underflow": b"Q Q q q 3 0 0 3 0 0 cm Q /Im1 Do Q Q /Im1 Do",
    "unknown_ops_clear": b"BT 1 2 Tf 3 4 Td (a) Tj 9 9 BDC 5 6 Td (b) Tj ET",
    "whitespace_kinds": b"BT\x001\t2\x0cTd\r(a)\nTj\x00ET",
    "vertical_tab_not_ws": b"BT 1\x0b2 Td (a) Tj ET",
    "braces_and_keywords": b"{ BT 1 2 Td (a) Tj } ET true false null 3 4 Td",
    "truncated_literal": b"BT 1 2 Td (unterminated",
    "truncated_hex": b"BT 1 2 Td <414",
    "truncated_array": b"BT 1 2 Td [ (a",
    "truncated_dict": b"BT << /A",
    "truncated_after_name": b"BT /F1",
    "truncated_after_number": b"BT 1 2",
    "empty": b"",
    "only_whitespace": b" \n\t ",
    "only_comment": b"% nothing here",
    "deep_arrays": b"BT 1 2 Td " + b"[" * 50 + b"(deep)" + b"]" * 50 + b" TJ ET",
    "deep_dicts": b"<< /A " * 30 + b">>" * 30 + b" BT 1 2 Td (d) Tj ET",
    "leading_negative_zero": b"BT -0 -0 Td (z) Tj -0.0 0 Td (w) Tj ET",
}

_SOUP_TOKENS = [
    b"BT", b"ET", b"Td", b"TD", b"Tm", b"T*", b"TL", b"Tj", b"TJ", b"'", b'"',
    b"cm", b"q", b"Q", b"Do", b"Tf", b"/Im1", b"/Im2", b"/Fm1", b"/F1", b"/",
    b"1", b"-2.5", b"0", b".5", b"+3", b"1.2.3", b"-", b"72", b"700", b"1e5",
    b"(a)", b"(b\\)c)", b"(n(e)st)", b"()", b"(\\101\\n)", b"<41>", b"<4>", b"<>",
    b"[", b"]", b"(", b")", b"<<", b">>", b"<", b">", b"{", b"}", b"%c\n",
    b"\n", b"\x00", b"\\", b"0 R",
]
_SOUP_SEPS = [b"", b" ", b" ", b" ", b"\n", b"\t"]


def _token_soups(count: int):
    rng = random.Random(20261018)
    for i in range(count):
        n = rng.randint(4, 40)
        parts = []
        for _ in range(n):
            parts.append(rng.choice(_SOUP_TOKENS))
            parts.append(rng.choice(_SOUP_SEPS))
        yield f"soup_{i:03d}", b"".join(parts)


def _assemble(objects: dict, trailer: bytes, header: bytes = b"%PDF-1.4\n") -> bytes:
    """A classic-xref PDF from ``{num: body}`` with correct offsets."""
    out = bytearray(header)
    offsets = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += b"%d 0 obj\n%s\nendobj\n" % (num, objects[num])
    xref_pos = len(out)
    size = max(objects) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    for num in range(1, size):
        out += b"%010d 00000 n \n" % offsets.get(num, 0)
    out += b"trailer\n<< /Size %d %s >>\nstartxref\n%d\n%%%%EOF\n" % (size, trailer, xref_pos)
    return bytes(out)


def _stream(body: bytes, extra: bytes = b"") -> bytes:
    return b"<< /Length %d%s >>\nstream\n%s\nendstream" % (len(body), extra, body)


def _rich_writer():
    w = pdfmini.MiniPdfWriter()
    w.add_page((0, 0, 400, 600)).text(72, 500, "hello world")
    w.text_tj(80, 300, ["split", " joined"])
    w.image("Im1", 50, 60, 100, 110)
    w.add_page().text_lines(90, 680, 16, ["l1 alpha", "l2 (beta)"])
    w.text(100, 100, "thai ไทย", mode="Tm")
    w.add_page((-50, -100, 562, 692)).image("Im2", 10.5, 20.25, 30, 40)
    return w


def _small_writer():
    w = pdfmini.MiniPdfWriter()
    w.add_page().text(10, 20, "ab").image("Im1", 1, 2, 3, 4)
    return w


def _hand_built() -> dict:
    cases = {}
    page_content = b"BT 1 2 Td (kid) Tj ET"
    cases["nested_tree_inherited"] = _assemble(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R 4 0 R] /MediaBox [0 0 300 400] "
               b"/Resources << /XObject << /Im1 7 0 R >> >> >>",
            3: b"<< /Type /Pages /Kids [5 0 R] /MediaBox [1 2 3 4] >>",
            4: b"<< /Type /Page /Contents [6 0 R 8 0 R] >>",
            5: b"<< /Type /Page /Contents 6 0 R /MediaBox [0 0 9.5 -0] >>",
            6: _stream(page_content),
            7: _stream(b"xyz", b" /Subtype /Image"),
            8: _stream(b"q 2 0 0 2 1 1 cm /Im1 Do Q"),
        },
        b"/Root 1 0 R",
    )
    cases["comments_in_dicts"] = _assemble(
        {
            1: b"<< /Type /Catalog % c\n /Pages 2 %c\n 0 R >>",
            2: b"<< /Type/Pages/Kids[3 0 R]/Count 1>>",
            3: b"<</Type/Page/MediaBox[0 0 +10 .5]/Contents 4 0 R/Parent 2 0 R>>",
            4: _stream(b"BT 3 4 Td (c) Tj ET"),
        },
        b"/Root 1 0 R",
    )
    cases["comment_before_dict_end"] = _assemble(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R %c\n>>",
            2: b"<< /Type /Pages /Kids [3 0 R %k\n] %c\n>>",
            3: b"<< /Type /Page /Contents 4 0 R /MediaBox [0 0 <31> 9] %c>>\n>>",
            4: _stream(b"BT 3 4 Td (e) Tj ET"),
        },
        b"/Root 1 0 R",
    )
    cases["ref_vertical_tab"] = _assemble(
        {
            1: b"<< /Type /Catalog /Pages 2 0\x0bR >>",
            2: b"<< /Type /Pages /Kids [3 0 R] >>",
            3: b"<< /Type /Page /Contents 4 0 R >>",
            4: _stream(b"BT 3 4 Td (v) Tj ET"),
        },
        b"/Root 1 0 R",
    )
    cases["ref_signed_and_real"] = _assemble(
        {
            1: b"<< /Type /Catalog /Pages +2 0 R /X 1.0 0 R /Y -3 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R 3.0 0 R] >>",
            3: b"<< /Type /Page /Contents 4 0 R /MediaBox 5 0 R >>",
            4: _stream(b"BT 3 4 Td (s) Tj ET"),
            5: b"[0 0 50 60]",
        },
        b"/Root 1 0 R",
    )
    cases["dict_odd_keys"] = _assemble(
        {
            1: b"<< /Type /Catalog 5 /Pages 2 0 R (k) /Junk >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count >>",
            3: b"<< /Type /Page /Contents 4 0 R /Resources << /XObject 6 0 R >> >>",
            4: _stream(b"/Im1 Do BT 3 4 Td (o) Tj ET"),
            6: b"<< /Im1 7 0 R >>",
            7: _stream(b"", b" /Subtype /Image"),
        },
        b"/Root 1 0 R",
    )
    cases["missing_catalog"] = _assemble(
        {
            1: b"<< /Type /Catalx /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] >>",
            3: b"<< /Type /Page /Contents 4 0 R >>",
            4: _stream(b"BT 3 4 Td (m) Tj ET"),
        },
        b"/Rxxt 1 0 R",
    )
    cases["catalog_by_type_scan"] = _assemble(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] >>",
            3: b"<< /Type /Page /Contents 4 0 R >>",
            4: _stream(b"BT 3 4 Td (t) Tj ET"),
        },
        b"/Info 9 0 R",
    )
    cases["no_pages"] = _assemble({1: b"<< /Type /Catalog >>"}, b"/Root 1 0 R")
    cases["page_cycle_free_kids_junk"] = _assemble(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R 99 0 R (s) 4] >>",
            3: b"<< /Type /Page >>",
        },
        b"/Root 1 0 R",
    )
    cases["contents_direct_and_missing"] = _assemble(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R 4 0 R] >>",
            3: b"<< /Type /Page /Contents [5 0 R 77 0 R] >>",
            4: b"<< /Type /Page /Contents (BT 1 1 Td (d) Tj ET) >>",
            5: _stream(b"BT 1 1 Td (e) Tj ET"),
        },
        b"/Root 1 0 R",
    )
    cases["length_indirect_and_bad"] = _assemble(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R 6 0 R] >>",
            3: b"<< /Type /Page /Contents 4 0 R >>",
            4: b"<< /Length 5 0 R >>\nstream\nBT 1 1 Td (len) Tj ET\nendstream",
            5: b"21",
            6: b"<< /Type /Page /Contents 7 0 R >>",
            7: b"<< /Length (x) >>\nstream\r\nBT 2 2 Td (cr) Tj ET\nendstream",
        },
        b"/Root 1 0 R",
    )
    cases["asciihex_and_bad_predictor"] = _assemble(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R 5 0 R] >>",
            3: b"<< /Type /Page /Contents 4 0 R >>",
            4: _stream(b"BT 1 1 Td (hx) Tj ET".hex().encode() + b">",
                       b" /Filter /ASCIIHexDecode"),
            5: b"<< /Type /Page /Contents 6 0 R >>",
            6: _stream(zlib.compress(b"BT 1 1 Td (p) Tj ET"),
                       b" /Filter [/FlateDecode] /DecodeParms [<< /Predictor 2 >>]"),
        },
        b"/Root 1 0 R",
    )
    base = _small_writer().build()
    # incremental update: a new content object and a /Prev-chained table
    old_xref = int(base.rsplit(b"startxref\n", 1)[1].split(b"\n", 1)[0])
    upd_off = len(base)
    body = b"BT 7 7 Td (updated) Tj ET"
    upd = b"4 0 obj\n%s\nendobj\n" % _stream(body)
    xref_pos = upd_off + len(upd)
    tail = (b"xref\n4 1\n%010d 00000 n \ntrailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (upd_off, old_xref, xref_pos))
    cases["incremental_update"] = base + upd + tail
    cases["prev_loop"] = base + upd + tail.replace(b"/Prev %d" % old_xref, b"/Prev %d" % xref_pos)
    return cases


def _writer_builds() -> dict:
    out = {}
    for mode, kwargs in {
        "plain": {}, "flate": {"compress": True}, "xref_stream": {"xref_stream": True},
        "xref_stream_flate": {"compress": True, "xref_stream": True},
        "objstm": {"objstm": True}, "objstm_flate": {"compress": True, "objstm": True},
    }.items():
        out[f"rich_{mode}"] = _rich_writer().build(**kwargs)
    return out


def _damaged(builds: dict) -> dict:
    cases = {}
    plain, objstm = builds["rich_plain"], builds["rich_objstm_flate"]
    xs = builds["rich_xref_stream"]
    for name, data in (("plain", plain), ("objstm", objstm), ("xref_stream", xs)):
        for frac in (0.1, 0.35, 0.6, 0.85, 0.97):
            cases[f"truncated_{name}_{int(frac * 100)}"] = data[: int(len(data) * frac)]
    cases["xref_offsets_shifted"] = plain.replace(b"%PDF-1.4\n", b"%PDF-1.4\n%pad pad\n", 1)
    cases["xref_entry_malformed"] = plain.replace(b" 00000 n \n", b" 0000x n \n", 1)
    cases["xref_subsection_bad"] = plain.replace(b"xref\n0 ", b"xref\nzz ", 1)
    cases["startxref_garbage"] = plain.rsplit(b"startxref", 1)[0] + b"startxref\n999999\n%%EOF\n"
    cases["startxref_missing"] = plain.replace(b"startxref", b"startxrex")
    cases["trailer_missing"] = plain.replace(b"trailer", b"trailor")
    cases["xref_stream_bad_w"] = xs.replace(b"/W [1 4 2]", b"/W [1 4]")
    cases["xref_stream_truncated_rows"] = xs.replace(b"/W [1 4 2]", b"/W [1 4 3]")
    cases["objstm_header_bad"] = builds["rich_objstm"].replace(b"/N 5", b"/N 9")
    cases["missing_header"] = plain[1:]
    cases["no_objects"] = b"%PDF-1.4\nnothing to see\n"
    cases["unknown_filter"] = builds["rich_flate"].replace(b"/Filter /FlateDecode",
                                                           b"/Filter /LZWDecode00")
    flate = builds["rich_flate"]
    at = flate.find(b"stream\n", flate.find(b"/FlateDecode")) + len(b"stream\n")
    cases["corrupt_flate"] = flate[:at] + b"\x00\x00\x00\x00" + flate[at + 4:]
    return cases


def _mutations(builds: dict, count: int) -> dict:
    rng = random.Random(1018)
    seeds = [_small_writer().build(), _small_writer().build(xref_stream=True),
             builds["rich_plain"]]
    cases = {}
    for i in range(count):
        data = bytearray(seeds[i % len(seeds)])
        for _ in range(rng.randint(1, 4)):
            at = rng.randrange(len(data))
            op = rng.random()
            if op < 0.4:
                data[at] = rng.choice(b"()<>[]{}/%0123456789 \nRobjxref.-+")
            elif op < 0.7:
                del data[at: at + rng.randint(1, 12)]
            else:
                data[at:at] = rng.choice([b"(", b")", b"<<", b">>", b"[", b"]", b"%",
                                          b" 0 R", b"1.5", b"/Type", b"\\"])
        cases[f"mutation_{i:03d}"] = bytes(data)
    return cases


def golden_inputs():
    """(content cases, pdf cases) as ordered ``{name: bytes}`` maps."""
    content = dict(_CONTENT_CASES)
    content.update(_token_soups(300))
    builds = _writer_builds()
    pdfs = dict(builds)
    pdfs.update(_hand_built())
    pdfs.update(_damaged(builds))
    pdfs.update(_mutations(builds, 120))
    return content, pdfs


def write_goldens(path: str = GOLDEN_PATH) -> None:
    content, pdfs = golden_inputs()
    doc = {
        "content": [
            {"name": k, "input": v.decode("latin-1"), "expected": content_outcome(v)}
            for k, v in content.items()
        ],
        "pdf": [
            {"name": k, "input": base64.b64encode(v).decode("ascii"),
             "expected": pdf_outcome(v)}
            for k, v in pdfs.items()
        ],
    }
    with open(path, "w", encoding="ascii") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True, ensure_ascii=True)
        fh.write("\n")


# --------------------------------------------------------------------------
# Tests
# --------------------------------------------------------------------------

def _goldens() -> dict:
    with open(GOLDEN_PATH, encoding="ascii") as fh:
        return json.load(fh)


_GOLDENS = _goldens() if os.path.exists(GOLDEN_PATH) else {"content": [], "pdf": []}


@pytest.mark.parametrize("case", _GOLDENS["content"], ids=lambda c: c["name"])
def test_content_stream_golden(case):
    content = case["input"].encode("latin-1")
    assert _canon(content_outcome(content)) == _canon(case["expected"])


@pytest.mark.parametrize("case", _GOLDENS["pdf"], ids=lambda c: c["name"])
def test_pdf_golden(case):
    data = base64.b64decode(case["input"])
    assert _canon(pdf_outcome(data)) == _canon(case["expected"])


def test_goldens_cover_every_outcome_kind():
    """The pinned set exercises texts, images and raised errors on both
    entry points, so a kernel that lost any of them fails above."""
    for kind in ("content", "pdf"):
        outcomes = [c["expected"] for c in _GOLDENS[kind]]
        assert len(outcomes) >= 80
        assert any("error" in o for o in outcomes)
        if kind == "content":
            assert any(o.get("texts") for o in outcomes)
            assert any(o.get("images") for o in outcomes)
        else:
            pages = [p for o in outcomes for p in o.get("pages", [])]
            assert any(p["texts"] for p in pages) and any(p["images"] for p in pages)


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_pdf_parse_goldens.py --write")
    write_goldens()
    print(GOLDEN_PATH)
