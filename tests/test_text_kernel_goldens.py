"""Pinned goldens for the two text kernels after the PDF parser:
``oracle/htmlstrip.strip_html_boilerplate`` and
``oracle/textops.cleanup_element_text`` (``fix_text_lite`` inside it).

``text_kernel_goldens.json`` maps HTML payloads to their stripped text
and element texts to their cleaned anchor text. The cases are
adversarial on purpose:

- HTML: nested and unclosed chrome, anchors inside table cells, cells
  outside rows, entities split by tags, trailing text, the whitespace
  code points that ``\\s`` and ``str.split`` both know (``\\x1c``-``\\x1f``,
  U+0085, U+00A0, U+2028, U+3000), seeded tag soups and seeded byte
  mutations of fixture pages;
- element texts: latin-1, cp1252 and double-encoded mojibake, C1
  controls, ligatures, fullwidth forms, curly quotes, Thai, combining
  marks, ``&`` with and without ``<``, ANSI escapes, over-250-character
  texts and seeded character soups.

Two sweeps cover every code point, 0 to U+10FFFF: each kernel runs over
blocks of consecutive code points and only a SHA-256 per 4,096 code
points is pinned, so a changed per-character rule anywhere shows.

The expected outputs come from the kernels as they were before their
single-loop and translate-table rewrites, and the kernels must reproduce
them byte for byte. Regenerate only from a revision whose kernels are
the reference:

    python tests/test_text_kernel_goldens.py --write
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_PATH = os.path.join(HERE, "text_kernel_goldens.json")

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))

from typhoon_ocr_spark.oracle.htmlstrip import strip_html_boilerplate  # noqa: E402
from typhoon_ocr_spark.oracle.textops import (  # noqa: E402
    cleanup_element_text,
    sloppy_1252_decode,
)
from typhoon_ocr_spark.sources.fixtures import _html_payload  # noqa: E402

SWEEP_BLOCK = 4096
_MAX_CP = 0x110000


# --------------------------------------------------------------------------
# HTML inputs
# --------------------------------------------------------------------------

_LONG = "a sentence that is comfortably long enough to be kept as content"
_WS_CODEPOINTS = "\x1c\x1d\x1e\x1f\x85\xa0 　"

_HTML_CASES = {
    "empty": "",
    "text_only": _LONG,
    "trailing_text": f"<p>{_LONG}</p>trailing text after the last tag that runs long",
    "trailing_entity": f"<div>{_LONG}</div> fish &amp; chips &#3652; at the very end ok",
    "nested_chrome": (
        f"<nav><header><p>{_LONG}</p></header><p>{_LONG} nav</p></nav>"
        f"<p>{_LONG} body</p>"
    ),
    "unclosed_chrome": f"<p>{_LONG} one</p><aside><p>{_LONG} two</p><p>{_LONG} three</p>",
    "extra_chrome_closes": f"</nav></footer><p>{_LONG}</p></aside><div>{_LONG} x</div>",
    "chrome_mid_block": f"<p>{_LONG} <footer>foot text</footer> after foot {_LONG}</p>",
    "anchor_in_cells": (
        "<table><tr><td><a href='/a'>linked cell</a></td><td>plain</td></tr>"
        "<tr><td>x <a href='b'>y</a></td><td><a>all link</a></td></tr>"
        "<tr><td>a long plain cell <a>ln</a></td><td>kept</td></tr></table>"
    ),
    "cells_outside_rows": f"<td>loose cell</td><th>head</th><p>{_LONG}</p><td>a</td>b",
    "nested_cells": "<tr><td>outer <td>inner</td> tail</td><td> </td><td>z</td></tr>",
    "row_without_cells": "<table><tr>text in a row without any cells</tr></table>",
    "unclosed_row": "<table><tr><td>a</td><td>b<tr><td>c</td>",
    "entities_split_by_tags": (
        f"<p>{_LONG} &am<b>p; and &#36<i>52; and &lt</i>; end</b></p>"
    ),
    "entities_variety": (
        f"<p>{_LONG} &amp;&lt;&gt;&quot;&apos;&nbsp;&#x0E17;&#3652;&notit; &amp &copy "
        "&#0; &#xD800; &#x110000; &;</p>"
    ),
    "whitespace_codepoints": (
        f"<p>{_WS_CODEPOINTS}{_LONG}{_WS_CODEPOINTS}mid{_WS_CODEPOINTS}</p>"
        f"<tr><td>{_WS_CODEPOINTS}</td><td>{_WS_CODEPOINTS}c{_WS_CODEPOINTS}</td></tr>"
        f"<h2>{_WS_CODEPOINTS}hd{_WS_CODEPOINTS}</h2>"
    ),
    "whitespace_only_blocks": "<p> \t\n </p><div>\xa0　</div><h1> </h1>",
    "heading_kinds": (
        "<h1>ab</h1><h2>abc</h2><h3><a>linked heading</a></h3>"
        "<h4>half <a>link</a></h4></h5>closing heading text<h6>"
    ),
    "link_density_edges": (
        "<p>" + "x" * 60 + "<a>" + "y" * 40 + "</a></p>"
        "<p>" + "x" * 59 + "<a>" + "y" * 41 + "</a></p>"
    ),
    "tag_density_edges": (
        "<p>" + "<b>" * 15 + "z" * 100 + "</p><p>" + "<i>" * 16 + "w" * 100 + "</p>"
    ),
    "unclosed_anchor": f"<p><a href='x'>{_LONG}</p><p>{_LONG} after</p>",
    "anchor_closes_extra": f"</a></a><p><a>{_LONG}</a></p><p>{_LONG} two</p>",
    "script_style_dropped": (
        f"<script>var s='<p>{_LONG}</p>';</script><p>{_LONG}</p>"
        "<STYLE>p{}</STYLE ><!-- <p>comment</p> --><svg><p>in svg</p></svg>"
        "<template><p>tpl</p></template><noscript>ns</noscript>"
    ),
    "unterminated_script": f"<p>{_LONG}</p><script>never closed <p>{_LONG}</p>",
    "odd_tags": f"<p>{_LONG}<br/><BR>x<Br class=q>y< p>not a tag</p ><p\n>{_LONG}</p>",
    "tag_like_text": f"<p>{_LONG} 1 < 2 and 3 > 2 and <3 and <-- arrows --></p>",
    "body_and_br_blocks": f"<body>{_LONG}<br>{_LONG} two<body>{_LONG} three",
    "mixed_scripts": (
        "<p>ภาษาไทย ข้อมูล เอกสาร ระบบ ภาษา ไทย หน้า ตาราง</p>"
        "<p>été café naı̈ve comfortably long</p>"
    ),
    "cr_and_tabs": f"<p>{_LONG}\r\n\tline two\r\tline three</p>",
    "deep_nesting": "<div>" * 200 + _LONG + "</div>" * 200,
}


def _tag_soups(count: int):
    parts = [
        "<p>", "</p>", "<div>", "</div>", "<td>", "</td>", "<th>", "<tr>", "</tr>",
        "<table>", "<a href='x'>", "</a>", "<nav>", "</nav>", "<footer>", "</aside>",
        "<h1>", "</h1>", "<h3>", "<li>", "<br>", "<b>", "</i>", "<span class=s>",
        "&amp;", "&lt;", "&#3652;", "&nbsp;", "&bogus;", "&", "<", ">", " ",
        "\n", "\t", "\xa0", "　", "\x1c", "\x85", " ", _LONG, "word",
        "ไทย", "é", "<!--", "-->", "<script>", "</script>",
    ]
    rng = random.Random(20261019)
    for i in range(count):
        yield f"soup_{i:03d}", "".join(rng.choice(parts) for _ in range(rng.randint(5, 80)))


def _mutations(count: int):
    rng = random.Random(1019)
    for i in range(count):
        data = bytearray(_html_payload(rng, i, "th" if i % 3 == 0 else "en"))
        for _ in range(rng.randint(1, 6)):
            at = rng.randrange(len(data))
            op = rng.random()
            if op < 0.4:
                data[at] = rng.choice(b"<>/&;#ax \n\t\x1c\x85\xa0\xe0\xc3")
            elif op < 0.7:
                del data[at: at + rng.randint(1, 16)]
            else:
                data[at:at] = rng.choice([
                    b"<", b">", b"</", b"<a>", b"</a>", b"<td>", b"<tr>", b"<nav>",
                    b"</footer>", b"&amp", b"&#", b"\xc2\x85", b"\xe3\x80\x80",
                    b"\xe2\x80\xa8", b"\xff", b"<!--",
                ])
        yield f"mutation_{i:03d}", bytes(data)


def html_inputs() -> dict:
    """``{name: bytes}``: hand cases, tag soups and mutated fixture pages."""
    cases = {k: v.encode("utf-8") for k, v in _HTML_CASES.items()}
    cases["invalid_utf8"] = b"<p>" + _LONG.encode() + b" \xff\xfe\xc3( \xe0\xb8</p>"
    cases.update((k, v.encode("utf-8")) for k, v in _tag_soups(150))
    cases.update(_mutations(100))
    return cases


# --------------------------------------------------------------------------
# Element-text inputs
# --------------------------------------------------------------------------

def _latin1(s: str) -> str:
    return s.encode("utf-8").decode("latin-1")


def _cp1252(s: str) -> str:
    return sloppy_1252_decode(s.encode("utf-8"))


_ELEMENT_CASES = {
    "ascii": "Hello World",
    "empty": "",
    "spaces": "   padded text\t ",
    "escapes": "a [b] c\nd\re\tf",
    "mojibake_latin1": _latin1("café naïve résumé"),
    "mojibake_cp1252": _cp1252("it’s “quoted” — dash"),
    "mojibake_double": _latin1(_latin1("café")),
    "mojibake_double_cp1252": _cp1252(_cp1252("naïve “q”")),
    "mojibake_triple": _cp1252(_cp1252(_cp1252("é"))),
    "mojibake_thai": _latin1("ภาษาไทย"),
    "mojibake_embedded": "ไทย " + _latin1("café") + " mixed",
    "mojibake_a0_space": _latin1("voilà déjà").replace("\xa0", " "),
    "mojibake_lossy": sloppy_1252_decode(b"lossy caf\xc3? here"),
    "mojibake_lossy_sub": sloppy_1252_decode(b"sub \xe0\xb8\x1a end"),
    "not_mojibake": "Ã alone and Â© stray",
    "c1_controls": "".join(chr(c) for c in range(0x80, 0xA0)),
    "c1_in_text": "quote \x93x\x94 and \x85 and \x91y\x92 and \x81\x8d\x8f\x90\x9d",
    "ligatures": "ﬂuﬃest ﬁne ﬀ ﬄ ﬅ ﬆ Ĳssel ĳ",
    "fullwidth": "ＯＫ！ ｆｕｌｌ～ｗｉｄｔｈ　ｓｐａｃｅ ＂ｑ＂ ［ｂ］",
    "curly_quotes": "‘single’ “double” ‚low‛ „low‟",
    "thai": "ภาษาไทย ข้อมูล เอกสาร ระบบ",
    "combining": "é ä ộ ñ ẛ̣ ﬁ́",
    "nfc_hangul": "각 가",
    "amp_no_lt": "fish &amp; chips &#3652;&#x0E17; AT&T &notreal; &amp end",
    "amp_with_lt": "a < b &amp; c &lt; d",
    "amp_numeric_edge": "&#0; &#x110000; &#xD800; &#65; &#x41; &#128; &#150;",
    "ansi": "\x1b[31mred\x1b[0m \x1b[2K\x1b[1;1H plain \x1b[99x",
    "ansi_mojibake": "\x1b[1m" + _latin1("café") + "\x1b[0m",
    "long_ascii": "long " + " ".join(f"w{i}" for i in range(80)),
    "long_no_spaces": "x" * 300,
    "long_thai": "ภาษาไทย " * 60,
    "long_mojibake": _latin1("é" * 150 + " " + "ü" * 150),
    "long_escapes": "[" * 130 + "]" * 130,
    "whitespace_kinds": "\x1c\x1d\x1e\x1f\x85\xa0 　 mid 　\xa0",
    "nbsp_inside": "a\xa0b c d",
    "surrogate_like": "\U0001F600 emoji \U0001D400 math",
    "replacement_char": "bad � byte",
}

_SOUP_CHARS = (
    list("abc XYZ 019 .,;") + list("[]\n\r\t&<;#") + ["&amp;", "&lt;", "&#3652;", "\x1b[0m"]
    + [chr(c) for c in range(0x80, 0xA0)] + list("éüÃÂ©¨â€™œ\xa0")
    + list("ﬁﬂﬀﬃﬄﬅﬆĲĳ") + [chr(c) for c in range(0xFF01, 0xFF5F, 7)] + ["　"]
    + list("‘’‚‛“”„‟") + list("ภาษาไทยข้อมูล") + ["́", "̈", "̣"]
    + ["�", " ", "\x85"]
)


def _char_soups(count: int):
    rng = random.Random(20261020)
    for i in range(count):
        text = "".join(rng.choice(_SOUP_CHARS) for _ in range(rng.randint(1, 120)))
        if i % 4 == 1:
            text = _latin1(text)
        elif i % 4 == 2:
            text = _cp1252(text) if text.isascii() else text
        yield f"soup_{i:03d}", text


def element_inputs() -> dict:
    """``{name: str}``: hand cases and seeded character soups."""
    cases = dict(_ELEMENT_CASES)
    cases.update(_char_soups(300))
    return cases


# --------------------------------------------------------------------------
# Code-point sweeps
# --------------------------------------------------------------------------

def _utf8(text: str) -> bytes:
    return text.encode("utf-8", "surrogatepass")


def _html_sweep_doc(start: int, stop: int) -> str:
    chars = "".join(chr(c) for c in range(start, stop))
    return f"<p>{_LONG} {chars}</p><tr><td>{chars}</td><td>x{chars}y</td></tr><h2>{chars}</h2>"


def sweep_digests(kernel, block: int = SWEEP_BLOCK) -> list:
    """SHA-256 of ``kernel``'s outputs over consecutive 64-code-point
    chunks, one digest per ``block`` code points."""
    out = []
    for start in range(0, _MAX_CP, block):
        h = hashlib.sha256()
        for lo in range(start, start + block, 64):
            h.update(_utf8(kernel(lo, lo + 64)))
            h.update(b"\x00")
        out.append(h.hexdigest())
    return out


def html_sweep() -> list:
    return sweep_digests(lambda lo, hi: strip_html_boilerplate(_html_sweep_doc(lo, hi)))


def element_sweep() -> list:
    return sweep_digests(
        lambda lo, hi: cleanup_element_text("".join(chr(c) for c in range(lo, hi)))
    )


def write_goldens(path: str = GOLDEN_PATH) -> None:
    doc = {
        "html": [
            {"name": k, "input": base64.b64encode(v).decode("ascii"),
             "expected": strip_html_boilerplate(v)}
            for k, v in html_inputs().items()
        ],
        "element": [
            {"name": k, "input": v, "expected": cleanup_element_text(v)}
            for k, v in element_inputs().items()
        ],
        "html_sweep": html_sweep(),
        "element_sweep": element_sweep(),
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


_GOLDENS = (
    _goldens() if os.path.exists(GOLDEN_PATH)
    else {"html": [], "element": [], "html_sweep": [], "element_sweep": []}
)


@pytest.mark.parametrize("case", _GOLDENS["html"], ids=lambda c: c["name"])
def test_html_strip_golden(case):
    assert strip_html_boilerplate(base64.b64decode(case["input"])) == case["expected"]


@pytest.mark.parametrize("case", _GOLDENS["element"], ids=lambda c: c["name"])
def test_element_text_golden(case):
    assert cleanup_element_text(case["input"]) == case["expected"]


def _first_changed_block(got: list, want: list):
    bad = [i for i, (a, b) in enumerate(zip(got, want)) if a != b]
    return hex(bad[0] * SWEEP_BLOCK) if bad else None


def test_html_strip_code_point_sweep():
    got = html_sweep()
    assert len(got) == len(_GOLDENS["html_sweep"])
    assert _first_changed_block(got, _GOLDENS["html_sweep"]) is None


def test_element_text_code_point_sweep():
    got = element_sweep()
    assert len(got) == len(_GOLDENS["element_sweep"])
    assert _first_changed_block(got, _GOLDENS["element_sweep"]) is None


def test_goldens_cover_every_branch():
    """The pinned set keeps blocks of every kind, drops some, and
    changes element texts on every repair path, so a kernel that lost
    one of them fails above."""
    html = [c["expected"] for c in _GOLDENS["html"]]
    assert len(html) >= 250 and any(html) and "" in html
    assert any("\t" in t for t in html)  # table rows
    assert any("\n\n" in t for t in html)  # several kept blocks
    element = {c["name"]: c for c in _GOLDENS["element"]}
    assert len(element) >= 300
    changed = [n for n, c in element.items() if c["input"] != c["expected"]]
    for name in ("mojibake_latin1", "mojibake_double", "c1_controls", "ligatures",
                 "fullwidth", "curly_quotes", "amp_no_lt", "ansi", "long_ascii"):
        assert name in changed, name
    assert element["thai"]["input"] == element["thai"]["expected"]


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_text_kernel_goldens.py --write")
    write_goldens()
    print(GOLDEN_PATH)
