r"""DOM-heuristic HTML boilerplate stripping → main-content plaintext.

The reference only ships a markdown flattener
(/root/reference/frontend/utils/markdownText.ts:1-37); the north rule
(BASELINE.json) extends that into tag/text-density + link-density
boilerplate removal in the style of the published jusText / Boilerpipe
heuristics. This module IS the frozen oracle for that branch: its exact
behavior is pinned by fixtures and tests, and the Spark UDF calls this
same function, so "byte-identical per url" is well-defined.

Algorithm (deterministic, stdlib-only, single pass):

1. decode bytes as utf-8 (errors → U+FFFD replacement).
2. drop comments and <script>/<style>/<noscript>/<template>/<svg>
   subtrees.
3. regex-tokenize into tags and text; html.unescape entity decoding.
4. segment into blocks at block-level tag boundaries (p, div, section,
   article, main, li, ul, ol, table, tr, h1-h6, blockquote, pre, br,
   figure, figcaption, dd, dt, dl); track per block:
   - chars of visible text, chars inside <a> (link chars),
   - number of tags seen inside the block (for tag density),
   - whether the block sits inside <nav>/<header>/<footer>/<aside>
     (dropped outright), and whether it is a heading or table row.
5. table rows render as tab-joined cell texts; other blocks as
   whitespace-collapsed text.
6. keep a block iff it is not inside chrome regions and:
   - heading (h1-h6) with >=3 chars and link_density <= 0.5, or
   - table row with >=1 char and link_density <= 0.5, or
   - plain block with text_len >= 25, link_density <= 0.4 and
     tag_density (tags per 100 text chars) <= 15.
7. join kept blocks with "\n\n".

Implementation: one loop over the ``re.split`` tokens (text, closing
slash, tag name) keeps the open block in local variables (kind, text
pieces, link chars, tag count); no text is built for an empty block or
a block inside chrome. A tag is counted in the block it closes. Text
after the last tag joins the last block's text, but not its cells or
its link chars. Whitespace is collapsed with ``" ".join(s.split())``:
``str.split`` and ``strip`` split on exactly the code points that
``\s`` matches, so this is the ``\s+`` → ``" "`` collapse followed by a
strip. ``tests/test_text_kernel_goldens.py`` pins the output byte for
byte.
"""

from __future__ import annotations

import html as _html
import re
from typing import List, Union

MIN_TEXT_CHARS = 25
MAX_LINK_DENSITY = 0.4
HEADING_LINK_DENSITY = 0.5
MAX_TAG_DENSITY_PER_100 = 15.0

_DROP_SUBTREES_RE = re.compile(
    r"<!--[\s\S]*?-->|<(script|style|noscript|template|svg)\b[\s\S]*?</\1\s*>",
    re.IGNORECASE,
)
# a tag split: [text, "/" or "", name, text, ..., trailing text]
_TAG_SPLIT_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9-]*)[^>]*>")

_BLOCK_TAGS = frozenset(
    "p div section article main li ul ol table tr h1 h2 h3 h4 h5 h6 "
    "blockquote pre br figure figcaption dd dt dl body".split()
)
_CHROME_TAGS = frozenset(("nav", "header", "footer", "aside"))
_HEADING_TAGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))
_CELL_TAGS = frozenset(("td", "th"))

# block kinds (a heading or row tag opens its own kind) and what a tag
# does to the block state; no action is 0, so a lookup can fall back
# with ``or``
_TEXT, _HEADING, _ROW = 0, 1, 2
_BLOCK, _CHROME, _ANCHOR, _CELL = 3, 4, 5, 6
_TAG_ACTION = {
    **{name: _BLOCK for name in _BLOCK_TAGS},
    **{name: _HEADING for name in _HEADING_TAGS},
    "tr": _ROW,
    **{name: _CHROME for name in _CHROME_TAGS},
    "a": _ANCHOR,
    **{name: _CELL for name in _CELL_TAGS},
}


def _kept_text(kind: int, pieces: list, link_chars: int, tag_count: int):
    """The text of a closed block outside chrome, or None when the
    block is dropped. ``pieces`` are the cell texts of a row and the
    text runs of any other block."""
    if kind == _ROW:
        text = "\t".join([c for c in (s.strip() for s in pieces) if c])
    else:
        text = " ".join("".join(pieces).split())
    n = len(text)
    if not n:
        return None
    link_density = link_chars / n
    if kind == _HEADING:
        keep = n >= 3 and link_density <= HEADING_LINK_DENSITY
    elif kind == _ROW:
        keep = link_density <= HEADING_LINK_DENSITY
    else:
        keep = (
            n >= MIN_TEXT_CHARS
            and link_density <= MAX_LINK_DENSITY
            and 100.0 * tag_count / n <= MAX_TAG_DENSITY_PER_100
        )
    return text if keep else None


def strip_html_boilerplate(payload: Union[bytes, str]) -> str:
    markup = (
        payload.decode("utf-8", errors="replace") if isinstance(payload, bytes) else payload
    )
    tokens = _TAG_SPLIT_RE.split(_DROP_SUBTREES_RE.sub(" ", markup))
    unescape = _html.unescape
    kept: List[str] = []
    chrome_depth = anchor_depth = cell_depth = 0
    # the open block; a block inside chrome is dropped, so it collects
    # nothing
    kind, pieces, link_chars, tag_count = _TEXT, [], 0, 0

    for raw, slash, name in zip(tokens[::3], tokens[1::3], tokens[2::3]):
        if raw and not chrome_depth:
            text = unescape(raw)
            if kind != _ROW:
                pieces.append(text)
            elif cell_depth:
                if pieces:
                    pieces[-1] += text
                else:
                    pieces.append(text)
            if anchor_depth:
                link_chars += len(" ".join(text.split()))

        tag_count += 1
        action = _TAG_ACTION.get(name) or _TAG_ACTION.get(name.lower())
        if action is None:
            continue
        closing = slash == "/"
        if action == _ANCHOR:
            anchor_depth = max(0, anchor_depth - 1) if closing else anchor_depth + 1
            continue
        if action == _CELL:
            if closing:
                cell_depth = max(0, cell_depth - 1)
            else:
                cell_depth += 1
                if kind == _ROW:
                    pieces.append("")
            continue

        # a block boundary: close the open block, open the next one
        if pieces and not chrome_depth:
            text = _kept_text(kind, pieces, link_chars, tag_count)
            if text is not None:
                kept.append(text)
        if action == _CHROME:
            chrome_depth = max(0, chrome_depth - 1) if closing else chrome_depth + 1
            kind = _TEXT
        else:
            kind = _TEXT if closing or action == _BLOCK else action
        pieces, link_chars, tag_count = [], 0, 0

    if not chrome_depth:
        trailing = tokens[-1]
        if trailing and kind != _ROW:
            pieces.append(unescape(trailing))
        if pieces:
            text = _kept_text(kind, pieces, link_chars, tag_count)
            if text is not None:
                kept.append(text)

    return "\n\n".join(kept)
