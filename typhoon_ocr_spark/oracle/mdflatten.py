"""Markdown → plaintext flattening.

Re-expresses the reference's 17-step regex rewrite
(/root/reference/frontend/utils/markdownText.ts:1-37) in Python with
identical step order and replacement semantics:

CRLF normalize; unfence code blocks (content kept, trimmed); inline
code unwrapped; images/links → their label; strip headings, blockquote
markers, task-list markers, bullets, ordered-list markers, horizontal
rules; markdown tables flattened (separator rows dropped, leading and
trailing pipes stripped, inner pipes → tabs); emphasis unwrapped;
``<br>`` and block-close tags → newline, remaining HTML tags dropped;
3+ newlines collapsed to 2; trim.
"""

from __future__ import annotations

import re


def markdown_to_plain_text(markdown: str) -> str:
    if not markdown:
        return ""

    text = markdown.replace("\r\n", "\n")

    # Fenced code: keep the body, drop the fences (JS .trim() ≈ str.strip()).
    text = re.sub(
        r"```[a-zA-Z0-9_-]*\n([\s\S]*?)```",
        lambda m: m.group(1).strip(),
        text,
    )
    text = re.sub(r"`([^`]+)`", r"\1", text)

    # Visible labels of images and links.
    text = re.sub(r"!\[([^\]]*)\]\([^)]+\)", r"\1", text)
    text = re.sub(r"\[([^\]]+)\]\([^)]+\)", r"\1", text)
    text = re.sub(r"^\s{0,3}#{1,6}\s+", "", text, flags=re.MULTILINE)
    text = re.sub(r"^\s{0,3}>\s?", "", text, flags=re.MULTILINE)
    text = re.sub(r"^\s*[-*+]\s+\[[ xX]\]\s+", "", text, flags=re.MULTILINE)
    text = re.sub(r"^\s*[-*+]\s+", "", text, flags=re.MULTILINE)
    text = re.sub(r"^\s*\d+\.\s+", "", text, flags=re.MULTILINE)
    text = re.sub(r"^\s*([-*_]){3,}\s*$", "", text, flags=re.MULTILINE)

    # Markdown tables → tab-separated lines.
    text = re.sub(r"^\|?[\s:-]+\|[\s|:-]*$", "", text, flags=re.MULTILINE)
    text = re.sub(r"^\s*\|", "", text, flags=re.MULTILINE)
    text = re.sub(r"\|\s*$", "", text, flags=re.MULTILINE)
    text = re.sub(r"\s*\|\s*", "\t", text)

    # Emphasis markers.
    text = re.sub(r"(\*\*|__)(.*?)\1", r"\2", text)
    text = re.sub(r"(\*|_)(.*?)\1", r"\2", text)

    # HTML remnants from structure/v1.5 outputs.
    text = re.sub(r"<br\s*/?>", "\n", text, flags=re.IGNORECASE)
    text = re.sub(r"</(p|div|li|tr|h[1-6]|table|blockquote)>", "\n", text, flags=re.IGNORECASE)
    text = re.sub(r"<[^>]+>", "", text)

    text = re.sub(r"\n{3,}", "\n\n", text)
    return text.strip()
