"""Oracle text-op parity tests.

Ports the reference's own unit assertions
(/root/reference/backend/tests/test_unit_ocr_utils.py) against our
pure-Python re-implementations.
"""

import pytest

from typhoon_ocr_spark.oracle import (
    cap_split_string,
    cleanup_element_text,
    fix_text_lite,
)
from typhoon_ocr_spark.oracle.textops import sloppy_1252_decode


class TestCapSplitString:
    @pytest.mark.parametrize(
        "text,max_length",
        [("short", 10), ("exact length", 12), ("", 5), ("a", 1)],
    )
    def test_no_truncation(self, text, max_length):
        assert cap_split_string(text, max_length) == text

    def test_truncation_with_space(self):
        text = "This is a long text that needs to be truncated"
        out = cap_split_string(text, 20)
        assert "..." in out
        assert len(out) <= 20
        assert "This" in out
        assert "uncated" in out

    def test_truncation_without_space(self):
        out = cap_split_string("verylongwordwithoutspaces", 10)
        assert "..." in out
        assert len(out) <= 10

    def test_very_small_max_length(self):
        assert isinstance(cap_split_string("some text", 2), str)

    def test_exact_reference_arithmetic(self):
        # head window = first max//2-3 chars backed to last space;
        # tail window = last max//2-3 chars advanced past first space.
        text = "aaaa bbbb cccc dddd eeee"
        out = cap_split_string(text, 20)
        # keep = 7 → head window "aaaa bb" → "aaaa"; tail "dd eeee" → "eeee"
        assert out == "aaaa ... eeee"


class TestCleanupElementText:
    def test_basic(self):
        assert cleanup_element_text("Hello World") == "Hello World"

    def test_escaping(self):
        out = cleanup_element_text("Text with [brackets] and\nnewlines\tand\ttabs")
        assert "\\[" in out and "\\]" in out and "\\n" in out and "\\t" in out
        assert out == "Text with \\[brackets\\] and\\nnewlines\\tand\\ttabs"

    def test_cap_at_250(self):
        out = cleanup_element_text("x" * 300)
        assert len(out) <= 250
        assert "..." in out

    def test_whitespace_stripped(self):
        assert cleanup_element_text("  text with spaces  ") == "text with spaces"

    def test_carriage_return(self):
        assert cleanup_element_text("a\rb") == "a\\rb"


class TestFixTextLite:
    def test_ascii_identity(self):
        assert fix_text_lite("plain ascii text") == "plain ascii text"

    def test_thai_identity(self):
        assert fix_text_lite("ภาษาไทย") == "ภาษาไทย"

    def test_latin1_utf8_mojibake(self):
        # "café" mis-decoded as latin-1
        mojibake = "café".encode("utf-8").decode("latin-1")
        assert fix_text_lite(mojibake) == "café"

    def test_legit_accented_text_untouched(self):
        assert fix_text_lite("café") == "café"

    def test_nfc_normalization(self):
        decomposed = "é"  # e + combining acute
        assert fix_text_lite(decomposed) == "é"

    # -- round-3 widened subset (ftfy.fix_text defaults) --------------

    def test_cp1252_utf8_mojibake_and_uncurl(self):
        # "it\u2019s" mis-decoded as windows-1252; repair + ftfy's
        # default uncurl_quotes
        mojibake = "it\u2019s".encode("utf-8").decode("cp1252")
        assert fix_text_lite(mojibake) == "it's"

    def test_double_encoded_mojibake_fixpoint(self):
        once = "caf\u00e9".encode("utf-8").decode("cp1252")
        twice = once.encode("utf-8").decode("cp1252")
        assert fix_text_lite(twice) == "caf\u00e9"

    def test_latin_ligatures(self):
        assert fix_text_lite("\ufb02u\ufb03est \ufb01le") == "fluffiest file"

    def test_fullwidth_fold(self):
        assert fix_text_lite(
            "\uff2c\uff2f\uff35\uff24\u3000\uff2e\uff2f\uff29\uff33\uff25\uff33\uff01"
        ) == "LOUD NOISES!"

    def test_terminal_escapes_removed(self):
        assert fix_text_lite("\x1b[4mtitle\x1b[0m body") == "title body"

    def test_c1_controls_as_cp1252(self):
        assert fix_text_lite("wait\x85 what\x97no") == "wait\u2026 what\u2014no"

    def test_curly_quotes_uncurled_without_mojibake(self):
        assert (
            fix_text_lite("\u201cquoted\u201d and \u2018single\u2019")
            == "\"quoted\" and 'single'"
        )


class TestUnescapeHtmlAndByteA0:
    """Round-4 ftfy additions: unescape_html='auto' + restore_byte_a0."""

    def test_named_and_numeric_entities(self):
        assert fix_text_lite("fish &amp; chips") == "fish & chips"
        assert fix_text_lite("&#3652;&#x0E17;") == "ไท"
        assert fix_text_lite("a &le; b &ge; c") == "a ≤ b ≥ c"

    def test_auto_gate_skips_markup(self):
        assert fix_text_lite("<b>fish &amp; chips</b>") == "<b>fish &amp; chips</b>"

    def test_non_entities_pass_through(self):
        assert fix_text_lite("AT&T &notreal; &# x") == "AT&T &notreal; &# x"

    def test_unterminated_entity_kept(self):
        # ftfy only decodes semicolon-terminated names
        assert fix_text_lite("fish &amp chips") == "fish &amp chips"

    def test_restore_byte_a0_two_byte(self):
        corrupted = "voilà déjà".encode("utf-8").replace(b"\xa0", b" ").decode("latin-1")
        assert fix_text_lite(corrupted) == "voilà déjà"

    def test_restore_byte_a0_three_byte(self):
        # Thai PHO SAMPHAO U+0E20 = e0 b8 a0; its a0 smashed to space
        corrupted = "ภาค".encode("utf-8").replace(b"\xa0", b" ").decode("latin-1")
        assert fix_text_lite(corrupted) == "ภาค"

    def test_plain_spaces_never_rewritten(self):
        # a space NOT inside a utf-8-shaped sequence stays a space
        assert fix_text_lite("caf\xc3\xa9 et th\xc3\xa9") == "café et thé"
        assert fix_text_lite("x y z") == "x y z"


class TestLossyAndInconsistent:
    """Round-4 completion of the ftfy default-fix list."""

    def test_lossy_two_byte(self):
        lossy = sloppy_1252_decode(b"caf\xc3? end")
        assert fix_text_lite(lossy) == "caf� end"

    def test_lossy_three_byte_and_sub(self):
        assert fix_text_lite(sloppy_1252_decode(b"x \xe0\xb8? y")) == "x � y"
        assert fix_text_lite(sloppy_1252_decode(b"x \xc3\x1a y")) == "x � y"

    def test_lossy_mixed_with_repairable(self):
        raw = b"ok \xc3\xa9 and \xc3? tail"  # one repairable, one lossy
        assert fix_text_lite(sloppy_1252_decode(raw)) == "ok é and � tail"

    def test_inconsistent_embedded_in_thai(self):
        moji = "café".encode("utf-8").decode("latin-1")
        assert fix_text_lite("ไทย " + moji + " ok") == "ไทย café ok"

    def test_inconsistent_cp1252_graphics_run(self):
        assert fix_text_lite("price ± 5% Â· dot") == "price ± 5% · dot"

    def test_legit_accents_and_thai_untouched(self):
        assert fix_text_lite("café naïve ภาษาไทย plain") == "café naïve ภาษาไทย plain"

    def test_non_decoding_run_untouched(self):
        # lead-class char with continuation-class chars that do NOT form
        # valid utf-8 stays as-is (acceptance = decode success)
        s = "ÃÃ"  # two leads, no continuation
        assert fix_text_lite(s) == s


def test_char_fix_table_is_the_per_character_rule():
    """fix_text_lite's per-character fixes run as one str.translate
    table, gated by a search for the table's characters: for every code
    point the table gives what the rule gives, and the gate finds every
    character the table changes."""
    from typhoon_ocr_spark.oracle.textops import _CHAR_FIX_RE, _CHAR_FIXES, _fix_char

    for cp in range(0x110000):
        ch = chr(cp)
        fixed = _fix_char(ch)
        assert ch.translate(_CHAR_FIXES) == fixed, hex(cp)
        assert bool(_CHAR_FIX_RE.match(ch)) == (fixed != ch), hex(cp)
