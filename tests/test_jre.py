"""rules.jre(): the python-semantics Java-regex compiler (no Spark)."""

import pytest

from pdf_extraction_spark import rules


def test_class_rewrites():
    out = rules.jre(r"\b([DINP])\b")
    assert out.startswith("(?Ud)")
    assert r"\b" not in out            # rewritten to lookaround pair
    assert out.count("(?<=") == 2 and out.count("(?<!") == 2
    assert rules.jre(r"[\w\s]+") == \
        "(?Ud)[[\\p{L}\\p{N}_][\\s\\x1c-\\x1f]]+"
    assert rules.jre(r"\S+") == "(?Ud)[^\\s\\x1c-\\x1f]+"


def test_non_class_escapes_pass_through():
    # \x22 (a quote), \. and \d survive untouched; \d relies on (?U)
    assert rules.jre(r"(\d+)\.\x22") == "(?Ud)(\\d+)\\.\\x22"


def test_literals_unchanged_and_cached():
    assert rules.jre("^([IVX]+)") == "(?Ud)^([IVX]+)"
    assert rules.jre("abc") is rules.jre("abc")  # cache hit


def test_re2_s_rewrite_matches_python_on_ascii():
    import re

    import pyarrow as pa
    import pyarrow.compute as pc

    # every ASCII char python's \s matches must match the rewritten RE2
    # class, and no other ASCII char may
    py_ws = [chr(c) for c in range(0x80) if re.match(r"\s", chr(c))]
    assert "\x0b" in py_ws and "\x1c" in py_ws  # the divergent members
    pat = rules.re2(r"^a\s+b$")
    for c in (chr(i) for i in range(1, 0x80)):
        got = pc.match_substring_regex(pa.array([f"a{c}b"]), pat)[0].as_py()
        assert got == bool(re.match(r"^a\s+b$", f"a{c}b")), hex(ord(c))


def test_re2_class_member_form_and_cache():
    ws = (r"\t\n\x0b\x0c\r\x1c-\x20\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
          r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}")
    assert rules.re2(r"[\s,]") == f"[{ws},]"
    assert rules.re2(r"\S") == f"[^{ws}]"
    assert rules.re2(r"[\w\s]+") == f"[\\p{{L}}\\p{{N}}_{ws}]+"
    assert rules.re2(r"\w") == r"[\p{L}\p{N}_]"
    assert rules.re2(r"\.\d[]]") == r"\.\p{Nd}[]]"  # other escapes untouched
    assert rules.re2("abc") is rules.re2("abc")
    for bad in (r"\b", r"[\S]", r"\W", r"\D"):
        with pytest.raises(ValueError):
            rules.re2(bad)

