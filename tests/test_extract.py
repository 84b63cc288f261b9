"""HTML extraction: deterministic spec + datagen invariant
extract_text(page_html(text)) == text (FIXTURES.md §1)."""

import hashlib

from pysearchlite_spark.datagen import page_html, page_text
from pysearchlite_spark.extract import extract_text


def test_basic_extraction():
    html = b"<html><body><p>hello <b>world</b></p></body></html>"
    assert extract_text(html) == "hello world"


def test_script_style_comments_dropped():
    html = (b"<html><head><style>p {color: red}</style>"
            b"<script>var a = '<p>fake</p>';</script></head>"
            b"<body><!-- hidden -->real text</body></html>")
    assert extract_text(html) == "real text"


def test_malformed_nesting_no_script_leak():
    """Regression (advisor finding): with a bare tag malformed to contain a
    '<script>' opener, a combined single-pass alternation consumed the tag
    first and leaked the script BODY into the text. Block removal must run
    before bare-tag stripping."""
    html = b"<a <script>var x=1</script> b> tail"
    assert extract_text(html) == "tail"
    assert extract_text(b"<p <style>p{}</style> q>visible") == "visible"


def test_entities_and_whitespace():
    assert extract_text(b"<p>a &amp; b\n\n  c&nbsp;d</p>") == "a & b c d"
    assert extract_text(b"  <div> x </div>  ") == "x"
    assert extract_text(None) == ""
    assert extract_text(b"") == ""


def test_datagen_invariant_byte_identical():
    for i in range(200):
        text = page_text(42, i)
        html = page_html(text, i)
        got = extract_text(html)
        assert got == text, f"row {i}"
        assert hashlib.sha256(got.encode()).digest() == \
            hashlib.sha256(text.encode()).digest()
