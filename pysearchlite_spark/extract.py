"""Deterministic HTML → text extraction.

The reference consumes pre-extracted ``text`` (commands/build_index.py:11);
the north-rule input table carries ``html binary`` and demands per-url
byte-identical extracted text. So extraction is OUR spec, defined once here
as a pure function, and the Spark side calls the SAME function on each row
of the index build's fused stage-0 Arrow batches
(plans.builder.make_stage0) — parity by construction.

Spec (documented, deterministic, stdlib-only):
  1. decode bytes as UTF-8 (errors="replace");
  2. drop <script>/<style>/<!-- --> blocks entirely (non-greedy, case-insens);
  3. replace every remaining tag with a single space;
  4. unescape HTML entities (html.unescape);
  5. collapse all whitespace runs to one space; strip ends.
"""

from __future__ import annotations

import html as _html
import re
from typing import Union

# TWO passes, deliberately: script/style blocks and comments are removed
# FIRST, then bare tags. A single combined alternation is NOT equivalent on
# malformed nesting — in '<a <script>var x=1</script> b> tail' the bare-tag
# branch consumes '<a <script>' before the block branch can match, so script
# body text would leak into the indexed text. Malformed pages like this are
# routine at web scale; block removal must win.
_SCRIPT_STYLE_COMMENT = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>|<!--.*?-->",
    re.IGNORECASE | re.DOTALL,
)
_TAG = re.compile(r"<[^>]*>")


def extract_text(html: Union[bytes, str, None]) -> str:
    """Pure deterministic extraction — the single source of truth."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        s = bytes(html).decode("utf-8", errors="replace")
    else:
        s = html
    s = _SCRIPT_STYLE_COMMENT.sub(" ", s)
    s = _TAG.sub(" ", s)
    s = _html.unescape(s)
    # collapse whitespace runs + strip: str.split() (C, unicode whitespace)
    # replaces the former re \s+ sub — same result, measurably faster
    return " ".join(s.split())
