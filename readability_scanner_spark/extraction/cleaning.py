"""HTML → plain-text cleaning and text utilities.

Mirrors the reference's cleaning semantics exactly
(news-scanner/readability/analyzer.py:34-74):
  1. parse HTML, drop <script>/<style>
  2. get_text()
  3. collapse all whitespace runs to single spaces
  4. unescape the 5 legacy entities the reference replaces post-hoc
  5. strip
The reference falls back to regex tag-stripping on a parse error
(analyzer.py:71-74); dom.parse_html does not raise, so there is no
second path here.

Also implements the preview/truncate operator
(news-scanner/api/routes/article_search_routes.py:247-270).
"""

from __future__ import annotations

from readability_scanner_spark.dom import parse_html


def clean_html_content(html_content: str) -> str:
    """Plain text from HTML, whitespace-normalized (analyzer.py:34-74)."""
    if html_content is None:
        return ""
    root = parse_html(html_content)
    for node in list(root.iter_elements("script", "style")):
        node.remove()
    text = " ".join(root.raw_text().split())
    # the reference additionally replaces these literal entity strings if
    # they survived parsing (analyzer.py:59-63)
    text = (
        text.replace("&nbsp;", " ")
        .replace("&amp;", "&")
        .replace("&lt;", "<")
        .replace("&gt;", ">")
        .replace("&quot;", '"')
    )
    return text.strip()


def make_preview(text: str, max_chars: int = 200) -> str:
    """Collapse whitespace, cut at ``max_chars`` on a word boundary and
    append '...' (article_search_routes.py:247-270)."""
    if not text:
        return ""
    text = " ".join(text.split())
    if len(text) <= max_chars:
        return text
    cut = text[:max_chars]
    last_space = cut.rfind(" ")
    if last_space > 0:
        cut = cut[:last_space]
    return cut + "..."
