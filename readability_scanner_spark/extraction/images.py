"""Primary-image extraction (S3, SURVEY.md §2.1).

Precedence from the reference (news-scanner/scanner/content_extractor.py:136-214):
<meta name="image"> → <meta property="og:image"> → first <img src>;
extension and scheme validation. The reference's lead_image_url field
and its resolving of relative URLs against the page URL have no input
here: a transcript turn carries no page URL, so a relative URL fails
the scheme check.
"""

from __future__ import annotations

import re
from typing import Optional
from urllib.parse import urlparse

from readability_scanner_spark.dom import Node

_IMG_EXT_RE = re.compile(r"\.(jpe?g|png|gif|webp|avif|bmp|svg)(\?|$)", re.I)


def _valid_image_url(url: str) -> bool:
    if not url:
        return False
    parsed = urlparse(url)
    if parsed.scheme not in ("http", "https"):
        return False
    # accept extension-less CDN URLs only when a known image path hint exists
    if _IMG_EXT_RE.search(parsed.path + ("?" + parsed.query if parsed.query else "")):
        return True
    return "image" in parsed.path.lower() or "img" in parsed.netloc.lower()


def extract_primary_image(root: Node) -> Optional[str]:
    candidates: list[str] = []
    metas = {}
    for meta in root.iter_elements("meta"):
        key = (meta.get("property") or meta.get("name")).lower()
        if key and meta.get("content"):
            metas.setdefault(key, meta.get("content"))
    for key in ("image", "og:image", "og:image:url", "twitter:image"):
        if key in metas:
            candidates.append(metas[key])
    img = root.find("img")
    if img is not None and img.get("src"):
        candidates.append(img.get("src"))

    for cand in candidates:
        url = cand.strip()
        if _valid_image_url(url):
            return url
    return None
