"""Publication-date extraction + normalization (E4/E5, SURVEY.md §2.1).

Reference behavior re-expressed:
  * meta-selector strategies, then JSON-LD datePublished
    (news-scanner/services/date_extraction_service.py:79-218); the
    reference's last step, in-text regex patterns, is not run (the
    transcript turn is the whole input, so a date-shaped string in the
    prose is not evidence of publication)
  * normalization: anything → tz-aware UTC; naive ⇒ assume UTC; manual
    ISO/RFC822 fallbacks (news-scanner/utils/date_normalizer.py:13-66)
  * future dates clamped to 'now' (news-scanner/scanner/rss_parser.py:166-172)
    — in the engine the clamp is a Column expression at pipeline level,
    see plans/pipeline.py.

Pure Python (used inside the extraction UDF which already holds the
parsed DOM). No dateutil in the container, so normalization covers the
formats the reference's manual fallbacks cover.
"""

from __future__ import annotations

import json
import re
from datetime import datetime, timezone
from typing import Optional

from readability_scanner_spark.dom import Node

# meta names/properties checked in priority order
# (date_extraction_service.py:79-164)
_META_KEYS = (
    "article:published_time",
    "article:published",
    "og:published_time",
    "datepublished",
    "date_published",
    "publishdate",
    "publish-date",
    "publication_date",
    "publication-date",
    "pubdate",
    "date",
    "dc.date",
    "dc.date.issued",
    "sailthru.date",
    "parsely-pub-date",
    "timestamp",
)

_ISO_RE = re.compile(
    r"(\d{4})-(\d{2})-(\d{2})[T ](\d{2}):(\d{2})(?::(\d{2}))?"
    r"(?:\.\d+)?\s*(Z|[+-]\d{2}:?\d{2})?"
)
_DATE_ONLY_RE = re.compile(r"^(\d{4})-(\d{2})-(\d{2})$")
_US_DATE_RE = re.compile(
    r"\b(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\.?\s+"
    r"(\d{1,2}),?\s+(\d{4})\b",
    re.I,
)
_RFC822_RE = re.compile(
    r"(\d{1,2})\s+(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\s+(\d{4})"
    r"(?:\s+(\d{2}):(\d{2})(?::(\d{2}))?)?"
    r"(?:\s*(GMT|UTC|Z|[+-]\d{4}))?",
    re.I,
)
_MONTHS = {
    m: i + 1
    for i, m in enumerate(
        ["jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep", "oct", "nov", "dec"]
    )
}


def normalize_date(value) -> Optional[datetime]:
    """Anything → tz-aware UTC datetime, or None
    (date_normalizer.py:13-66 semantics: naive ⇒ UTC)."""
    if value is None:
        return None
    if isinstance(value, datetime):
        dt = value
    elif isinstance(value, str):
        s = value.strip()
        if not s:
            return None
        dt = _parse_date_string(s)
        if dt is None:
            return None
    else:
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc)


def _tz_offset(tz: str) -> timezone:
    if tz in ("Z", "GMT", "UTC"):
        return timezone.utc
    tz = tz.replace(":", "")
    sign = 1 if tz[0] == "+" else -1
    hours, minutes = int(tz[1:3]), int(tz[3:5])
    from datetime import timedelta

    return timezone(sign * timedelta(hours=hours, minutes=minutes))


def _parse_date_string(s: str) -> Optional[datetime]:
    m = _ISO_RE.search(s)
    if m:
        y, mo, d, h, mi = (int(m.group(i)) for i in range(1, 6))
        sec = int(m.group(6) or 0)
        tz = _tz_offset(m.group(7)) if m.group(7) else None
        try:
            return datetime(y, mo, d, h, mi, sec, tzinfo=tz)
        except ValueError:
            return None
    m = _DATE_ONLY_RE.match(s)
    if m:
        try:
            return datetime(int(m.group(1)), int(m.group(2)), int(m.group(3)))
        except ValueError:
            return None
    m = _RFC822_RE.search(s)
    if m:
        try:
            return datetime(
                int(m.group(3)),
                _MONTHS[m.group(2).lower()[:3]],
                int(m.group(1)),
                int(m.group(4) or 0),
                int(m.group(5) or 0),
                int(m.group(6) or 0),
                tzinfo=_tz_offset(m.group(7)) if m.group(7) else None,
            )
        except (ValueError, KeyError):
            return None
    m = _US_DATE_RE.search(s)
    if m:
        try:
            return datetime(int(m.group(3)), _MONTHS[m.group(1).lower()[:3]], int(m.group(2)))
        except (ValueError, KeyError):
            return None
    return None


def _jsonld_date(obj) -> Optional[str]:
    """Recursively look for datePublished/dateCreated in JSON-LD
    (date_extraction_service.py:186-218: nested article/newsArticle)."""
    if isinstance(obj, dict):
        for key in ("datePublished", "dateCreated", "dateModified"):
            if key in obj and isinstance(obj[key], str):
                return obj[key]
        for v in obj.values():
            found = _jsonld_date(v)
            if found:
                return found
    elif isinstance(obj, list):
        for item in obj:
            found = _jsonld_date(item)
            if found:
                return found
    return None


def extract_publication_date(root: Node) -> Optional[datetime]:
    """Priority ladder: meta selectors → <time datetime> → JSON-LD
    (date_extraction_service.py:79-164)."""
    # 1. <meta property/name=...>
    metas = {}
    for meta in root.iter_elements("meta"):
        key = (meta.get("property") or meta.get("name") or meta.get("itemprop")).lower()
        content = meta.get("content")
        if key and content:
            metas.setdefault(key, content)
    for key in _META_KEYS:
        if key in metas:
            dt = normalize_date(metas[key])
            if dt:
                return dt
    # 2. <time datetime="...">
    for t in root.iter_elements("time"):
        dt = normalize_date(t.get("datetime") or t.inner_text())
        if dt:
            return dt
    # 3. JSON-LD
    for script in root.iter_elements("script"):
        if "ld+json" in script.get("type", ""):
            try:
                payload = json.loads(script.raw_text())
            except (ValueError, TypeError):
                continue
            raw = _jsonld_date(payload)
            if raw:
                dt = normalize_date(raw)
                if dt:
                    return dt
    return None
