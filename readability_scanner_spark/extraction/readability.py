"""Main-content extraction: a from-scratch implementation of the public
arc90/Mozilla Readability algorithm.

The reference system does NOT contain this algorithm — it delegates to the
external ``readability-js-server`` container over HTTP
(reference: docker-compose.yml:2-14, consumed by
news-scanner/scanner/content_extractor.py:54-110). The stages implemented
here follow the published algorithm description (candidate scoring via
class/id weights, link-density and comma/paragraph heuristics,
top-candidate sibling merge, conditional boilerplate strip, low-content
retry flags) as summarized in SURVEY.md §2.2. No code is ported.

The output contract mirrors what the reference consumes from the
extractor's JSON response: ``content`` (article HTML) and derived plain
text; an empty result maps to the reference's 204/no-content path
(content_extractor.py:107-110 → parse_failed=True here).

Pure Python, no Spark imports — unit-testable standalone; the Spark
binding is an Arrow-vectorized pandas UDF in functions/udfs.py.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from readability_scanner_spark.dom import BLOCK_ELEMENTS, Node, body_of, parse_html
from readability_scanner_spark.extraction.dates import extract_publication_date
from readability_scanner_spark.extraction.images import extract_primary_image

# --- public-spec regexes (SURVEY.md §2.2 steps 2 and 4) -------------------
UNLIKELY_CANDIDATES = re.compile(
    r"banner|combx|comment|community|disqus|extra|foot|header|menu|related"
    r"|remark|rss|share|shoutbox|sidebar|skyscraper|sponsor|ad-break"
    r"|agegate|pagination|pager|popup",
    re.I,
)
OK_MAYBE_CANDIDATE = re.compile(r"and|article|body|column|main|shadow", re.I)
POSITIVE = re.compile(
    r"article|body|content|entry|hentry|h-entry|main|page|pagination|post"
    r"|text|blog|story",
    re.I,
)
NEGATIVE = re.compile(
    r"-ad-|hidden|banner|combx|comment|com-|contact|foot|footer|footnote"
    r"|gdpr|masthead|media|meta|outbrain|promo|related|scroll|share"
    r"|shoutbox|sidebar|skyscraper|sponsor|shopping|tags|tool|widget",
    re.I,
)
SENTENCE_END = re.compile(r"\.( |$)")
_TAG_STRIP = re.compile(r"<[^>]+>")
BYLINE = re.compile(r"byline|author|dateline|writtenby|p-author", re.I)

# retry flags (step 8)
FLAG_STRIP_UNLIKELYS = 1
FLAG_WEIGHT_CLASSES = 2
FLAG_CLEAN_CONDITIONALLY = 4
ALL_FLAGS = FLAG_STRIP_UNLIKELYS | FLAG_WEIGHT_CLASSES | FLAG_CLEAN_CONDITIONALLY

MIN_CONTENT_LENGTH = 500  # chars of text below which we retry with fewer flags
SCORE_TAGS = frozenset(("p", "td", "pre"))
EMBED_TAGS = frozenset(("object", "embed", "iframe", "applet"))


@dataclass
class ExtractionResult:
    content: str  # serialized article HTML ("" when failed)
    text_content: str  # whitespace-normalized plain text
    title: str
    spans: list[tuple[int, int]] = field(default_factory=list)
    parse_failed: bool = False
    content_ratio: float = 0.0  # len(text_content) / len(normalized source text)
    image_url: Optional[str] = None
    published_ts: Optional[object] = None  # datetime, tz-aware UTC
    byline: Optional[str] = None  # first rel=author / byline-class node text


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _class_weight(node: Node, flags: int) -> float:
    if not (flags & FLAG_WEIGHT_CLASSES) or not node.attrs:
        return 0.0
    weight = 0.0
    ci = node.class_id
    if ci:
        if NEGATIVE.search(ci):
            weight -= 25
        if POSITIVE.search(ci):
            weight += 25
    return weight


_TAG_BASE = {
    "div": 5,
    "pre": 3,
    "td": 3,
    "blockquote": 3,
    "address": -3,
    "ol": -3,
    "ul": -3,
    "dl": -3,
    "dd": -3,
    "dt": -3,
    "li": -3,
    "form": -3,
    "h1": -5,
    "h2": -5,
    "h3": -5,
    "h4": -5,
    "h5": -5,
    "h6": -5,
    "th": -5,
}


def _initialize_score(node: Node, flags: int) -> float:
    return _TAG_BASE.get(node.tag, 0) + _class_weight(node, flags)


def _has_block_child(node: Node) -> bool:
    return any(c.tag in BLOCK_ELEMENTS for c in node.children if c.tag is not None)


def _attached_under(node: Node, root: Node) -> bool:
    """Is ``node`` still in ``root``'s subtree? (remove() clears parent,
    so a detached node's chain never reaches root.)"""
    while node is not None:
        if node is root:
            return True
        node = node.parent
    return False


def _extract_title(root: Node) -> str:
    for tag in ("title", "h1", "h2"):
        node = root.find(tag)
        if node is not None:
            title = node.inner_text()
            if title:
                return title
    return ""


# ---------------------------------------------------------------------------
# stage 1: preprocess (SURVEY.md §2.2 step 1)
# ---------------------------------------------------------------------------

_PRE_STRIP = frozenset(("script", "style", "noscript", "template", "link", "iframe"))


def _preprocess(root: Node) -> None:
    # ONE walk collecting both the strip-tag nodes and the parents that
    # own a <br> (the former two full traversals — _strip + a br scan —
    # were the preprocess cost). Not descending into strip-tag subtrees
    # reproduces the old strip-THEN-scan ordering: their interiors were
    # never br-scanned. A parent's br RUNS are still computed from its
    # live children at processing time (below), so strip removals that
    # merge a run behave identically.
    to_strip: list[Node] = []
    br_parents: list[Node] = []
    seen_parent: set[int] = set()
    stack = [root]
    pop, push = stack.pop, stack.extend
    while stack:
        node = pop()
        tag = node.tag
        if tag is None:
            continue
        if tag in _PRE_STRIP:
            to_strip.append(node)
            continue
        if tag == "br":  # void: no children to descend into
            p = node.parent
            if p is not None and id(p) not in seen_parent:
                seen_parent.add(id(p))
                br_parents.append(p)
            continue
        if node.children:
            push(reversed(node.children))
    for node in to_strip:
        node.remove()
    # <br><br>(+) runs act as paragraph separators: wrap the run-separated
    # inline content in <p>. Simplified: convert each <br> following another
    # <br> (ignoring blank text) into a paragraph break by splitting the
    # parent's children.
    for parent in br_parents:
        children = parent.children
        if not any(c.tag == "br" for c in children):
            continue
        # find double-br positions
        runs: list[int] = []
        i = 0
        while i < len(children) - 1:
            if children[i].tag == "br":
                j = i + 1
                while j < len(children) and (
                    children[j].tag == "br"
                    or (children[j].is_text and not children[j].text.strip())
                ):
                    j += 1
                n_brs = sum(1 for k in range(i, j) if children[k].tag == "br")
                if n_brs >= 2:
                    runs.append(i)
                    i = j
                    continue
            i += 1
        if not runs:
            continue
        # split children at double-br runs into <p> groups
        groups: list[list[Node]] = [[]]
        i = 0
        while i < len(children):
            if children[i].tag == "br" and i in runs:
                # consume the whole run
                while i < len(children) and (
                    children[i].tag == "br"
                    or (children[i].is_text and not children[i].text.strip())
                ):
                    i += 1
                groups.append([])
                continue
            groups[-1].append(children[i])
            i += 1
        parent.children = []
        for group in groups:
            if not group:
                continue
            # wrap only PHRASING runs in <p>; block elements break the
            # paragraph and stay direct children (the public algorithm's
            # br-to-p conversion stops at block content — wrapping a div
            # in <p> would double-count its text in candidate scoring)
            run: list[Node] = []

            def flush(run_nodes: list[Node]) -> None:
                if not run_nodes:
                    return
                if all(n.is_text and not n.text.strip() for n in run_nodes):
                    for n in run_nodes:  # whitespace-only: keep unwrapped
                        parent.append(n)
                    return
                p = Node("p")
                for n in run_nodes:
                    p.append(n)
                parent.append(p)

            for item in group:
                if item.tag in BLOCK_ELEMENTS:
                    flush(run)
                    run = []
                    parent.append(item)
                else:
                    run.append(item)
            flush(run)


# ---------------------------------------------------------------------------
# stage 2-6: grab article
# ---------------------------------------------------------------------------

def _is_valid_byline(text: str) -> bool:
    return 0 < len(text.strip()) < 100


def _grab_article(body: Node, flags: int, byline_sink: list) -> Optional[Node]:
    # step 2 sweep: byline capture+removal ALWAYS (public spec checks the
    # byline before and independent of the unlikely-candidate flag);
    # unlikely-candidate stripping only under the flag. attrs-empty fast
    # path: most nodes carry no class/id/rel at all.
    # inline element walk (twice per doc here — generator frames cost):
    # snapshot list first, as removals mutate the tree mid-sweep
    snapshot: list[Node] = []
    stack = [body]
    pop, push = stack.pop, stack.extend
    while stack:
        n = pop()
        if n.tag is None:
            continue
        snapshot.append(n)
        if n.children:
            push(reversed(n.children))
    for node in snapshot:
        if not node.attrs:
            continue
        ci = node.class_id
        # public-spec byline rule: only the FIRST valid byline is captured
        # and removed; once set (including by an earlier retry attempt),
        # later author/byline-matching nodes stay in the content. The
        # sweep iterates a pre-removal snapshot, so a candidate inside an
        # already-stripped subtree must be ignored (spec walks the live
        # DOM): verify the node is still attached under body.
        if not byline_sink:
            if (
                node.get("rel") == "author"
                or "author" in node.get("itemprop", "")
                or (ci and BYLINE.search(ci))
            ):
                anc = node
                while anc.parent is not None:
                    anc = anc.parent
                if anc is not body and anc.tag != "#root":
                    continue  # detached by an earlier removal
                text = node.inner_text()
                if _is_valid_byline(text):
                    byline_sink.append(text.strip())
                    node.remove()
                    continue
        if flags & FLAG_STRIP_UNLIKELYS:
            if (
                ci
                and UNLIKELY_CANDIDATES.search(ci)
                and not OK_MAYBE_CANDIDATE.search(ci)
                and node.tag not in ("body", "a", "html")
            ):
                node.remove()

    # divs with no block children behave as paragraphs
    to_score: list[Node] = []
    stack.append(body)  # same list (empty after the sweep) — pop/push stay bound
    while stack:
        node = pop()
        tag = node.tag
        if tag is None:
            continue
        if tag in SCORE_TAGS:
            to_score.append(node)
        elif tag == "div" and not _has_block_child(node):
            to_score.append(node)
        if node.children:
            push(reversed(node.children))

    # step 3-4: score candidates (text/link-density demand-cached: the
    # same ancestor nodes are re-examined once per scored child)
    scores: dict[int, float] = {}
    nodes_by_id: dict[int, Node] = {}
    _tcache: dict[int, str] = {}
    _ldcache: dict[int, float] = {}

    def ntext(node: Node) -> str:
        key = id(node)
        if key not in _tcache:
            _tcache[key] = node.inner_text()
        return _tcache[key]

    def nld(node: Node) -> float:
        key = id(node)
        if key not in _ldcache:
            _ldcache[key] = node.link_density()
        return _ldcache[key]

    def ensure(node: Node) -> int:
        key = id(node)
        if key not in scores:
            scores[key] = _initialize_score(node, flags)
            nodes_by_id[key] = node
        return key

    for node in to_score:
        text = ntext(node)
        if len(text) < 25:
            continue
        content_score = 1.0 + text.count(",") + min(len(text) // 100, 3)
        for level, ancestor in enumerate(node.ancestors(max_depth=5)):
            if ancestor.tag in (None, "#root", "html"):
                break
            key = ensure(ancestor)
            if level == 0:
                scores[key] += content_score
            elif level == 1:
                scores[key] += content_score / 2.0
            else:
                scores[key] += content_score / (3.0 * level)

    if not scores:
        # no scorable candidates (e.g. plain text, no block structure):
        # last-resort fallback — use the whole body as the article
        # (the public algorithm's "use body" path)
        if body.has_text():
            article = Node("div", {"id": "readability-content"})
            for child in list(body.children):
                child.remove()
                article.append(child)
            return article
        return None

    # step 5: link-density scaling; pick top candidate
    top_key, top_score = None, float("-inf")
    for key, raw in scores.items():
        node = nodes_by_id[key]
        final = raw * (1.0 - nld(node))
        scores[key] = final
        if final > top_score:
            top_key, top_score = key, final
    top = nodes_by_id[top_key]

    # step 6a: ancestor promotion — the public spec's literal rule
    # (Readability.js MINIMUM_TOPCANDIDATES): take the top 5 candidates;
    # the alternatives are those scoring >= 0.75x the top. When at least
    # 3 alternatives exist, walk the top candidate's ancestor chain up to
    # (but not including) body and promote the first ancestor that
    # contains >= 3 of the alternatives — split-article layouts where the
    # real container never scores directly.
    ranked = sorted(scores.items(), key=lambda kv: -kv[1])[:5]
    alts = [
        nodes_by_id[k]
        for k, s in ranked[1:]
        if top_score > 0 and s / top_score >= 0.75 and nodes_by_id[k] is not top
    ]
    if len(alts) >= 3:

        ancestor = top.parent
        while ancestor is not None and ancestor.tag not in (None, "#root", "html", "body"):
            if sum(1 for a in alts if _attached_under(a, ancestor)) >= 3:
                top = ancestor
                top_score = scores.get(id(ancestor), top_score)
                break
            ancestor = ancestor.parent

    # step 6: sibling merge into a fresh container
    article = Node("div", {"id": "readability-content"})
    sibling_threshold = max(10.0, top_score * 0.2)
    parent = top.parent
    siblings = parent.children if parent is not None else [top]
    for sibling in list(siblings):
        if sibling.is_text:
            if sibling.text.strip():
                article.append(Node(text=sibling.text, src_start=sibling.src_start, src_end=sibling.src_end))
            continue
        keep = False
        if sibling is top:
            keep = True
        else:
            bonus = 0.0
            if sibling.get("class") and sibling.get("class") == top.get("class"):
                bonus = top_score * 0.2
            sib_score = scores.get(id(sibling), 0.0) + bonus
            if sib_score >= sibling_threshold:
                keep = True
            elif sibling.tag == "p":
                text = ntext(sibling)
                ld = nld(sibling)
                if len(text) > 80 and ld < 0.25:
                    keep = True
                elif len(text) < 80 and len(text) > 0 and ld == 0.0 and SENTENCE_END.search(text):
                    keep = True
        if keep:
            sibling.remove()
            article.append(sibling)
    return article


# ---------------------------------------------------------------------------
# stage 7: conditional cleanup (boilerplate strip)
# ---------------------------------------------------------------------------

def _clean_conditionally(article: Node, candidates: list[Node], tag: str, flags: int) -> None:
    """``candidates`` is the pre-collected list of ``tag`` elements; the
    attached-under-article filter makes it equivalent to a fresh
    iter_elements snapshot (earlier cleanup passes may have detached
    some)."""
    if not (flags & FLAG_CLEAN_CONDITIONALLY):
        return
    for node in candidates:
        if node is article:
            continue
        if not _attached_under(node, article):
            continue  # removed by an earlier pass (e.g. inside a table)
        weight = _class_weight(node, flags)
        if weight < 0:
            node.remove()
            continue
        # comma count is whitespace-normalization-invariant: gate on the
        # raw subtree text and only pay the normalization (join/split)
        # inside the <10-commas branch, where len(text) matters
        raw = node.raw_text()
        if raw.count(",") < 10:
            text = " ".join(raw.split())
            # one inline stack walk for all descendant-tag counts
            p_count = img_count = li_count = input_count = 0
            stack = [node]
            pop, push = stack.pop, stack.extend
            while stack:
                d = pop()
                t = d.tag
                if t is None:
                    continue
                if t == "p":
                    p_count += 1
                elif t == "img":
                    img_count += 1
                elif t == "li":
                    li_count += 1
                elif t == "input":
                    input_count += 1
                if d.children:
                    push(d.children)  # order-insensitive: counting only
            li_count -= 100
            ld = node.link_density()
            remove = (
                (img_count > p_count and img_count > 1)
                or (li_count > p_count and tag not in ("ul", "ol"))
                or (input_count > p_count / 3)
                or (len(text) < 25 and (img_count == 0 or img_count > 2))
                or (weight < 25 and ld > 0.2)
                or (weight >= 25 and ld > 0.5)
            )
            if remove:
                node.remove()


_PREP_STRIP = frozenset(
    ("form", "button", "textarea", "select", "footer", "aside", "nav", *EMBED_TAGS)
)


def _prep_article(article: Node, flags: int) -> None:
    # ONE collection walk instead of five (strip tags + table + ul + div
    # + p each re-traversed the article); every consumer below re-checks
    # attachment (or text emptiness) against the live tree, so the
    # behavior matches per-pass fresh snapshots exactly.
    strip_nodes: list[Node] = []
    tables: list[Node] = []
    uls: list[Node] = []
    divs: list[Node] = []
    ps: list[Node] = []
    stack = [article]
    pop, push = stack.pop, stack.extend
    while stack:
        node = pop()
        tag = node.tag
        if tag is None:
            continue
        if tag in _PREP_STRIP:
            strip_nodes.append(node)
        elif tag == "table":
            tables.append(node)
        elif tag == "ul":
            uls.append(node)
        elif tag == "div":
            divs.append(node)
        elif tag == "p":
            ps.append(node)
        if node.children:
            push(reversed(node.children))
    for node in strip_nodes:
        node.remove()
    _clean_conditionally(article, tables, "table", flags)
    _clean_conditionally(article, uls, "ul", flags)
    _clean_conditionally(article, divs, "div", flags)
    # drop empty paragraphs (no text, no images/embeds); has_text
    # early-exits instead of building the full normalized string
    for p in ps:
        if (
            _attached_under(p, article)
            and not p.has_text()
            and not any(c.tag in ("img", "object", "embed") for c in p.iter_elements())
        ):
            p.remove()


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def extract_main_content(raw_html: str) -> ExtractionResult:
    """Extract the main article content from raw HTML.

    Implements SURVEY.md §2.2 steps 1-8 with the retry-flag ladder:
    if the extracted text is shorter than :data:`MIN_CONTENT_LENGTH`,
    retry with STRIP_UNLIKELYS, then WEIGHT_CLASSES, then
    CLEAN_CONDITIONALLY disabled; the longest attempt wins.
    """
    if raw_html is None or not raw_html.strip():
        return ExtractionResult("", "", "", [], parse_failed=True)

    # == len(re.sub(r"\s+", " ", _TAG_STRIP.sub(" ", raw)).strip()): str.split
    # splits on exactly the re-\s codepoint set (pinned in
    # test_textstats.py), and join/split skips building the normalized
    # intermediate — one full-document pass instead of two
    source_text_len = len(" ".join(_TAG_STRIP.sub(" ", raw_html).split())) or 1

    flag_ladder = [
        ALL_FLAGS,
        ALL_FLAGS & ~FLAG_STRIP_UNLIKELYS,
        ALL_FLAGS & ~FLAG_STRIP_UNLIKELYS & ~FLAG_WEIGHT_CLASSES,
        0,
    ]
    best: Optional[ExtractionResult] = None
    title = ""
    image_url = None
    published = None
    byline_sink: list = []  # first valid byline across attempts wins
    pristine: Optional[Node] = None  # lazily cloned source for retries
    for attempt, flags in enumerate(flag_ladder):
        if attempt == 0:
            root = parse_html(raw_html)
        else:
            # retries work on a clone of the pristine tree — ~4x cheaper
            # than reparsing (the grab/clean phases mutate the tree)
            if pristine is None:
                pristine = parse_html(raw_html)
            root = pristine.clone()
        if attempt == 0:
            # head metadata (E4 dates, S3 image) from the FIRST parse,
            # before preprocessing strips <script>/<meta> context — saves
            # a dedicated metadata reparse per document
            title = _extract_title(root)
            image_url = extract_primary_image(root)
            published = extract_publication_date(root)
        _preprocess(root)
        body = body_of(root)
        article = _grab_article(body, flags, byline_sink)
        if article is None:
            continue
        _prep_article(article, flags)
        text, spans = article.text_and_spans()
        result = ExtractionResult(
            content=article.serialize(),
            text_content=text,
            title=title,
            spans=spans,
            parse_failed=not text,
            content_ratio=min(1.0, len(text) / source_text_len),
            image_url=image_url,
            published_ts=published,
            byline=byline_sink[0] if byline_sink else None,
        )
        if len(text) >= MIN_CONTENT_LENGTH:
            return result
        if best is None or len(text) > len(best.text_content):
            best = result

    if best is not None and best.text_content:
        return best
    # total failure → the reference's 204/no-content path
    return ExtractionResult(
        "", "", title, [], parse_failed=True, byline=byline_sink[0] if byline_sink else None
    )
