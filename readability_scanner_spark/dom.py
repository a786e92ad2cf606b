"""Minimal DOM with a one-pass regex tokenizer.

The container has no lxml/selectolax/bs4, so the extraction engine
(extraction/readability.py) runs against this lightweight tree. The
stdlib ``html.parser`` builder below is kept only as the reference tree
the tokenizer is tested against. Design goals, in order: determinism,
source-offset tracking (for span output), tolerable tag-soup recovery,
speed (one parse per document inside an Arrow batch loop — see
functions/udfs.py).

Reference behavior being re-expressed (cited for parity, not copied):
the reference delegates DOM work to BeautifulSoup
(news-scanner/readability/analyzer.py:46) and to the external
readability-js-server container (docker-compose.yml:2-14).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Iterator, Optional

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

BLOCK_ELEMENTS = frozenset(
    (
        "address article aside blockquote details dialog dd div dl dt "
        "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header "
        "hgroup hr li main menu nav ol p pre section table ul"
    ).split()
)

# Elements whose start implicitly closes an open <p> (HTML5 parsing rules,
# simplified): any block element.
_P_CLOSERS = BLOCK_ELEMENTS



# shared empty-attrs dict: most nodes (every text node, most elements)
# carry no attributes, and nothing in the codebase mutates node.attrs
# after construction — sharing one immutable-by-convention dict skips a
# per-node allocation on the parse hot path
_NO_ATTRS: dict = {}


class Node:
    """One DOM node. ``tag is None`` means text node."""

    __slots__ = ("tag", "attrs", "children", "parent", "text", "src_start", "src_end")

    def __init__(
        self,
        tag: Optional[str] = None,
        attrs: Optional[dict] = None,
        text: str = "",
        src_start: int = -1,
        src_end: int = -1,
    ) -> None:
        self.tag = tag
        self.attrs = attrs if attrs is not None else _NO_ATTRS
        self.children: list[Node] = []
        self.parent: Optional[Node] = None
        self.text = text
        self.src_start = src_start
        self.src_end = src_end

    # -- tree ops ---------------------------------------------------------
    def append(self, child: "Node") -> None:
        child.parent = self
        self.children.append(child)

    def remove(self) -> None:
        """Detach this node from its parent."""
        if self.parent is not None:
            try:
                self.parent.children.remove(self)
            except ValueError:
                pass
            self.parent = None

    def clone(self) -> "Node":
        """Deep copy of the subtree (iterative — no recursion limit risk).
        ~4x cheaper than reparsing the HTML; used by the extraction
        retry ladder."""
        # unconditional dict copies: a clone must not alias the shared
        # _NO_ATTRS dict — "deep copy" is this method's contract, and a
        # future mutation of a cloned node's attrs must never leak into
        # every attribute-less node process-wide (r6 review). The parse
        # path keeps the shared-empty-dict fast path; clones are rare.
        new_root = Node(self.tag, dict(self.attrs), self.text, self.src_start, self.src_end)
        stack = [(self, new_root)]
        while stack:
            old, new = stack.pop()
            for child in old.children:
                c = Node(
                    child.tag, dict(child.attrs), child.text, child.src_start, child.src_end
                )
                new.append(c)
                if child.children:
                    stack.append((child, c))
        return new_root

    # -- accessors ---------------------------------------------------------
    @property
    def is_text(self) -> bool:
        return self.tag is None

    def get(self, attr: str, default: str = "") -> str:
        return self.attrs.get(attr, default)

    @property
    def class_id(self) -> str:
        """``class + ' ' + id`` string used by candidate regexes."""
        return (self.attrs.get("class", "") + " " + self.attrs.get("id", "")).strip()

    def iter(self) -> Iterator["Node"]:
        """Pre-order traversal including self (elements and text)."""
        stack = [self]
        while stack:
            node = stack.pop()
            yield node
            stack.extend(reversed(node.children))

    def iter_elements(self, *tags: str) -> Iterator["Node"]:
        # hot path: direct stack walk — text nodes are never yielded and
        # never pushed (they have no children), which skips the nested
        # generator frames of iter() on the majority node kind
        want = frozenset(t.lower() for t in tags) if tags else None
        stack = [self]
        pop, push = stack.pop, stack.extend
        while stack:
            node = pop()
            tag = node.tag
            if tag is None:
                continue
            if want is None or tag in want:
                yield node
            if node.children:
                push(reversed(node.children))

    def find(self, *tags: str) -> Optional["Node"]:
        for node in self.iter_elements(*tags):
            return node
        return None

    def ancestors(self, max_depth: int = 0) -> Iterator["Node"]:
        node, depth = self.parent, 0
        while node is not None and (max_depth == 0 or depth < max_depth):
            yield node
            node = node.parent
            depth += 1

    # -- text --------------------------------------------------------------
    def raw_text(self) -> str:
        # hot path: inline traversal (no generator frames per node)
        parts: list[str] = []
        stack = [self]
        pop, push = stack.pop, stack.extend
        while stack:
            node = pop()
            if node.tag is None:
                parts.append(node.text)
            elif node.children:
                push(reversed(node.children))
        return "".join(parts)

    def inner_text(self) -> str:
        """Concatenated text content with whitespace runs collapsed to
        single spaces and stripped (mirrors the reference's cleaning,
        news-scanner/readability/analyzer.py:56); raw_text() keeps it
        as is. join/split is byte-equivalent to re.sub(r'\\s+',' ').strip()
        (both use unicode whitespace) and several times faster."""
        return " ".join(self.raw_text().split())

    def has_text(self) -> bool:
        """True iff inner_text() would be non-empty — early-exits at the
        first non-whitespace character instead of building (and
        normalizing) the whole subtree string."""
        stack = [self]
        pop, push = stack.pop, stack.extend
        while stack:
            node = pop()
            if node.tag is None:
                if node.text and not node.text.isspace():
                    return True
            elif node.children:
                push(node.children)  # order-insensitive: existence only
        return False

    def text_and_spans(self) -> tuple[str, list[tuple[int, int]]]:
        """(inner_text(), spans) from ONE subtree walk — the extraction
        entry point needs both for every successful attempt. ``spans``
        are the source-offset spans of all non-blank text nodes under
        self, merged when adjacent/overlapping; offsets index the
        original HTML string handed to :func:`parse_html`."""
        parts: list[str] = []
        spans: list[tuple[int, int]] = []
        stack = [self]
        pop, push = stack.pop, stack.extend
        while stack:
            node = pop()
            if node.tag is None:
                parts.append(node.text)
                if node.src_start >= 0 and node.text.strip():
                    spans.append((node.src_start, node.src_end))
            elif node.children:
                push(reversed(node.children))
        spans.sort()
        merged: list[tuple[int, int]] = []
        for start, end in spans:
            if merged and start <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], end))
            else:
                merged.append((start, end))
        return " ".join("".join(parts).split()), merged

    def link_density(self) -> float:
        """Length of text inside <a> descendants / total text length.
        Single stack walk collecting total and per-anchor text (instead
        of one traversal per anchor); lengths are of the normalized
        text, same as inner_text."""
        total_parts: list[str] = []
        open_anchors: list[list[str]] = []
        link_len = 0
        stack: list = [self]
        while stack:
            node = stack.pop()
            if node is None:  # anchor-end sentinel
                buf = open_anchors.pop()
                link_len += len(" ".join("".join(buf).split()))
                continue
            if node.tag is None:
                total_parts.append(node.text)
                for buf in open_anchors:
                    buf.append(node.text)
                continue
            if node.tag == "a":  # includes self, matching iter_elements("a")
                open_anchors.append([])
                stack.append(None)
            stack.extend(reversed(node.children))
        total = len(" ".join("".join(total_parts).split()))
        if total == 0:
            return 0.0
        return min(1.0, link_len / total)

    # -- serialization -----------------------------------------------------
    def serialize(self) -> str:
        out: list[str] = []
        self._serialize_into(out)
        return "".join(out)

    def _serialize_into(self, out: list[str]) -> None:
        if self.is_text:
            out.append(
                self.text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            )
            return
        if self.tag == "#root":
            for child in self.children:
                child._serialize_into(out)
            return
        attrs = "".join(
            f' {k}="{v.replace(chr(34), "&quot;")}"' for k, v in self.attrs.items()
        )
        if self.tag in VOID_ELEMENTS:
            out.append(f"<{self.tag}{attrs}/>")
            return
        out.append(f"<{self.tag}{attrs}>")
        for child in self.children:
            child._serialize_into(out)
        out.append(f"</{self.tag}>")

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        if self.is_text:
            return f"#text({self.text[:30]!r})"
        return f"<{self.tag} class={self.attrs.get('class', '')!r}>"


class _TreeBuilder(HTMLParser):
    """Builds a Node tree; records source offsets for every text chunk."""

    def __init__(self, raw: str) -> None:
        super().__init__(convert_charrefs=False)
        self.root = Node("#root")
        self.stack: list[Node] = [self.root]
        self._raw = raw
        # line start offsets for getpos() -> absolute offset conversion
        self._line_starts = [0]
        for m in re.finditer("\n", raw):
            self._line_starts.append(m.end())

    def _offset(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    # -- element events ----------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        # implicit </p> before block elements (simplified HTML5 rule)
        if tag in _P_CLOSERS:
            for i in range(len(self.stack) - 1, 0, -1):
                if self.stack[i].tag == "p":
                    del self.stack[i:]
                    break
                if self.stack[i].tag not in ("a", "span", "b", "i", "em", "strong"):
                    break
        # implicit </li> before a new <li>
        if tag == "li" and self.stack[-1].tag == "li":
            self.stack.pop()
        node = Node(tag, {k.lower(): (v or "") for k, v in attrs})
        self.stack[-1].append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        node = Node(tag.lower(), {k.lower(): (v or "") for k, v in attrs})
        self.stack[-1].append(node)

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in VOID_ELEMENTS:
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # unmatched end tag: ignore (tag-soup recovery)

    # -- text events ---------------------------------------------------------
    def _append_text(self, text: str, raw_len: int) -> None:
        start = self._offset()
        parent = self.stack[-1]
        last = parent.children[-1] if parent.children else None
        if last is not None and last.is_text and last.src_end == start:
            last.text += text
            last.src_end = start + raw_len
        else:
            parent.append(Node(text=text, src_start=start, src_end=start + raw_len))

    def handle_data(self, data: str) -> None:
        if data:
            self._append_text(data, len(data))

    def _ref_len(self, base_len: int) -> int:
        # html.parser also fires for UNterminated refs ('&amp' without
        # ';'); only count the semicolon when the source actually has one,
        # else spans overshoot into the following text node
        end = self._offset() + base_len
        return base_len + (1 if end < len(self._raw) and self._raw[end] == ";" else 0)

    def handle_entityref(self, name: str) -> None:
        self._append_text(unescape(f"&{name};"), self._ref_len(len(name) + 1))

    def handle_charref(self, name: str) -> None:
        self._append_text(unescape(f"&#{name};"), self._ref_len(len(name) + 2))

    def handle_comment(self, data: str) -> None:  # drop comments
        pass

    def handle_decl(self, decl: str) -> None:  # drop doctype
        pass


# ---------------------------------------------------------------------------
# regex tokenizer: the parser
# ---------------------------------------------------------------------------
# One scan over the document with a single compiled regex; exact source
# offsets come free from match positions. ~2-3x faster than stdlib
# html.parser, which the extraction profile showed as the largest single
# cost. Produces the same Node tree as _TreeBuilder, which stays only as
# the reference the parity tests compare against.

_TOKEN_RE = re.compile(
    r"<!--.*?(?:-->|$)"  # comments (unterminated swallowed to EOF)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<![^>]*>"  # doctype / other declarations
    r"|<\?[^>]*>"  # processing instructions
    r"|</\s*([a-zA-Z][a-zA-Z0-9:_.-]*)\s*>"  # end tag -> group 1
    r"|<([a-zA-Z][a-zA-Z0-9:_.-]*)"  # start tag name -> group 2
    r"((?:\s+[^\s=/>]+(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s>]*))?)*)"  # attrs -> 3
    r"\s*(/?)\s*>",  # self-closing -> 4
    re.S,
)
_ATTR_RE = re.compile(
    r"([^\s=/>]+)(?:\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s>]*)))?"
)
_RAWTEXT_END = {
    "script": re.compile(r"</script\s*>", re.I),
    "style": re.compile(r"</style\s*>", re.I),
}
_INLINE_KEEP_OPEN = ("a", "span", "b", "i", "em", "strong")


def _parse_attrs(attr_str: str) -> dict:
    if not attr_str or attr_str.isspace():
        return _NO_ATTRS
    attrs = {}
    for m in _ATTR_RE.finditer(attr_str):
        name = m.group(1).lower()
        value = m.group(3) if m.group(3) is not None else (
            m.group(4) if m.group(4) is not None else (m.group(5) or "")
        )
        if "&" in value:
            value = unescape(value)
        if name not in attrs:
            attrs[name] = value
    return attrs


def parse_html(raw: str) -> Node:
    """Parse an HTML string into a Node tree rooted at ``#root``.

    One regex scan; builds the same tree (and applies the same tag-soup
    recovery rules) as the html.parser-based reference builder. Every
    input tokenizes — unmatched ``<`` is text, unterminated comments run
    to EOF — so it does not raise on malformed HTML."""
    root = Node("#root")
    stack = [root]
    pos, length = 0, len(raw)

    def add_text(start: int, end: int) -> None:
        chunk = raw[start:end]
        if not chunk:
            return
        text = unescape(chunk) if "&" in chunk else chunk
        parent = stack[-1]
        last = parent.children[-1] if parent.children else None
        if last is not None and last.is_text and last.src_end == start:
            last.text += text
            last.src_end = end
        else:
            parent.append(Node(text=text, src_start=start, src_end=end))

    search = _TOKEN_RE.search  # hot loop: bind lookups once
    while pos < length:
        m = search(raw, pos)
        if m is None:
            add_text(pos, length)
            break
        if m.start() > pos:
            add_text(pos, m.start())
        pos = m.end()
        end_name, start_name = m.group(1, 2)
        if start_name is not None:
            tag = start_name.lower()
            # implicit </p> before block elements (same rule as builder)
            if tag in _P_CLOSERS:
                for i in range(len(stack) - 1, 0, -1):
                    if stack[i].tag == "p":
                        del stack[i:]
                        break
                    if stack[i].tag not in _INLINE_KEEP_OPEN:
                        break
            if tag == "li" and stack[-1].tag == "li":
                stack.pop()
            node = Node(tag, _parse_attrs(m.group(3)))
            stack[-1].append(node)
            self_closing = bool(m.group(4))
            if tag in _RAWTEXT_END and not self_closing:
                # raw-text element: scan directly for its end tag
                em = _RAWTEXT_END[tag].search(raw, pos)
                content_end = em.start() if em else length
                if content_end > pos:
                    node.append(
                        Node(text=raw[pos:content_end], src_start=pos, src_end=content_end)
                    )
                pos = em.end() if em else length
            elif tag not in VOID_ELEMENTS and not self_closing:
                stack.append(node)
        elif end_name is not None:
            tag = end_name.lower()
            if tag in VOID_ELEMENTS:
                continue
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    break
            # unmatched end tag: ignored (tag-soup recovery)
        # else: comment/doctype/CDATA/PI — dropped
    return root


def parse_html_stdlib(raw: str) -> Node:
    """The html.parser-based reference tree parse_html must match,
    exposed for parity testing."""
    builder = _TreeBuilder(raw)
    builder.feed(raw)
    builder.close()
    return builder.root


def body_of(root: Node) -> Node:
    """Return the <body> element, or the root if none exists (fragment)."""
    body = root.find("body")
    return body if body is not None else root
