"""Pure-stdlib PDF text extraction (the north_rule's "PDF/layout parse").

The reference never parses PDF itself — it HTTP-posts HTML to a
readability container (docker-compose.yml:2-14) and PDFs simply fail its
content-type gate — but the target rule names "HTML boilerplate strip,
PDF/layout parse, DOM heuristics" as one extraction surface, so the
flagship pipeline dispatches on payload format (see functions/udfs.py)
and this module supplies the PDF side with zero new dependencies:
zlib (stdlib) is the only codec needed for FlateDecode.

Reader (:func:`extract_pdf_text` / :func:`extract_pdf`):

1. **Object scan, not xref walk.** Objects are located by scanning for
   ``N G obj`` headers; the xref table is never trusted. Real-world
   PDFs routinely ship broken/linearized/incremental xrefs, and at
   10^12-turn scale a parse path that dies on a stale offset table is a
   task-killer. /ObjStm compressed object streams are expanded
   (``_expand_object_streams``), and ``trailer``-less PDF 1.5+ files
   resolve /Root and /Info through the /Type /XRef stream dict.
   (Limitation, documented: a binary stream that happens to contain an
   ``N G obj`` byte pattern could confuse the scan.)
2. **Page tree walk** from the trailer's /Root → /Pages → /Kids
   (recursive, inherited order preserved); falls back to every
   /Type /Page object in numeric order when the trailer is damaged.
3. **Content streams** FlateDecoded via zlib (plus ASCIIHex, ASCII85,
   and RunLength decodes);
   array-valued /Contents are concatenated in order, as the spec
   requires.
4. **Text operator interpretation**: BT/ET, Tf, TL, Td/TD/Tm/T*,
   Tj/'/"/TJ with the text matrix composed exactly as §9.4.4 of the
   spec describes, so every shown string carries its text-space
   (x, y) origin. TJ kern adjustments more negative than
   :data:`TJ_SPACE_KERN` become word spaces (the standard
   word-spacing idiom). Strings decode as UTF-16BE when BOM-prefixed,
   else PDFDocEncoding approximated by latin-1 + the WinAnsi 0x80–0x9F
   punctuation block.
5. **Layout-ordered assembly**: runs are grouped into lines by
   baseline y (±:data:`LINE_Y_TOLERANCE`), lines sorted top-to-bottom,
   runs within a line left-to-right (emission order breaks ties);
   pages join with a blank line. This is the "layout parse" half: text
   order follows geometry, not stream order.

Writer (:func:`make_pdf`): a deterministic single-font PDF 1.4
generator (correct xref + trailer, Flate or raw streams, greedy
space-boundary line wrap that maps each wrapped space 1:1 to a
newline). It exists so tests and the ``pdf_roundtrip`` driver query can
assert the north_rule's per-turn text equality bar end-to-end:
``extract_pdf_text(make_pdf(t))`` equals ``t`` up to whitespace
normalization, and the DuckDB oracle recomputes the same normalization
from the source column without ever seeing a PDF byte.

Graceful failure: :func:`extract_pdf` raises :class:`PdfParseError`
for anything unusable; the pipeline's extract_one maps that to a
``parse_failed=True`` row (never task-fatal).
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Optional, Union

# TJ kern (thousandths of an em, negative = rightward gap) at or below
# which a word space is emitted. Typical word spaces are -200..-600;
# typical kerning pairs are -10..-100.
TJ_SPACE_KERN = -180.0
# Runs whose baseline y differs by no more than this (text-space units,
# i.e. points for an unscaled Tm) belong to one line.
LINE_Y_TOLERANCE = 2.0
# Decoded bytes one document may produce, summed over every stream it
# decodes (page contents, /ObjStm) and every stage of a filter chain.
# A 65 KB Flate stream can inflate to 64 MiB (and a chain to far more);
# unbounded, one such turn held a Python worker for a minute and over
# 100 MiB. A stream whose decode would cross the budget decodes to b""
# and spends the rest of it, so the turn ends parse_failed, never fatal.
PDF_DECODE_MAX_BYTES = 16 * 1024 * 1024
_INFLATE_CHUNK = 1024 * 1024


class PdfParseError(ValueError):
    """Raised when bytes cannot be parsed as a text-bearing PDF."""


@dataclass
class PdfResult:
    text: str
    n_pages: int
    title: str = ""
    created_ts: Optional[datetime] = None  # tz-aware UTC


# ---------------------------------------------------------------------------
# object model + tokenizer
# ---------------------------------------------------------------------------


class _Name(str):
    """A /Name token (distinct from a string literal)."""


class _Str(bytes):
    """A string literal — distinct from bare operator/keyword bytes,
    which the content-stream interpreter must not confuse with it."""


@dataclass(frozen=True)
class _Ref:
    num: int


_WHITESPACE = b"\x00\t\n\x0c\r "
_DELIMS = b"()<>[]{}/%"


class _Tokenizer:
    """Lexer for both object syntax and content streams.

    Yields python values for literals (bytes for strings, _Name,
    int/float, bool, None) and bare bytes tokens for operators /
    keywords (``b"Tj"``, ``b"<<"``, ``b"R"``, ...).
    """

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        data, n = self.data, len(self.data)
        while self.pos < n:
            c = data[self.pos]
            if c in _WHITESPACE:
                self.pos += 1
            elif c == 0x25:  # '%' comment runs to EOL
                eol = data.find(b"\n", self.pos)
                self.pos = n if eol == -1 else eol + 1
            else:
                return

    def next_token(self):
        """Return the next token, or None at end of input."""
        self._skip_ws()
        data, n = self.data, len(self.data)
        if self.pos >= n:
            return None
        c = data[self.pos]
        if c == 0x28:  # (
            return self._read_literal_string()
        if c == 0x3C:  # <
            if data.startswith(b"<<", self.pos):
                self.pos += 2
                return b"<<"
            return self._read_hex_string()
        if c == 0x3E:  # >
            if data.startswith(b">>", self.pos):
                self.pos += 2
                return b">>"
            self.pos += 1  # stray '>' — skip
            return self.next_token()
        if c == 0x2F:  # /
            return self._read_name()
        if c in b"[]{}":
            self.pos += 1
            return data[self.pos - 1 : self.pos]
        # number or keyword
        start = self.pos
        while self.pos < n and data[self.pos] not in _WHITESPACE and data[
            self.pos
        ] not in _DELIMS:
            self.pos += 1
        word = data[start : self.pos]
        if not word:  # lone delimiter we don't handle — skip a byte
            self.pos += 1
            return self.next_token()
        if _NUM_RE.fullmatch(word):
            return float(word) if b"." in word else int(word)
        if word == b"true":
            return True
        if word == b"false":
            return False
        if word == b"null":
            # _NULL, not None: None means end-of-input, and a `null`
            # inside an array (legal, e.g. /Kids [3 0 R null 5 0 R])
            # must not truncate the array parse
            return _NULL
        return word  # operator / keyword (obj, R, stream, Tj, ...)

    def _read_literal_string(self) -> bytes:
        data, n = self.data, len(self.data)
        self.pos += 1  # consume '('
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = data[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = data[self.pos]
                self.pos += 1
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                elif e in b"()\\":
                    out.append(e)
                elif 0x30 <= e <= 0x37:  # \ddd octal, up to 3 digits
                    digits = [e - 0x30]
                    while (
                        len(digits) < 3
                        and self.pos < n
                        and 0x30 <= data[self.pos] <= 0x37
                    ):
                        digits.append(data[self.pos] - 0x30)
                        self.pos += 1
                    val = 0
                    for d in digits:
                        val = val * 8 + d
                    out.append(val & 0xFF)
                elif e == 0x0A:  # line continuation
                    pass
                elif e == 0x0D:
                    if self.pos < n and data[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)  # unknown escape: literal char
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return _Str(out)
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        return _Str(out)  # unterminated — best effort

    def _read_hex_string(self) -> bytes:
        data = self.data
        self.pos += 1  # consume '<'
        end = data.find(b">", self.pos)
        if end == -1:
            end = len(data)
        hex_bytes = re.sub(rb"[^0-9A-Fa-f]", b"", data[self.pos : end])
        self.pos = end + 1
        if len(hex_bytes) % 2:
            hex_bytes += b"0"  # spec: odd final digit pads with 0
        try:
            return _Str(bytes.fromhex(hex_bytes.decode("ascii")))
        except ValueError:
            return _Str(b"")

    def _read_name(self) -> "_Name":
        data, n = self.data, len(self.data)
        self.pos += 1  # consume '/'
        start = self.pos
        while self.pos < n and data[self.pos] not in _WHITESPACE and data[
            self.pos
        ] not in _DELIMS:
            self.pos += 1
        raw = data[start : self.pos]
        # #xx hex escapes inside names
        raw = re.sub(
            rb"#([0-9A-Fa-f]{2})", lambda m: bytes([int(m.group(1), 16)]), raw
        )
        return _Name(raw.decode("latin-1"))


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_NULL = object()  # distinguishes parsed `null` from end-of-input


def _parse_value(tok: _Tokenizer):
    """Parse one PDF value (handles dict/array nesting and N G R refs)."""
    t = tok.next_token()
    return _parse_from(tok, t)


def _parse_from(tok: _Tokenizer, t):
    if isinstance(t, (_Str, _Name)):  # before the == b"<<" checks: a
        return t  # string literal CONTAINING "<<" is still a string
    if t == b"<<":
        d = {}
        while True:
            k = tok.next_token()
            # exact-type test: _Str subclasses bytes, so a string literal
            # token _Str(b'>>') in key position would otherwise compare
            # equal to the delimiter and silently truncate the dict
            if k is None or (type(k) is bytes and k == b">>"):
                return d
            if not isinstance(k, _Name):
                continue  # malformed key — resync on next name
            d[str(k)] = _parse_value(tok)
    if t == b"[":
        arr = []
        while True:
            save = tok.pos
            item = tok.next_token()
            # exact-type test (see dict-key note): _Str(b']') is an array
            # ELEMENT, not the terminator
            if item is None or (type(item) is bytes and item == b"]"):
                return arr
            tok.pos = save
            arr.append(_parse_value(tok))
    if isinstance(t, int):
        # lookahead for "G R" making this an indirect reference
        save = tok.pos
        g = tok.next_token()
        if isinstance(g, int):
            r = tok.next_token()
            if r == b"R":
                return _Ref(t)
        tok.pos = save
        return t
    if t is None:
        return _NULL
    return t


# ---------------------------------------------------------------------------
# document structure
# ---------------------------------------------------------------------------

_OBJ_HEAD_RE = re.compile(rb"(?:^|[\r\n>\x00\t ])(\d{1,9})\s+(\d{1,5})\s+obj\b")
_STREAM_START_RE = re.compile(rb"stream\r?\n")


def _trim_stream_eol(chunk: bytes) -> bytes:
    """Strip the single EOL the spec allows before `endstream` — an
    unbounded rstrip could eat real trailing 0x0A/0x0D bytes of Flate
    data (≈1/8 of adler32 checksums end in one) and truncate the
    decode."""
    if chunk.endswith(b"\r\n"):
        return chunk[:-2]
    if chunk.endswith((b"\n", b"\r")):
        return chunk[:-1]
    return chunk


@dataclass
class _PdfObject:
    value: object  # parsed first value (usually the dict)
    stream: Optional[bytes] = None  # raw (still-encoded) stream bytes
    body: bytes = b""
    pos: int = -1  # file offset of the object (container's for ObjStm
    # members) — incremental updates append, so larger pos == newer


class _Document:
    def __init__(self, data: bytes):
        self.data = data
        self.objects: dict[int, _PdfObject] = {}
        self._decoded: dict[int, bytes] = {}
        self._budget = PDF_DECODE_MAX_BYTES
        self._scan()

    def _scan(self) -> None:
        data = self.data
        heads = [
            (m.start(1), m.end(), int(m.group(1)))
            for m in _OBJ_HEAD_RE.finditer(data)
        ]
        for i, (start, body_start, num) in enumerate(heads):
            end = heads[i + 1][0] if i + 1 < len(heads) else len(data)
            body = data[start:end]
            # trim to the LAST endobj in the slice (stream bytes between
            # two headers may contain spurious "endobj" text; the real
            # one is final by construction)
            j = body.rfind(b"endobj")
            if j != -1:
                body = body[: j]
            body = body[body_start - start :]
            obj = self._parse_object(body)
            if obj is not None:
                obj.pos = start
                self.objects[num] = obj  # later direct object wins (update)
        self._expand_object_streams()

    def _expand_object_streams(self) -> None:
        """Expand /ObjStm compressed object streams (PDF 1.5+): modern
        writers put the catalog/page-tree/font dicts inside one Flate
        stream, invisible to the `N G obj` scan. Layout per §7.5.7:
        /N pairs of (object number, relative offset) before /First,
        then the concatenated objects. Number collisions resolve by
        FILE POSITION (members inherit their container's offset):
        incremental updates append, so the later definition is the
        newer one — matching the later-wins rule of the direct scan."""
        containers = sorted(
            (
                (obj.pos, num)
                for num, obj in self.objects.items()
                if isinstance(obj.value, dict)
                and str(obj.value.get("Type", "")) == "ObjStm"
            )
        )
        for cpos, num in containers:
            v = self.objects[num].value
            data = self.decoded_stream(num)
            n = self.resolve(v.get("N"))
            first = self.resolve(v.get("First"))
            if not (isinstance(n, int) and isinstance(first, int)) or not data:
                continue
            tok = _Tokenizer(data[:first])
            pairs = []
            for _ in range(min(n, 100_000)):
                a = tok.next_token()
                b = tok.next_token()
                if not (isinstance(a, int) and isinstance(b, int)):
                    break
                pairs.append((a, b))
            for onum, off in pairs:
                existing = self.objects.get(onum)
                if existing is not None and existing.pos >= cpos:
                    continue  # a later (or same-position) definition wins
                if not 0 <= off < len(data) - first + 1:
                    continue
                otok = _Tokenizer(data, first + off)
                try:
                    val = _parse_value(otok)
                except RecursionError:
                    continue
                if val is not _NULL:
                    self.objects[onum] = _PdfObject(value=val, pos=cpos)

    def _parse_object(self, body: bytes) -> Optional[_PdfObject]:
        sm = _STREAM_START_RE.search(body)
        head = body[: sm.start()] if sm else body
        tok = _Tokenizer(head)
        try:
            value = _parse_value(tok)
        except RecursionError:
            return None
        if value is _NULL and not sm:
            return None
        stream = None
        if sm:
            raw = body[sm.end() :]
            length = None
            if isinstance(value, dict):
                length = self.resolve(value.get("Length"))
            if isinstance(length, int) and 0 <= length <= len(raw):
                stream = raw[:length]
                # verify: a wrong /Length (stale incremental update)
                # shows as endstream not following where claimed
                tail = raw[length : length + 20]
                if b"endstream" not in tail.lstrip(b"\r\n")[:9] and (
                    b"endstream" in raw
                ):
                    stream = _trim_stream_eol(raw[: raw.rfind(b"endstream")])
            else:
                es = raw.rfind(b"endstream")
                stream = _trim_stream_eol(raw[:es] if es != -1 else raw)
        return _PdfObject(value=value, stream=stream, body=body)

    def resolve(self, v, depth: int = 0):
        """Follow indirect references (bounded against ref cycles)."""
        while isinstance(v, _Ref) and depth < 32:
            obj = self.objects.get(v.num)
            if obj is None:
                return None
            v = obj.value
            depth += 1
        return None if v is _NULL else v

    def decoded_stream(self, num: int) -> bytes:
        if num in self._decoded:
            return self._decoded[num]
        obj = self.objects.get(num)
        out = b""
        if obj is not None and obj.stream is not None:
            out, self._budget = _apply_filters(
                obj.stream, self.resolve_filters(obj), self._budget
            )
        self._decoded[num] = out
        return out

    def resolve_filters(self, obj: _PdfObject) -> list[str]:
        filters = []
        if isinstance(obj.value, dict):
            f = self.resolve(obj.value.get("Filter"))
            if isinstance(f, _Name):
                filters = [str(f)]
            elif isinstance(f, list):
                filters = [str(x) for x in f if isinstance(x, _Name)]
        return filters

    # -- structure ---------------------------------------------------------

    def trailer_dict(self) -> Optional[dict]:
        # last trailer wins (incremental updates append)
        for m in reversed(list(re.finditer(rb"trailer", self.data))):
            tok = _Tokenizer(self.data, m.end())
            d = _parse_value(tok)
            if isinstance(d, dict) and "Root" in d:
                return d
        # PDF 1.5+ cross-reference STREAMS carry /Root and /Info in the
        # /Type /XRef stream dict instead of a `trailer` keyword; pick
        # by FILE POSITION (largest = the latest incremental update),
        # consistent with the newest-wins rule everywhere else —
        # object numbers say nothing about recency
        best = None
        for obj in self.objects.values():
            v = obj.value
            if isinstance(v, dict) and str(v.get("Type", "")) == "XRef" and "Root" in v:
                if best is None or obj.pos > best.pos:
                    best = obj
        return best.value if best is not None else None

    def catalog(self) -> Optional[dict]:
        trailer = self.trailer_dict()
        if trailer is not None:
            root = self.resolve(trailer.get("Root"))
            if isinstance(root, dict):
                return root
        for obj in self.objects.values():  # damaged trailer fallback
            v = obj.value
            if isinstance(v, dict) and str(v.get("Type", "")) == "Catalog":
                return v
        return None

    def info(self) -> dict:
        trailer = self.trailer_dict()
        if trailer is not None:
            info = self.resolve(trailer.get("Info"))
            if isinstance(info, dict):
                return info
        return {}

    def pages(self) -> list[dict]:
        cat = self.catalog()
        found: list[dict] = []
        if cat is not None:
            root = self.resolve(cat.get("Pages"))
            if isinstance(root, dict):
                self._walk_pages(root, found, set())
        if not found:  # no/broken page tree: numeric-order /Type /Page
            for num in sorted(self.objects):
                v = self.objects[num].value
                if isinstance(v, dict) and str(v.get("Type", "")) == "Page":
                    found.append(v)
        return found

    def _walk_pages(self, node: dict, out: list[dict], seen: set) -> None:
        node_id = id(node)
        if node_id in seen or len(out) > 10_000:
            return
        seen.add(node_id)
        ntype = str(node.get("Type", ""))
        if ntype == "Page":
            out.append(node)
            return
        kids = self.resolve(node.get("Kids"))
        if isinstance(kids, list):
            for kid in kids:
                kid = self.resolve(kid)
                if isinstance(kid, dict):
                    self._walk_pages(kid, out, seen)

    def page_content(self, page: dict) -> bytes:
        contents = page.get("Contents")
        refs: list[_Ref] = []
        if isinstance(contents, _Ref):
            refs = [contents]
        else:
            resolved = self.resolve(contents)
            if isinstance(resolved, list):
                refs = [c for c in resolved if isinstance(c, _Ref)]
            elif isinstance(contents, list):
                refs = [c for c in contents if isinstance(c, _Ref)]
        return b"\n".join(self.decoded_stream(r.num) for r in refs)


def _apply_filters(raw: bytes, filters: list[str], budget: int) -> tuple[bytes, int]:
    """``raw`` decoded through ``filters`` in order, and what is left of
    ``budget`` (the decoded bytes the document may still produce). A
    stage that would cross the budget stops at it: the stream decodes
    to b"" and the budget is spent."""
    data = raw
    for f in filters or []:
        if f in ("FlateDecode", "Fl"):
            try:
                data = _inflate(data, budget)
            except zlib.error:
                return b"", budget
            if data is None:
                return b"", 0
        elif f in ("ASCIIHexDecode", "AHx"):
            hex_bytes = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">")[0])
            if len(hex_bytes) % 2:
                hex_bytes += b"0"
            try:
                data = bytes.fromhex(hex_bytes.decode("ascii"))
            except ValueError:
                return b"", budget
        elif f in ("ASCII85Decode", "A85"):
            data = _ascii85_decode(data, budget)
            if data is None:
                return b"", budget
        elif f in ("RunLengthDecode", "RL"):
            data = _runlength_decode(data, budget)
            if data is None:
                return b"", budget
        else:
            return b"", budget  # image/JBIG2/DCT etc — no text to be had
        if len(data) > budget:
            return b"", 0
        budget -= len(data)
    return data, budget


def _inflate(data: bytes, limit: int) -> Optional[bytes]:
    """zlib-inflate ``data`` one chunk at a time, tolerating trailing
    garbage and a missing checksum. None as soon as the output is longer
    than ``limit``, holding at most ``limit`` plus one chunk; zlib.error
    on corrupt data."""
    d = zlib.decompressobj()
    parts: list[bytes] = []
    total = 0
    while True:
        chunk = d.decompress(data, _INFLATE_CHUNK)
        total += len(chunk)
        if total > limit:
            return None
        parts.append(chunk)
        data = d.unconsumed_tail
        # a full chunk with no input left may still have output pending;
        # an empty chunk means no progress is possible
        if d.eof or not chunk or not (data or len(chunk) == _INFLATE_CHUNK):
            return b"".join(parts)


def _ascii85_decode(data: bytes, limit: int):
    """ISO 32000-1 §7.4.3 ASCII85: base-85 groups of 5 chars ('z' =
    four zero bytes), whitespace ignored, '~>' EOD, partial final group
    padded with 'u' and truncated. None on malformed input; stops once
    the output is longer than ``limit``."""
    if data.lstrip(b" \t\r\n\x0c\x00").startswith(b"<~"):
        # Adobe-style leader (rare, tolerated)
        data = data.lstrip(b" \t\r\n\x0c\x00")[2:]
    # EOD: '~' begins the terminator and 0x7E can appear nowhere else in
    # valid data, so cut at the first '~' — tolerating writers that
    # line-wrap between '~' and '>' (whitespace is ignorable anywhere)
    body = data.split(b"~")[0]
    out = bytearray()
    group: list[int] = []
    for c in body:
        if c in b" \t\r\n\x0c\x00":
            continue
        if c == 0x7A:  # 'z'
            if group:
                return None  # z inside a group is illegal
            out += b"\x00\x00\x00\x00"
            if len(out) > limit:
                break
            continue
        if not 0x21 <= c <= 0x75:
            return None
        group.append(c - 0x21)
        if len(group) == 5:
            acc = 0
            for g in group:
                acc = acc * 85 + g
            if acc > 0xFFFFFFFF:
                return None
            out += acc.to_bytes(4, "big")
            group = []
            if len(out) > limit:
                break
    if group:
        n = len(group)
        if n == 1:
            return None  # a single trailing char cannot encode anything
        acc = 0
        for g in group + [84] * (5 - n):  # pad with 'u'
            acc = acc * 85 + g
        if acc > 0xFFFFFFFF:
            return None
        out += acc.to_bytes(4, "big")[: n - 1]
    return bytes(out)


def _runlength_decode(data: bytes, limit: int):
    """ISO 32000-1 §7.4.5 RunLength: L<128 copies L+1 literal bytes,
    L>128 repeats the next byte 257-L times, 128 = EOD. None on
    truncation; stops once the output is longer than ``limit``."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) <= limit:
        length = data[i]
        i += 1
        if length == 128:
            return bytes(out)
        if length < 128:
            if i + length + 1 > n:
                return None
            out += data[i : i + length + 1]
            i += length + 1
        else:
            if i >= n:
                return None
            out += bytes([data[i]]) * (257 - length)
            i += 1
    return bytes(out)  # EOD omitted: tolerate, like trailing-garbage flate


# ---------------------------------------------------------------------------
# content-stream text interpreter
# ---------------------------------------------------------------------------

# WinAnsiEncoding's 0x80-0x9F block (cp1252 punctuation); the rest of
# the byte range matches latin-1.
_WINANSI_HIGH = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}


def _decode_pdf_string(raw: bytes) -> str:
    if raw.startswith(b"\xfe\xff"):
        try:
            return raw[2:].decode("utf-16-be", errors="replace")
        except Exception:
            return ""
    text = raw.decode("latin-1")
    if any(0x80 <= ord(c) <= 0x9F for c in text):
        text = "".join(_WINANSI_HIGH.get(ord(c), c) for c in text)
    return text


@dataclass
class _Run:
    x: float
    y: float
    seq: int
    text: str


def _interpret_text(content: bytes) -> list[_Run]:
    """Execute the text operators of one page's content stream.

    Tracks the text matrix / line matrix composition of PDF §9.4.4;
    graphics-state operators that don't move text (colors, paths, cm,
    gs, Do, ...) are consumed and ignored — a text extractor needs
    positions, not paint.
    """
    tok = _Tokenizer(content)
    stack: list = []
    runs: list[_Run] = []
    seq = 0
    tm = tlm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    leading = 0.0
    in_text = False

    def _num(v, default=0.0):
        return float(v) if isinstance(v, (int, float)) else default

    def _translate_line(tx: float, ty: float):
        nonlocal tm, tlm
        a, b, c, d, e, f = tlm
        tlm = (a, b, c, d, tx * a + ty * c + e, tx * b + ty * d + f)
        tm = tlm

    def _show(raw: Union[str, bytes]):
        nonlocal seq
        if isinstance(raw, bytes):
            text = _decode_pdf_string(raw)
        elif isinstance(raw, str):
            text = raw
        else:
            return
        if text:
            runs.append(_Run(x=tm[4], y=tm[5], seq=seq, text=text))
            seq += 1

    while True:
        save = tok.pos
        t = tok.next_token()
        if t is None:
            break
        if isinstance(t, _Str) or not isinstance(t, bytes):
            stack.append(t)
            continue
        if t == b"<<":  # inline dicts (e.g. BDC property lists)
            tok.pos = save
            _parse_value(tok)
            continue
        if t == b"[":
            tok.pos = save
            stack.append(_parse_value(tok))
            continue
        op = t
        if op == b"BT":
            in_text = True
            tm = tlm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
        elif op == b"ET":
            in_text = False
        elif op == b"TL":
            leading = _num(stack[-1]) if stack else 0.0
        elif op == b"Td" and len(stack) >= 2:
            _translate_line(_num(stack[-2]), _num(stack[-1]))
        elif op == b"TD" and len(stack) >= 2:
            leading = -_num(stack[-1])
            _translate_line(_num(stack[-2]), _num(stack[-1]))
        elif op == b"Tm" and len(stack) >= 6:
            tm = tlm = tuple(_num(v) for v in stack[-6:])
        elif op == b"T*":
            _translate_line(0.0, -leading)
        elif op == b"Tj" and stack:
            if in_text:
                _show(stack[-1])
        elif op == b"'" and stack:
            _translate_line(0.0, -leading)
            if in_text:
                _show(stack[-1])
        elif op == b'"' and len(stack) >= 3:
            _translate_line(0.0, -leading)
            if in_text:
                _show(stack[-1])
        elif op == b"BI":
            # inline image: BI <dict entries> ID <binary> EI — the binary
            # bytes must NOT reach the tokenizer (a 0x28 '(' inside them
            # would open a string that swallows the rest of the page).
            # Skip to the first whitespace-delimited EI; image data that
            # itself contains " EI " ends the skip early (documented
            # limitation — resynchronizing costs a full decode).
            m = re.search(
                rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ]|$)",
                tok.data[tok.pos :],
            )
            tok.pos = len(tok.data) if m is None else tok.pos + m.end()
        elif op == b"TJ" and stack:
            arr = stack[-1]
            if in_text and isinstance(arr, list):
                pieces: list[str] = []
                for item in arr:
                    if isinstance(item, bytes):
                        pieces.append(_decode_pdf_string(item))
                    elif isinstance(item, (int, float)) and item <= TJ_SPACE_KERN:
                        pieces.append(" ")
                _show("".join(pieces))
        # every operator consumes its operands
        if op not in (b"<<", b"["):
            stack.clear()
    return runs


def _assemble(runs: list[_Run]) -> str:
    """Layout-ordered assembly: lines by baseline y, top-to-bottom."""
    if not runs:
        return ""
    lines: list[tuple[float, list[_Run]]] = []
    for run in sorted(runs, key=lambda r: (-r.y, r.seq)):
        if lines and abs(lines[-1][0] - run.y) <= LINE_Y_TOLERANCE:
            lines[-1][1].append(run)
        else:
            lines.append((run.y, [run]))
    out_lines = []
    for _y, line_runs in lines:
        line_runs.sort(key=lambda r: (r.x, r.seq))
        parts = [line_runs[0].text]
        for prev, cur in zip(line_runs, line_runs[1:]):
            # consecutive shows at one pen position (TJ pieces, repeated
            # Tj) concatenate; an x-move between runs is a layout gap
            glue = "" if cur.x == prev.x and cur.seq == prev.seq + 1 else " "
            parts.append(glue + cur.text)
        out_lines.append("".join(parts))
    return "\n".join(out_lines)


_PDF_DATE_RE = re.compile(
    r"D:(\d{4})(\d{2})?(\d{2})?(\d{2})?(\d{2})?(\d{2})?"
    r"(?:([+\-Z])(\d{2})?'?(\d{2})?)?"
)


def parse_pdf_date(raw: str) -> Optional[datetime]:
    """Parse a PDF date string (``D:YYYYMMDDHHmmSSOHH'mm``) to UTC."""
    m = _PDF_DATE_RE.match(raw or "")
    if not m:
        return None
    try:
        parts = [int(g) if g else d for g, d in zip(m.groups()[:6], (0, 1, 1, 0, 0, 0))]
        dt = datetime(*parts, tzinfo=timezone.utc)
    except ValueError:
        return None
    sign, oh, om = m.group(7), m.group(8), m.group(9)
    if sign in ("+", "-") and oh:
        offset = timedelta(hours=int(oh), minutes=int(om or 0))
        dt = dt - offset if sign == "+" else dt + offset
    return dt


# ---------------------------------------------------------------------------
# public reader API
# ---------------------------------------------------------------------------


def is_pdf(raw: Union[str, bytes, None]) -> bool:
    """Payload-format sniff used by the pipeline dispatch."""
    if raw is None:
        return False
    head = raw[:1024]
    if isinstance(head, str):
        # strip ALL python whitespace (incl. \x0b and unicode spaces —
        # the pre-r4 reach) PLUS NUL, so a latin-1-decoded binary
        # payload with leading \x00 sniffs identically to its bytes twin
        return re.sub(r"^[\s\x00]+", "", head).startswith("%PDF-")
    return head.lstrip(b"\x00\t\n\x0b\x0c\r ").startswith(b"%PDF-")


def extract_pdf(raw: Union[str, bytes]) -> PdfResult:
    """Extract layout-ordered text + metadata from PDF bytes.

    Accepts ``str`` payloads (transcript ``text`` columns) by latin-1
    encoding — the lossless inverse of how binary payloads land in a
    string column.
    """
    if isinstance(raw, str):
        data = raw.encode("latin-1", errors="replace")
    else:
        data = bytes(raw or b"")
    if not is_pdf(data):
        raise PdfParseError("missing %PDF- header")
    doc = _Document(data)
    pages = doc.pages()
    if not pages:
        raise PdfParseError("no pages found")
    page_texts = []
    for page in pages:
        content = doc.page_content(page)
        page_texts.append(_assemble(_interpret_text(content)) if content else "")
    text = "\n\n".join(page_texts).strip("\n")
    if not any(page_texts):
        # structure parsed but zero text operators anywhere — treat as
        # unextractable (image-only/encrypted) rather than silently empty
        if all(not doc.page_content(p) for p in pages):
            raise PdfParseError("pages carry no decodable content streams")
    info = doc.info()
    title = ""
    t = doc.resolve(info.get("Title"))
    if isinstance(t, bytes):
        title = _decode_pdf_string(t).strip()
    created = None
    c = doc.resolve(info.get("CreationDate"))
    if isinstance(c, bytes):
        created = parse_pdf_date(_decode_pdf_string(c))
    return PdfResult(text=text, n_pages=len(pages), title=title, created_ts=created)


def extract_pdf_text(raw: Union[str, bytes]) -> str:
    return extract_pdf(raw).text


# ---------------------------------------------------------------------------
# deterministic writer (tests + roundtrip oracle)
# ---------------------------------------------------------------------------


def _wrap_line(line: str, width: int) -> list[str]:
    """Greedy wrap at spaces ONLY — each wrapped space becomes exactly
    one line break, so whitespace-normalized text is wrap-invariant.
    A word longer than `width` stays on its own line untouched."""
    if len(line) <= width:
        return [line]
    out: list[str] = []
    cur: list[str] = []
    cur_len = 0
    for word in line.split(" "):
        extra = len(word) + (1 if cur else 0)
        if cur and cur_len + extra > width:
            out.append(" ".join(cur))
            cur, cur_len = [word], len(word)
        else:
            cur.append(word)
            cur_len += extra
    if cur:
        out.append(" ".join(cur))
    return out


def _pdf_escape(line: str) -> bytes:
    raw = line.encode("latin-1", errors="replace")
    return raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def make_pdf(
    text: str,
    *,
    width: int = 72,
    lines_per_page: int = 40,
    compress: bool = True,
    title: str = "",
    creation_date: str = "",
) -> bytes:
    """Write `text` as a deterministic single-font PDF 1.4.

    Inverse contract with the reader (asserted by tests and the
    ``pdf_roundtrip`` driver query): for latin-1 `text`,
    ``extract_pdf_text(make_pdf(text))`` equals `text` up to
    whitespace normalization — wrapping converts single spaces to
    newlines 1:1, and blank source lines (an empty T* move, no glyphs)
    collapse into the surrounding newlines.
    """
    logical_lines: list[str] = []
    for src_line in (text or "").split("\n"):
        logical_lines.extend(_wrap_line(src_line, width))
    pages = [
        logical_lines[i : i + lines_per_page]
        for i in range(0, len(logical_lines), lines_per_page)
    ] or [[]]

    objects: dict[int, bytes] = {}
    font_num = 3
    first_page_num = 4
    content_base = first_page_num + len(pages)

    kids = b" ".join(b"%d 0 R" % (first_page_num + i) for i in range(len(pages)))
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objects[2] = b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % len(pages)
    objects[font_num] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>"
    )

    for i, page_lines in enumerate(pages):
        page_num = first_page_num + i
        content_num = content_base + i
        objects[page_num] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 %d 0 R >> >>"
            b" /Contents %d 0 R >>" % (font_num, content_num)
        )
        ops = [b"BT", b"/F1 11 Tf", b"14 TL", b"1 0 0 1 72 720 Tm"]
        for line in page_lines:
            if line:
                ops.append(b"(" + _pdf_escape(line) + b") Tj")
            ops.append(b"T*")
        ops.append(b"ET")
        stream = b"\n".join(ops)
        if compress:
            stream = zlib.compress(stream, 9)
            head = b"<< /Length %d /Filter /FlateDecode >>" % len(stream)
        else:
            head = b"<< /Length %d >>" % len(stream)
        objects[content_num] = head + b"\nstream\n" + stream + b"\nendstream"

    info_num = None
    info_parts = []
    if title:
        info_parts.append(b"/Title (" + _pdf_escape(title) + b")")
    if creation_date:
        info_parts.append(b"/CreationDate (" + _pdf_escape(creation_date) + b")")
    if info_parts:
        info_num = max(objects) + 1
        objects[info_num] = b"<< " + b" ".join(info_parts) + b" >>"

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objects[num] + b"\nendobj\n"
    xref_pos = len(out)
    max_num = max(objects)
    out += b"xref\n0 %d\n" % (max_num + 1)
    out += b"0000000000 65535 f \n"
    for num in range(1, max_num + 1):
        out += b"%010d 00000 n \n" % offsets.get(num, 0)
    trailer = b"<< /Size %d /Root 1 0 R" % (max_num + 1)
    if info_num is not None:
        trailer += b" /Info %d 0 R" % info_num
    trailer += b" >>"
    out += b"trailer\n" + trailer + b"\nstartxref\n%d\n%%%%EOF\n" % xref_pos
    return bytes(out)
