"""Pure-Python extraction core: MIME sniff + per-format main-content
extraction with char-offset spans.

This is the engine's analog of the reference's Tika integration
(/root/reference/tika/src/main/java/.../TikaInstance.java:119-268 and
TikaDocParser.java:113-511), rebuilt as deterministic, stateless pure
functions so they can run inside Arrow UDFs with no
shared state across batches.

Canonical extraction contract (every format):

* ``extracted`` is ``"\\n".join(source[start:end] for (start, end) in spans)``
  — spans are char offsets into the ORIGINAL source text, so extraction is
  always a verbatim slicing of the input. This is the per-turn invariant the
  golden tests assert.
* truncation: extracted text (including the "\\n" joiners) is capped at
  ``limit`` chars; the partial final block is KEPT, mirroring the
  reference's WriteLimitReached handling (TikaInstance.java:249-258).
* failures never raise: encrypted payloads yield (None, [], 'encrypted'),
  unparseable binaries (None, [], 'parse_error') — mirroring
  TikaDocParser.java:580-589 / TikaDocParserTest.java:1408-1416. A
  failed JSON *detection* (first-char sniff, text unparseable) instead
  degrades to plain-text extraction — content is never destroyed over a
  wrong sniff.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

MIME_PLAIN = "text/plain"
MIME_HTML = "text/html"
MIME_JSON = "application/json"
MIME_XML = "application/xml"
MIME_PDF = "application/pdf"
MIME_BINARY = "application/octet-stream"
MIME_PNG = "image/png"
MIME_JPEG = "image/jpeg"
MIME_GIF = "image/gif"
MIME_TIFF = "image/tiff"

# magic-byte prefixes for image-like payloads (T5): these are DISPATCHED
# to the needs_ocr branch, never mistaken for broken rows. Ordered before
# the NUL-binary check in sniff_mime (TIFF magic contains NUL).
IMAGE_MAGICS: tuple[tuple[str, str], ...] = (
    ("\x89PNG", MIME_PNG),
    ("\xff\xd8\xff", MIME_JPEG),
    ("GIF87a", MIME_GIF),
    ("GIF89a", MIME_GIF),
    ("II*\x00", MIME_TIFF),
    ("MM\x00*", MIME_TIFF),
)

SNIFF_WINDOW = 64  # magic-byte window, like real content sniffers


def sniff_mime(text: str | None) -> str:
    """MIME sniff on payload leading bytes (TikaInstance AutoDetectParser
    analog, TikaInstance.java:119-218). Must stay expressible as a SQL
    CASE (see functions/sniff.py) — keep rules prefix-based. Binary (NUL)
    detection looks only at the first SNIFF_WINDOW chars — magic bytes
    live at the front; scanning a 100KB payload for one sniff is wasted
    work at 10^12 turns."""
    if text is None or text == "":
        return MIME_PLAIN
    head = text[:SNIFF_WINDOW]
    for magic, mime in IMAGE_MAGICS:
        if head.startswith(magic):
            return mime
    if head.startswith("ENC:") or "\x00" in head:
        return MIME_BINARY
    # find first non-whitespace without copying the whole payload
    i = 0
    n = len(head)
    while i < n and head[i] in " \t\r\n\x0b\x0c":
        i += 1
    low = head[i : i + 16].lower()
    if low.startswith("<!doctype html") or low.startswith("<html"):
        return MIME_HTML
    if low.startswith("<?xml"):
        return MIME_XML
    if head.startswith("%PDF-"):
        return MIME_PDF
    if low[:1] in ("{", "["):
        return MIME_JSON
    return MIME_PLAIN


@dataclass
class ExtractResult:
    mime: str
    extracted: str | None
    spans: list[tuple[int, int]] = field(default_factory=list)
    error: str | None = None
    title: str | None = None  # T7 Meta.title analog (html <title> text)


def extract_image(text: str, mime: str) -> ExtractResult:
    """T5 OCR dispatch flag: image-like payloads are not broken rows —
    they need an OCR pass this engine does not run at 10^12-turn scale
    (the reference gates the Tesseract branch the same way,
    TikaInstance.java:151-207). error='needs_ocr' makes them countable in
    metrics, unlike the old behavior that collapsed them into
    'parse_error'."""
    return ExtractResult(mime, None, [], "needs_ocr")


def _assemble(source: str, runs: list[tuple[int, int]], limit: int) -> tuple[str, list[tuple[int, int]]]:
    """Join run slices with '\\n', truncating at ``limit`` extracted chars
    (joiners count; partial final run kept)."""
    parts: list[str] = []
    spans: list[tuple[int, int]] = []
    used = 0
    for start, end in runs:
        joiner = 1 if parts else 0
        avail = limit - used - joiner
        if avail <= 0:
            break
        if end - start > avail:
            end = start + avail
        parts.append(source[start:end])
        spans.append((start, end))
        used += joiner + (end - start)
    return "\n".join(parts), spans


def _trim_run(text: str, start: int, end: int) -> tuple[int, int]:
    while start < end and text[start].isspace():
        start += 1
    while end > start and text[end - 1].isspace():
        end -= 1
    return start, end


# --- HTML ------------------------------------------------------------------

# A '<' not opening a tag/markup construct is TEXT (HTML5 tokenizer
# behavior): 'a < b' / 'a <3' must not swallow following text as a
# pseudo-tag — a tag is '<' or '</' IMMEDIATELY followed by a letter.
_TOKEN_RE = re.compile(
    r"<!--.*?(?:-->|$)"
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|</?[a-zA-Z][^>]*>?"
    r"|<[!?][^>]*>?"
    r"|</[^>]*>?",
    re.DOTALL,
)

# Elements whose entire subtree is boilerplate-by-construction.
DROP_TAGS = frozenset(
    "script style noscript template head nav header footer aside form iframe svg button select option".split()
)
# Elements that terminate the current text block.
BLOCK_TAGS = frozenset(
    "p div article main section li ul ol dl dt dd h1 h2 h3 h4 h5 h6 blockquote pre "
    "table thead tbody tr td th body html figure figcaption br hr".split()
)
VOID_TAGS = frozenset("br hr img input meta link area base col embed source track wbr".split())

# Boilerpipe-style block classifier thresholds (link/text density).
LINK_DENSITY_DROP = 0.66
LINK_DENSITY_SHORT_DROP = 0.33
SHORT_BLOCK_WORDS = 5


# split-mode tokenizer: ONE re.split call yields the inter-tag text
# runs AND, per tag, the whole token (outer group) + the tag name
# (inner group) — no Match objects, whose span()/group() calls measured
# as expensive as the regex scan itself (~330ns/tag vs ~400ns/tag on
# the synthetic corpus; the split form is ~1.28x end-to-end on HTML).
# Offsets are reconstructed by accumulating segment lengths, so the
# verbatim-span invariant is untouched.
# A bare '<' followed by anything but a tag name or markup punctuation
# is TEXT, not a tag (HTML5: a tag open is '<'/'</' immediately +
# letter — 'a < b' keeps ' b', '</ x' is bogus markup not a close tag);
# comments/CDATA/<!doctype>/<?...> match nameless alternatives (None in
# the parts array).
_HTML_SPLIT_RE = re.compile(
    "("
    r"<!--.*?(?:-->|$)"
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|</?([a-zA-Z][a-zA-Z0-9-]*)[^>]*>?"
    r"|<[!?][^>]*>?"
    r"|</[^>]*>?"  # '</' + non-letter: bogus comment, consumed (HTML5)
    ")",
    re.DOTALL,
)

# Block-builder dispatch for the captured tag names; the sets stay the
# public tuning surface, the codes are just the hot-loop form.
# 1=block boundary, 2=title, 3=drop subtree, 4=anchor.
_TAG_BLOCK, _TAG_TITLE, _TAG_DROP, _TAG_ANCHOR = 1, 2, 3, 4
_HTML_ACTIONS: dict[str, int] = {
    **{t: _TAG_BLOCK for t in BLOCK_TAGS},
    "title": _TAG_TITLE,
    **{t: _TAG_DROP for t in DROP_TAGS},
    "a": _TAG_ANCHOR,
}


def _self_closes(tag: str, name_end: int) -> bool:
    """True when the '/>' ending ``tag`` (the whole '<...>' token) is a
    GENUINE self-closing marker: the char before the '/' must end the
    tag name, whitespace, or a quoted value — per the HTML5 tokenizer a
    '/' directly after an UNQUOTED attribute value is part of that value
    ('<script src=https://x/>' does NOT self-close; the body is script
    data until </script>, like browsers treat it). ``name_end`` is the
    offset just past the tag name within ``tag``."""
    seg = tag[name_end:-2]
    return (not seg) or seg[-1] in " \t\r\n\"'"


def extract_html(text: str, limit: int) -> ExtractResult:
    """DOM-tree text-density boilerplate strip (Boilerpipe/readability-style).

    Single left-to-right pass with a regex tag tokenizer (no DOM build —
    O(n), deterministic, stateless). Text runs are grouped into blocks at
    block-level tag boundaries; a block is dropped when it lives inside a
    DROP_TAGS subtree or its anchor-text (link) density marks it as
    navigation boilerplate. Kept runs become verbatim source spans.

    Reference behavioral model: Tika HtmlParser body-text extraction as
    asserted in tika/src/test/.../TikaDocParserTest.java:308-314, upgraded
    with density heuristics per the north_star spec.
    """
    drop_depth = 0
    nonhead_drop_depth = 0  # drop ancestors other than <head> (svg/nav/...)
    anchor_depth = 0
    in_title = False
    title: str | None = None
    # current block accumulator: list of (start, end, in_anchor)
    cur: list[tuple[int, int, bool]] = []
    blocks: list[list[tuple[int, int, bool]]] = []
    actions, void_tags = _HTML_ACTIONS, VOID_TAGS

    # parts = [text, tag, name, text, tag, name, ..., text]: stride 3,
    # leading text first. `name` is None for comments/CDATA/<!/<?/bogus.
    parts = _HTML_SPLIT_RE.split(text)
    npart = len(parts)
    pos = 0
    seg = parts[0]
    i = -2
    blocks_append = blocks.append
    cur_append = cur.append
    while True:
        if seg and not seg.isspace():  # ws-only runs trim to nothing anyway
            if in_title:
                # <title> text is METADATA only: captured as the document
                # title when not inside svg/nav/etc., never emitted as
                # content (even when the markup has no explicit <head>).
                # An unterminated <title> running to EOF captures nothing
                # (i == npart - 3 marks the trailing segment).
                if title is None and nonhead_drop_depth == 0 and i != npart - 3:
                    t = seg.strip()
                    if t:
                        title = t
            elif drop_depth == 0:
                s, e = _trim_run(text, pos, pos + len(seg))
                if e > s:
                    cur_append((s, e, anchor_depth > 0))
        pos += len(seg)
        i += 3
        if i >= npart:
            break
        tag = parts[i]
        name = parts[i + 1]
        seg = parts[i + 2]
        pos += len(tag)
        if name is None:
            continue  # comment / CDATA / <! / <? / stray markup
        act = actions.get(name)
        if act is None:
            if name.islower():
                continue  # inline tag (span/b/em/...): no block effect
            act = actions.get(name := name.lower())
            if act is None:
                continue
        if act == 1:  # block boundary — the overwhelmingly common case
            # (br/hr being void changes nothing — a boundary either way)
            if cur:
                blocks_append(cur)
                cur = []
                cur_append = cur.append
        elif act == 3:  # drop subtree
            closing = tag[1] == "/"
            # self-closing only matters for drop/anchor (lazy compute)
            if name in void_tags or (
                tag.endswith("/>") and _self_closes(tag, 1 + closing + len(name))
            ):
                continue
            drop_depth += -1 if closing else 1
            if drop_depth < 0:
                drop_depth = 0
            if name != "head":
                nonhead_drop_depth += -1 if closing else 1
                if nonhead_drop_depth < 0:
                    nonhead_drop_depth = 0
            if not closing and cur:
                blocks_append(cur)
                cur = []
                cur_append = cur.append
        elif act == 4:  # anchor
            if tag[1] == "/":
                if anchor_depth > 0:
                    anchor_depth -= 1
            elif not (tag.endswith("/>") and _self_closes(tag, 1 + len(name))):
                anchor_depth += 1
        else:  # act == 2: title
            in_title = tag[1] != "/"
    if pos < len(text) and drop_depth == 0 and not in_title:
        s, e = _trim_run(text, pos, len(text))
        if e > s:
            cur.append((s, e, anchor_depth > 0))
    if cur:
        blocks.append(cur)

    kept_runs: list[tuple[int, int]] = []
    for block in blocks:
        anchor = 0
        total = 0
        for s, e, a in block:
            total += e - s
            if a:
                anchor += e - s
        if total == 0:
            continue
        if anchor:  # only link-bearing blocks need the density classifier
            density = anchor / total
            if density > LINK_DENSITY_DROP:
                continue
            if density > LINK_DENSITY_SHORT_DROP:
                words = sum(len(text[s:e].split()) for s, e, _ in block)
                if words < SHORT_BLOCK_WORDS:
                    continue
        for s, e, _ in block:
            kept_runs.append((s, e))

    extracted, spans = _assemble(text, kept_runs, limit)
    return ExtractResult(MIME_HTML, extracted, spans, None, title)


# --- XML -------------------------------------------------------------------


def extract_xml(text: str, limit: int) -> ExtractResult:
    """XML text-node concatenation (XmlDocParser.java:44-82 analog).

    Trimmed non-empty text runs joined by '\\n'. Whitespace-only documents
    keep their first raw text run verbatim — mirrors the reference's
    `"   \\n"` strict-equality edge case (TikaDocParserTest.java:186).
    """
    raw_runs: list[tuple[int, int]] = []
    pos = 0
    for m in _TOKEN_RE.finditer(text):
        if m.start() > pos:
            raw_runs.append((pos, m.start()))
        pos = m.end()
    if pos < len(text):
        raw_runs.append((pos, len(text)))

    trimmed = []
    for s, e in raw_runs:
        ts, te = _trim_run(text, s, e)
        if te > ts:
            trimmed.append((ts, te))
    if not trimmed and raw_runs:
        s, e = raw_runs[0]
        extracted, spans = _assemble(text, [(s, e)], limit)
        return ExtractResult(MIME_XML, extracted, spans, None)
    extracted, spans = _assemble(text, trimmed, limit)
    return ExtractResult(MIME_XML, extracted, spans, None)


# --- PDF-like layout --------------------------------------------------------


def extract_pdfish(text: str, limit: int) -> ExtractResult:
    """Layout parse of the synthetic textual PDF-like format.

    Format: first line starts '%PDF-'; '%'-prefixed lines are directives
    (page markers '%%Page: N', comments); remaining lines are layout text
    in page/line order. Output = trimmed non-empty lines joined by '\\n'
    (page breaks normalize to the same separator), spans per line.
    Reference analog: PDFParser ordering semantics (TikaInstance.java:136-149).
    """
    runs: list[tuple[int, int]] = []
    pos = 0
    append = runs.append
    # one C-level split; offsets reconstructed from line lengths
    for line in text.split("\n"):
        end = pos + len(line)
        if line and not line.isspace() and not line.startswith("%"):
            s, e = _trim_run(text, pos, end)
            if e > s:
                append((s, e))
        pos = end + 1
    extracted, spans = _assemble(text, runs, limit)
    return ExtractResult(MIME_PDF, extracted, spans, None)


# --- JSON -------------------------------------------------------------------

# unrolled-loop string scan (Friedl): charset runs instead of a
# per-char alternation — measured 5x faster than `(?:[^"\\]|\\.)*`,
# same matches (disjoint alternatives ⇒ no backtracking ambiguity),
# and no capture group (only the span is consumed).
_JSON_STR_RE = re.compile(r'"[^"\\]*(?:\\.[^"\\]*)*"', re.DOTALL)


def extract_json(text: str, limit: int) -> ExtractResult:
    """JSON passthrough (json_support, FsParser.java:1319-1321,1494-1525).

    Extracted = string *values* (keys skipped) in document order, joined by
    '\\n'; spans are the raw (unescaped-source) extents of each value, so
    the verbatim-slice invariant holds even for escaped content. Parse
    failure degrades to plain-text extraction (the sniff was wrong, the
    content survives); never an exception.
    """
    try:
        json.loads(text)
    except Exception:
        # first-char sniff ('{'/'[') is not proof of JSON: log lines
        # ('[INFO] ...') and prose with braces must not lose their
        # content. Mirror Tika: a failed JSON detection degrades to
        # plain text (mime included — Tika would never claim JSON here).
        return extract_plain(text, limit)
    runs: list[tuple[int, int]] = []
    n = len(text)
    append = runs.append
    for m in _JSON_STR_RE.finditer(text):
        s, e = m.span()
        after = e
        while after < n and text[after] in " \t\r\n":
            after += 1
        if after < n and text[after] == ":":
            continue  # key, not value
        if e - 1 > s + 1:
            append((s + 1, e - 1))
    extracted, spans = _assemble(text, runs, limit)
    return ExtractResult(MIME_JSON, extracted, spans, None)


# --- plain / binary / empty --------------------------------------------------


def extract_plain(text: str, limit: int) -> ExtractResult:
    end = min(len(text), limit)
    spans = [(0, end)] if end > 0 else []
    return ExtractResult(MIME_PLAIN, text[:end], spans, None)


def extract_binary(text: str) -> ExtractResult:
    if text.startswith("ENC:"):
        # encrypted -> content null, record kept (TikaDocParser.java:580-589)
        return ExtractResult(MIME_BINARY, None, [], "encrypted")
    return ExtractResult(MIME_BINARY, None, [], "parse_error")


# --- raw metadata (T8) ---------------------------------------------------------

# quoted attribute values may contain '>' — consume quoted runs whole.
# The repetition is wrapped in an ATOMIC group (?>...): the alternation
# is ambiguous (quotes also match [^>]) and without atomicity a
# truncated '<meta "a" "a" ...' with no '>' backtracks exponentially —
# measured >10s at 24 quote pairs (ReDoS). Atomic = first greedy parse
# or nothing, which also keeps stray apostrophes in unquoted values
# tolerated ([^>] still eats them). A stray quote can still mis-scope a
# tag past its '>' (pre-existing, inherent without real tokenization).
_META_TAG_RE = re.compile(
    r"<meta\s(?>(?:\"[^\"]*\"|'[^']*'|[^>])*)>", re.IGNORECASE | re.DOTALL
)
# (?:^|[\s\"']) start guard: \b alone lets 'data-name=' match (hyphen is
# a word boundary) and lets a name= inside another attribute's value match
_ATTR_NAME_RE = re.compile(r"(?:^|[\s\"'])name\s*=\s*[\"']([^\"']+)[\"']", re.IGNORECASE)
_ATTR_CONTENT_RE = re.compile(
    r"(?:^|[\s\"'])content\s*=\s*[\"']([^\"']*)[\"']", re.IGNORECASE
)


def extract_raw_meta(
    text: str, mime: str, parsed: object | None = None
) -> dict[str, str] | None:
    """T8 raw metadata capture (TikaDocParser.java:443-463): html <meta>
    name/content pairs (either attribute order); json top-level scalar
    fields. Keys get dots replaced by colons (reference issue #256
    parity). Returns None when the format carries no metadata — callers
    gate this behind settings.raw_metadata so the hot path never pays.
    ``parsed``: an already-json.loads'd value for JSON payloads — the
    batch builder passes it so raw+object extraction share ONE parse."""
    try:
        if mime == MIME_HTML:
            pairs: dict[str, str] = {}
            for tag in _META_TAG_RE.finditer(text):
                t = tag.group(0)
                nm = _ATTR_NAME_RE.search(t)
                ct = _ATTR_CONTENT_RE.search(t)
                if nm and ct:
                    pairs[nm.group(1).replace(".", ":")] = ct.group(1)
            return pairs or None
        if mime == MIME_JSON:
            obj = parsed if parsed is not None else json.loads(text)
            if isinstance(obj, dict):
                out = {
                    # JSON-canonical scalar serialization ('true' not 'True')
                    str(k).replace(".", ":"): v if isinstance(v, str) else json.dumps(v)
                    for k, v in obj.items()
                    if isinstance(v, (str, int, float, bool))
                }
                return out or None
    except Exception:
        return None
    return None


# --- parsed object (T13/T14, Doc.object analog) --------------------------------


def extract_object(
    text: str, mime: str, parsed: object | None = None
) -> dict[str, str] | None:
    """Parsed-object column: the Doc.object analog
    (beans/Doc.java:34-35; JSON: core/FsParser.java:1494-1525; XML->JSON:
    tika/XmlDocParser.java:44-82).

    The reference indexes the parsed payload as a nested
    Map<String,Object>; this engine's column type is a FLAT
    map<string,string>, so nesting flattens to dotted paths:

    * JSON: {"a": {"b": 1}, "c": [true, "x"]} ->
      {"a.b": "1", "c.0": "true", "c.1": "x"} — scalars serialize
      JSON-canonically ('true', '1.5', bare strings verbatim).
    * XML: element paths; text nodes keyed '$' (the XmlDocParser
      text-node-as-$ convention), attributes as '@name':
      <doc id="7"><body>hi</body></doc> ->
      {"doc.@id": "7", "doc.body.$": "hi"}.

    Repeated keys/elements keep the LAST occurrence (Jackson map
    semantics). Unparseable payloads -> None (text extraction already
    recorded the row's health; the object column is best-effort).
    Callers gate this behind settings.parse_object so the hot path never
    pays for it.
    """
    try:
        out: dict[str, str] = {}
        if mime == MIME_JSON:
            def walk_json(prefix: str, v) -> None:
                if isinstance(v, dict):
                    for k, vv in v.items():
                        walk_json(f"{prefix}.{k}" if prefix else str(k), vv)
                elif isinstance(v, list):
                    for i, vv in enumerate(v):
                        walk_json(f"{prefix}.{i}" if prefix else str(i), vv)
                else:
                    out[prefix or "$"] = v if isinstance(v, str) else json.dumps(v)

            walk_json("", parsed if parsed is not None else json.loads(text))
            return out or None
        if mime == MIME_XML:
            import xml.etree.ElementTree as ET

            def walk_xml(prefix: str, el) -> None:
                tag = el.tag.rsplit("}", 1)[-1]  # strip namespace uri
                path = f"{prefix}.{tag}" if prefix else tag
                for k, v in el.attrib.items():
                    out[f"{path}.@{k.rsplit('}', 1)[-1]}"] = v
                # mixed content: an element's text nodes are its leading
                # .text plus each child's .tail ('<doc>a<b/>z</doc>' has
                # text nodes 'a' and 'z') — join what exists so tail
                # text is never silently dropped
                parts = [(el.text or "").strip()]
                parts.extend((c.tail or "").strip() for c in el)
                t = " ".join(p for p in parts if p)
                if t:
                    out[f"{path}.$"] = t
                for child in el:
                    walk_xml(path, child)

            walk_xml("", ET.fromstring(text))
            return out or None
    except Exception:
        return None
    return None


# --- dispatch ----------------------------------------------------------------


def extract(text: str | None, limit: int = 100_000) -> ExtractResult:
    """MIME-sniffed dispatch -> per-format extraction (T1 of SURVEY §2.4).

    Total function: never raises on any input string.
    """
    if text is None:
        return ExtractResult(MIME_PLAIN, None, [], None)
    if text == "":
        # zero-byte -> empty content is OK (TikaInstance.java:260-263)
        return ExtractResult(MIME_PLAIN, "", [], None)
    mime = sniff_mime(text)
    try:
        if mime.startswith("image/"):
            return extract_image(text, mime)
        if mime == MIME_BINARY:
            return extract_binary(text)
        if mime == MIME_HTML:
            return extract_html(text, limit)
        if mime == MIME_XML:
            return extract_xml(text, limit)
        if mime == MIME_PDF:
            return extract_pdfish(text, limit)
        if mime == MIME_JSON:
            return extract_json(text, limit)
        return extract_plain(text, limit)
    except Exception:
        # continue_on_error: any unexpected parser failure nulls the content
        # but keeps the record (TikaDocParserTest.java:1408-1416).
        return ExtractResult(mime, None, [], "parse_error")
