"""Text normalization — the byte-identical anchor functions.

The engine's per-row invariant (BASELINE.json input_hint) is that extracted
text is byte-identical per url to the reference extractor. We guarantee it
*by construction*: the pure-Python functions below are the single source of
truth, called both by the pure-Python oracle in tests and by the Spark
plan's one Python pass (operators.tagging._sentence_pass). No second
implementation exists.

Reference semantics:
  - strip + html.unescape of each raw line  (co_training.py:60-61, utils.py:145-146)
  - punctuation/symbol strip before tagging: re.sub('[^\\w\\s]', '', text)
    (predict.py:81)
  - whitespace tokenization (' '.join / .split)  (co_training.py:266-267)
"""

from __future__ import annotations

import html as _html
import re
from html.parser import HTMLParser

from pyspark.sql import functions as F

_PUNCT_RE = re.compile(r"[^\w\s]")
# Block-level elements that imply a line break in extracted text.
_BLOCK_TAGS = {
    "p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "tr", "table", "section", "article", "header", "footer", "blockquote",
}
_SKIP_TAGS = {"script", "style", "noscript", "template"}
_WS_RE = re.compile(r"[ \t\r\f\v]+")


def normalize_line(line: str) -> str:
    """strip + unescape, exactly as the reference preps unlabeled lines."""
    return _html.unescape(line.strip())


def strip_punct(text: str) -> str:
    """Pre-tagging normalization (predict.py:81)."""
    return _PUNCT_RE.sub("", text)


def tokenize(text: str) -> list[str]:
    """Whitespace tokenization; '' -> [] (str.split with no args collapses runs)."""
    return text.split()


class _TextExtractor(HTMLParser):
    """stdlib HTML -> text. Deterministic, dependency-free.

    Emits text nodes (entity-unescaped by HTMLParser with convert_charrefs),
    newline at block boundaries, collapses intra-line whitespace.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag in _BLOCK_TAGS:
            self.parts.append("\n")

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1
        elif tag in _BLOCK_TAGS:
            self.parts.append("\n")

    def handle_data(self, data):
        if self._skip_depth == 0:
            self.parts.append(data)


# Fast-path tag scanner. A match is a plain start/end tag with a strict
# name and attrs that cannot hide a '>' (see _FAST_ATTRS_OK). Anything
# else (comments, PIs, CDATA, '<' in data, exotic tag names, unclosed
# quotes) leaves a '<' behind or fails validation and routes the whole
# document to the stdlib parser.
_FAST_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[\t\n\r\f ][^<>]*)?)/?>")
# attrs must be the WELL-FORMED subset — `name`, `name="v"`, `name='v'`
# or `name=bare` runs — on which HTMLParser's tolerant grammar provably
# produces the same start/end events. Everything even slightly weird
# (quotes glued to bare chars, '=' or '/' inside a bare value, a quote
# opening anywhere but right after '=') fails the fullmatch and routes
# the whole document to the stdlib parser: 3.11's tolerant attr scan
# either swallows such junk into values (shifting the tag end) or
# rejects the tag wholesale and emits it as literal data — both
# diverging from any simple scanner. Bare values exclude '/' so a
# trailing '/' can never be value-glue on a path that passes.
_FAST_ATTRS_OK = re.compile(
    r"(?:[\t\n\r\f ]+[a-zA-Z_:][-a-zA-Z0-9_:.]*"
    r"(?:[\t\n\r\f ]*=[\t\n\r\f ]*"
    r"(?:\"[^\"<>]*\"|'[^'<>]*'|[^\t\n\r\f <>\"'`=/]+))?"
    r")*[\t\n\r\f ]*"
)


# HTMLParser's CDATA_CONTENT_ELEMENTS: inside these, NOTHING is parsed
# until the matching end tag; _SKIP_TAGS minus these (noscript, template)
# parse children normally and only suppress text via the skip depth.
_CDATA_TAGS = {"script", "style"}
_CDATA_END = {
    t: (re.compile(rf"</\s*{t}", re.I), re.compile(rf"</\s*{t}\s*>", re.I))
    for t in _CDATA_TAGS
}


def _extract_fast(html_doc: str) -> str | None:
    """Tag-scanner twin of _TextExtractor for the well-formed common case.

    Returns None whenever equivalence with the stdlib parser is not
    PROVABLE from local structure; the caller then runs _TextExtractor.
    Per-data-run unescape mirrors HTMLParser.goahead's
    `handle_data(unescape(rawdata[i:j]))` exactly (convert_charrefs
    processes each run between tags independently, so unescaping across
    concatenated runs would differ — e.g. 'a&am' + '<span>' + 'p;b').
    script/style bodies are skipped to the first `</\\s*elem` — exactly
    HTMLParser's cdata `interesting` pattern — provided that match is a
    clean end tag. Equivalence is pinned by the hypothesis cross-path
    property test and the adversarial fixture list.
    """
    parts: list[str] = []
    skip_depth = 0
    pos = 0
    n = len(html_doc)
    while pos < n:
        m = _FAST_TAG_RE.search(html_doc, pos)
        data = html_doc[pos : m.start()] if m else html_doc[pos:]
        if "<" in data:
            return None
        if data and skip_depth == 0:
            parts.append(_html.unescape(data) if "&" in data else data)
        if m is None:
            break
        name = m.group(2).lower()
        closing = m.group(1) == "/"
        attrs = m.group(3)
        startend = False
        if not closing and m.group(0).endswith("/>"):
            if attrs.endswith("/"):
                # the greedy attrs capture ate the slash: HTMLParser only
                # treats it as self-closing when it CANNOT glue to a bare
                # attr value — i.e. after whitespace, a closing quote, or
                # nothing; after a bare char (src=x.js/>) the tolerant
                # scan swallows it into the value and the tag is a plain
                # start tag. Not provable locally -> stdlib parser.
                attrs = attrs[:-1]
                if attrs and attrs[-1] not in "\t\n\r\f \"'":
                    return None
            startend = True
        if closing:
            # an end tag carrying anything but whitespace takes
            # HTMLParser's bogus-endtag paths; not worth proving
            if attrs.strip():
                return None
        elif not _FAST_ATTRS_OK.fullmatch(attrs):
            return None
        if closing:
            if name in _SKIP_TAGS and skip_depth > 0:
                skip_depth -= 1
            elif name in _BLOCK_TAGS:
                parts.append("\n")
        elif name in _CDATA_TAGS and not startend:
            # cdata mode: nothing inside is a tag; ends at the FIRST
            # `</\s*elem` (HTMLParser's `interesting` pattern). Only a
            # clean `</elem\s*>` there is provably equivalent.
            interesting, endtag = _CDATA_END[name]
            e = interesting.search(html_doc, m.end())
            if e is None:
                return None  # EOF inside cdata: parser emits the tail as data
            full = endtag.match(html_doc, e.start())
            if full is None:
                return None
            if name in _BLOCK_TAGS:  # not today, but keep the twin exact
                parts.append("\n\n")
            pos = full.end()
            continue
        else:
            if name in _SKIP_TAGS:
                # <noscript>/<template> (or self-closed <script/>):
                # startend closes immediately, otherwise open skip region
                if not startend:
                    skip_depth += 1
            elif name in _BLOCK_TAGS:
                parts.append("\n\n" if startend else "\n")
        pos = m.end()
    return "".join(parts)


def extract_text(html_doc: str | bytes) -> str:
    """HTML -> plain text. THE byte-identical function.

    Pipeline: parse (entities unescaped), block tags -> newlines, collapse
    horizontal whitespace, strip each line, drop empty lines, join with \\n.
    The fast scanner handles the well-formed common case (~3x less
    allocation than HTMLParser's event machinery — the tagging worker's
    8->32 scaling is allocation-bound); _TextExtractor remains the
    semantic definition and takes every document the scanner cannot
    prove equivalent.
    """
    if html_doc is None:
        # null html rows exist by design (source parse_error rows from
        # jsonl/warc PERMISSIVE modes); the fused workers must treat
        # them as empty documents, not die on len(None)
        return ""
    if isinstance(html_doc, (bytes, bytearray)):
        html_doc = html_doc.decode("utf-8", errors="replace")
    raw = _extract_fast(html_doc)
    if raw is None:
        parser = _TextExtractor()
        parser.feed(html_doc)
        parser.close()
        raw = "".join(parser.parts)
    lines = []
    for line in raw.split("\n"):
        line = _WS_RE.sub(" ", line).strip()
        if line:
            lines.append(line)
    return "\n".join(lines)


def split_sentences(text: str) -> list[str]:
    """Sentence segmentation on [?.!] boundaries, keep >0-token sentences.

    Mirrors the reference's OpenSubtitles segmentation rule
    (unlabel_generator.py:27-38): split on ? . !, whitespace-tokenize,
    drop empties. The >10-token floor there is a corpus-specific filter,
    exposed separately as a predicate (operators.selection.min_tokens).
    """
    if text is None:
        return []  # null-text rows (source parse errors) = no sentences
    out = []
    for frag in re.split(r"[?.!]", text.replace("\n", " ")):
        frag = _WS_RE.sub(" ", frag).strip()
        if frag:
            out.append(frag)
    return out


def strip_punct_col(col):
    """predict.py:81 as a JVM-side expression (no Python needed).

    Java's \\w/\\s differ from Python's even with (?U), so the class is
    spelled out in Unicode categories (divergences found by the
    hypothesis cross-engine property test):
      - Python \\w = alphanumeric-or-underscore = categories L*, Nd, Nl,
        No plus '_'. Java (?U)\\w uses \\p{Digit}=Nd only (drops
        superscripts etc.) and ADDS combining marks Mn/Mc/Me that Python
        does not treat as word chars.
      - Python \\s = Unicode White_Space PLUS the information separators
        U+001C-001F, which Java's \\s (White_Space property) excludes.

    KNOWN LIMIT — Unicode VERSION skew, not category spelling: Python
    3.11 ships Unicode 14 tables, Java 17 ships Unicode 13, so a
    codepoint ASSIGNED in 14 (e.g. U+16A70 TANGSA LETTER OZ) is a word
    char to Python but unassigned (Cn -> stripped) to the JVM. No JVM
    regex can close this; the hot path uses the pure-Python
    strip_punct inside the Arrow workers, so engine semantics follow
    Python — this twin is exact for every codepoint the JVM's Unicode
    version knows. The property test generates from stable codepoints.
    """
    return F.regexp_replace(
        col, "(?U)[^\\p{L}\\p{Nd}\\p{Nl}\\p{No}_\\s\\x1c-\\x1f]", ""
    )
