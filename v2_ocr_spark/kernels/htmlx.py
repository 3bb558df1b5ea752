"""E15 — HTML main-content extraction (boilerplate strip + DOM heuristics).

The north-star pipeline generalizes the reference's per-page cleanup
(markdown strip, mistral.ts:208-219; block reassembly,
microsoft.ts:56-84) to HTML payloads: Readability-style text-density /
link-density scoring over a FLATTENED DOM-NODE TABLE, block-level
classification into content vs boilerplate, and span reassembly in
document order.

The kernel is split in two stages so the exact same semantics run in
two places:

  1. ``flatten_html`` — parse (stdlib ``html.parser``: deterministic
     and dependency-free; an lxml fast path would be a drop-in here but
     is deliberately NOT auto-selected — parser choice must not change
     bytes between environments) into a flat list of block nodes:
     ``(block_id, tag, depth, boiler, text, n_chars, link_chars,
     n_inline)``.  This is the only stage that needs Python; inside
     Spark it runs batched per Arrow chunk (mapInArrow), never as a
     per-row Python UDF round-trip.
  2. classification + reassembly — pure integer arithmetic over the
     node table (``is_content_mask`` below).  ``operators/dom.py``
     expresses the identical rule as JVM-side Column expressions over
     the exploded node table, and tests assert the two routes agree
     byte-for-byte.

Classification rule (all integer comparisons — float-free so pandas,
Spark SQL and DuckDB agree exactly):

    keep = not boiler and n_chars > 0 and (
        (tag in HEADINGS   and link_chars == 0)
        or (n_chars >= 25  and 3*link_chars <= n_chars)        # ld <= 1/3
        or (tag in CONTENT_TAGS and n_chars >= 8
            and 5*link_chars <= n_chars)                        # ld <= 1/5
    )

Kept blocks join with "\\n\\n" in document (block_id) order; one span
per kept block, kind = the block's tag.

Reference parity: this is the engine's HTML analog of the reference's
region->line->word reassembly + cleanup (same shape: parse, score,
keep, reorder, join) — see SURVEY.md §0 item 1.
"""

from __future__ import annotations

import re
from html import unescape as _unescape
from html.parser import HTMLParser

import pandas as pd

# Subtrees whose text never contributes (non-content by construction).
SKIP_TAGS = frozenset(
    "script style noscript template head title svg math iframe object "
    "embed applet".split()
)
# Subtrees that are structural boilerplate: text is measured (the node
# table keeps the evidence) but classified non-content.
BOILER_TAGS = frozenset(
    "nav header footer aside form button select option datalist label "
    "menu dialog".split()
)
# Block-level boundaries: opening or closing one finalizes the current
# text block. br/hr are void boundaries.
BLOCK_TAGS = frozenset(
    "address article aside blockquote body caption dd details div dl dt "
    "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hr "
    "html li main menu nav ol p pre section summary table tbody td "
    "tfoot th thead tr ul br".split()
)
VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta source track wbr".split()
)
HEADING_TAGS = frozenset(["h1", "h2", "h3", "h4", "h5", "h6"])
# Tags whose short text is still content (the <p>-rule): the Readability
# heuristic of trusting semantic content containers at lower thresholds.
CONTENT_TAGS = frozenset(
    "p pre blockquote li td th figcaption caption dd dt summary".split()
)

_WS = re.compile(r"\s+")


def _collapse(s: str) -> str:
    return _WS.sub(" ", s).strip()


class _Flattener(HTMLParser):
    """One streaming pass -> flat block-node list (document order)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: list[str] = []
        self.nodes: list[dict] = []
        # current-block accumulators
        self._chunks: list[str] = []
        self._link_chars = 0
        self._n_inline = 0
        self._tag = ""
        self._depth = 0
        self._boiler = False
        self._open = False

    # -- block lifecycle ------------------------------------------------
    def _enclosing_block_tag(self) -> str:
        for t in reversed(self.stack):
            if t in BLOCK_TAGS:
                return t
        return "body"

    def _start_block(self) -> None:
        self._chunks = []
        self._link_chars = 0
        self._n_inline = 0
        self._tag = self._enclosing_block_tag()
        self._depth = len(self.stack)
        self._boiler = any(t in BOILER_TAGS for t in self.stack)
        self._open = True

    def _finalize(self) -> None:
        if not self._open:
            return
        text = _collapse("".join(self._chunks))
        n = len(text)
        self.nodes.append(
            {
                "block_id": len(self.nodes),
                "tag": self._tag,
                "depth": self._depth,
                "boiler": self._boiler,
                "text": text,
                "n_chars": n,
                "link_chars": min(self._link_chars, n),
                "n_inline": self._n_inline,
            }
        )
        self._open = False

    # -- state derived from the stack ----------------------------------
    def _in_skip(self) -> bool:
        return any(t in SKIP_TAGS for t in self.stack)

    def _in_link(self) -> bool:
        return "a" in self.stack

    # -- parser events --------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if tag in BLOCK_TAGS:
            self._finalize()
        elif self._open and not self._in_skip():
            self._n_inline += 1
        if tag not in VOID_TAGS:
            self.stack.append(tag)

    def handle_startendtag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if tag in BLOCK_TAGS:
            self._finalize()
        elif self._open and not self._in_skip():
            self._n_inline += 1

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in BLOCK_TAGS:
            self._finalize()
        if tag in self.stack:
            # implied-close recovery: pop to (and including) the match
            while self.stack:
                if self.stack.pop() == tag:
                    break

    def handle_data(self, data: str) -> None:
        if self._in_skip():
            return
        if not self._open and not data.strip():
            return  # whitespace between blocks never opens one
        if not self._open:
            self._start_block()
        self._chunks.append(data)
        if self._in_link():
            self._link_chars += len(_collapse(data))

    def close(self) -> None:  # noqa: D102
        super().close()
        self._finalize()


def flatten_html_ref(text: str | None) -> list[dict]:
    """Reference flatten: stdlib html.parser event stream.

    This is the semantic definition; the production ``flatten_html``
    below is a regex-tokenizer fast path (~4x) pinned to it by
    differential tests (test_html_pdf_kernels.py) over goldens,
    fixtures and adversarial markup.
    """
    if not text:
        return []
    p = _Flattener()
    try:
        p.feed(text)
        p.close()
    except Exception:
        # html.parser is robust, but guarantee totality regardless
        p._finalize()
    return p.nodes


# -- fast path --------------------------------------------------------------
# One regex pass over the document; alternatives ordered to mirror
# html.parser's dispatch: comment, CDATA section, declaration, PI,
# end tag, start tag (quote-aware so '>' inside attribute values does
# not end the tag), text run (ends at '<'), stray '<'.
_TOKEN = re.compile(
    # comment / CDATA closers are html.parser's loose forms
    # (markupbase _commentclose '--\s*>' and _msmarkedsectionclose-style
    # ']\s*]\s*>'), not just the strict literals
    r"<!--.*?(?:--\s*>|$)"
    r"|<!\[CDATA\[.*?(?:\]\s*\]\s*>|$)"
    # non-CDATA marked section: silent to ']>' (or swallow to EOF,
    # matching html.parser's incomplete-section behavior)
    r"|<!\[.*?(?:\]\s*>|$)"
    # declarations and bogus '<!...' constructs end at the FIRST '>'
    # (html.parser is not quote-aware here — verified: <!DOCTYPE x "a>b">
    # ends at the '>' inside the quotes), consumed silently
    r"|<![^>]*(?:>|$)"
    r"|<\?[^>]*(?:>|$)"
    r"|</>"
    # end tags mirror html.parser's TWO-tier recognition exactly:
    # strict endtagfind ('</' + optional ws + name + optional ws + '>')
    # first, then the tolerant form — which per tagfind_tolerant allows
    # trailing junk but NO leading whitespace ('</ div x>' is a bogus
    # comment in the reference, not an end tag; a single loose
    # alternative accepting both at once popped the stack where the
    # reference leaves the element open, flipping link-density
    # classification downstream)
    r"|</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*(?:>|$)"
    r"|</([a-zA-Z][^\t\n\r\f />]*)[^>]*(?:>|$)"
    # '</' + anything else = bogus comment (w3c end-tag-open-state):
    # html.parser consumes silently to the next '>'
    r"|</[^>]*(?:>|$)"
    # attrs: quoted atoms first (protects '>' inside quotes), then any
    # other non-'>' char, then a STRAY quote (html.parser's tolerant
    # attr parsing accepts lone quotes in names/values). The alternation
    # is ATOMIC ((?>...), Python 3.11+): each atom's choice commits, so
    # a failed overall match (tag candidate with quotes and no '>')
    # fails in linear time — the backtrackable form explored
    # exponentially many quote tilings (~2.6x per two quotes; a
    # 123-byte junk payload could spin an executor task for hours).
    # Success-path semantics are unchanged: the engine's first-found
    # match already committed to the leftmost alternative at each
    # position; atomicity only removes the retry-on-failure paths.
    r"|<([a-zA-Z][^\t\n\r\f />]*)((?>\"[^\"]*\"|'[^']*'|[^>\"']|[\"'])*?)(/?)>"
    r"|[^<]+"
    r"|<",
    re.S,
)
# html.parser CDATA_CONTENT_ELEMENTS: raw text until a STRICT closing
# tag (endtagfind: optional ws + name + optional ws + '>'); looser
# closers like '</scriptx>' or '</script foo>' keep the reference in
# rawtext mode (elem-mismatch / endtagfind-miss both handle_data), so
# the fast path must not close on them either
_RAWTEXT_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}


def flatten_html(text: str | None) -> list[dict]:
    """HTML -> flat block-node records in document order (fast path).

    Same node semantics as ``flatten_html_ref``; malformed input is
    tolerated. Total function: never raises on string input.
    """
    if not text:
        return []

    stack: list[str] = []
    nodes: list[dict] = []
    chunks: list[str] = []
    # membership counters replace O(depth) stack scans per token
    depths = {"skip": 0, "boiler": 0, "a": 0}
    acc = {"link": 0, "inline": 0, "tag": "", "depth": 0,
           "boiler": False, "open": False}

    def finalize() -> None:
        if not acc["open"]:
            return
        btext = _collapse("".join(chunks))
        n = len(btext)
        nodes.append(
            {
                "block_id": len(nodes),
                "tag": acc["tag"],
                "depth": acc["depth"],
                "boiler": acc["boiler"],
                "text": btext,
                "n_chars": n,
                "link_chars": min(acc["link"], n),
                "n_inline": acc["inline"],
            }
        )
        acc["open"] = False

    def on_data(data: str) -> None:
        if depths["skip"]:
            return
        if not acc["open"]:
            if not data.strip():
                return
            chunks.clear()
            acc["link"] = 0
            acc["inline"] = 0
            acc["tag"] = next(
                (t for t in reversed(stack) if t in BLOCK_TAGS), "body"
            )
            acc["depth"] = len(stack)
            acc["boiler"] = depths["boiler"] > 0
            acc["open"] = True
        chunks.append(data)
        if depths["a"]:
            acc["link"] += len(_collapse(data))

    def on_start(tag: str, self_closing: bool) -> None:
        if tag in BLOCK_TAGS:
            finalize()
        elif acc["open"] and not depths["skip"]:
            acc["inline"] += 1
        if not self_closing and tag not in VOID_TAGS:
            stack.append(tag)
            if tag in SKIP_TAGS:
                depths["skip"] += 1
            if tag in BOILER_TAGS:
                depths["boiler"] += 1
            if tag == "a":
                depths["a"] += 1

    def on_end(tag: str) -> None:
        if tag in BLOCK_TAGS:
            finalize()
        if tag in stack:
            while stack:
                popped = stack.pop()
                if popped in SKIP_TAGS:
                    depths["skip"] -= 1
                if popped in BOILER_TAGS:
                    depths["boiler"] -= 1
                if popped == "a":
                    depths["a"] -= 1
                if popped == tag:
                    break

    pos, size = 0, len(text)
    match = _TOKEN.match
    while pos < size:
        m = match(text, pos)
        if m is None:  # pragma: no cover - alternatives are exhaustive
            on_data(text[pos])
            pos += 1
            continue
        start, pos = pos, m.end()
        end_strict, end_tol, start_tag, _attrs, slash = m.group(
            1, 2, 3, 4, 5
        )
        end_tag = end_strict if end_strict is not None else end_tol
        if start_tag is not None:  # start tag
            tag = start_tag.lower()
            on_start(tag, bool(slash))
            close_re = _RAWTEXT_CLOSE.get(tag)
            if close_re is not None and not slash:
                # raw-text content: no tag/charref parsing inside;
                # content is data (ignored: script/style are SKIP)
                mc = close_re.search(text, pos)
                if mc is None:
                    break  # unterminated: rest is raw data, ignored
                on_end(tag)
                pos = mc.end()
        elif end_tag is not None:  # end tag
            on_end(end_tag.lower())
        elif text[start] != "<":
            # text run (ends at '<'); charrefs decoded like
            # convert_charrefs=True does per run
            tok = text[start:pos]
            on_data(_unescape(tok) if "&" in tok else tok)
        elif pos - start == 1:  # stray '<'
            on_data("<")
        # comments / CDATA sections / declarations / PIs: no events
    finalize()
    return nodes


def is_content(tag: str, boiler: bool, n_chars: int, link_chars: int) -> bool:
    """The block-classification rule (integer-exact; see module doc)."""
    if boiler or n_chars <= 0:
        return False
    if tag in HEADING_TAGS and link_chars == 0:
        return True
    if n_chars >= 25 and 3 * link_chars <= n_chars:
        return True
    return tag in CONTENT_TAGS and n_chars >= 8 and 5 * link_chars <= n_chars


def is_content_mask(nodes: pd.DataFrame) -> pd.Series:
    """Vectorized ``is_content`` over a node-table DataFrame."""
    tag = nodes["tag"]
    n = nodes["n_chars"]
    lk = nodes["link_chars"]
    rule = (tag.isin(HEADING_TAGS) & (lk == 0)) | (
        (n >= 25) & (3 * lk <= n)
    ) | (tag.isin(CONTENT_TAGS) & (n >= 8) & (5 * lk <= n))
    return (~nodes["boiler"]) & (n > 0) & rule


def assemble_content(nodes: list[dict]) -> tuple[str, list[tuple[int, int, str]]]:
    """Kept blocks in block_id order, joined "\\n\\n"; one span each."""
    kept = [
        nd
        for nd in nodes
        if is_content(nd["tag"], nd["boiler"], nd["n_chars"], nd["link_chars"])
    ]
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for nd in kept:
        end = pos + nd["n_chars"]
        spans.append((pos, end, nd["tag"]))
        pos = end + 2
    return "\n\n".join(nd["text"] for nd in kept), spans


def extract_html_counted(
    text: str | None,
) -> tuple[str, list[tuple[int, int, str]], int]:
    """Scalar E15 kernel: HTML -> (main-content text, block spans,
    nodes_seen). nodes_seen (DOM blocks inspected) feeds the north
    rule's extraction metrics: dropped = seen - kept; kernels without
    a notion of dropped blocks return 2-tuples and the extraction pass
    defaults nodes_seen to the kept-span count."""
    nodes = flatten_html(text)
    return (*assemble_content(nodes), len(nodes))


def extract_html(text: str | None) -> tuple[str, list[tuple[int, int, str]]]:
    """(text, block spans) of the E15 kernel, without the node count."""
    return extract_html_counted(text)[:2]
