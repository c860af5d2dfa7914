"""HTML tag scanner: the one event source for ``kernels.html._Tokenizer``.

It replaces stdlib ``html.parser``'s ``goahead`` loop, where profiling
once found ~75% of per-document time (``goahead``/``parse_starttag``/
``updatepos`` dispatch, not our handlers). This scanner walks the text
with a single compiled regex (C-speed search), handles CDATA containers
(script/style — raw text until the literal close tag, matching
html.parser's semantics) and comments, and calls the tokenizer's
``handle_*`` methods with html.parser's event signatures. The stdlib
parser survives only as the test-side reference: ``stdlib_tokenize`` in
``tests/test_html_fast.py`` drives the same handlers from an
``HTMLParser``, and the differential tests require equal node columns.

The reference's analogous move is ``@tf.function`` graph compilation of
its eager ops (``/root/reference/Module/DetectBackbone.py:21-23``): same
computation, dispatch overhead removed.

Known, deliberate divergence from html.parser: markup left UNTERMINATED at
EOF (a ``<!--`` comment or ``<![CDATA[`` with no close) extends to the end
of the document and is dropped — the HTML5 parsing-spec behavior — whereas
html.parser's close() flushes the partial markup as text data. Truncated
crawl payloads therefore lose a trailing partial comment rather than
emitting comment markup as content text; the differential test scopes its
guarantee to terminated documents accordingly.
"""

from __future__ import annotations

import html as _htmlmod
import re

# One pass over the document: comments, declarations, close tags, open tags.
_TAG_RE = re.compile(
    r"<(?:"
    r"!--.*?(?:-->|$)"  # comment (unterminated swallows rest)
    r"|!\[CDATA\[.*?(?:\]\]>|$)"  # CDATA section
    r"|![^>]*>?"  # <!doctype ...>
    r"|\?[^>]*>?"  # processing instruction
    r"|/\s*(?P<close>[a-zA-Z][a-zA-Z0-9:_.-]*)[^>]*(?:>|$)"
    r"|(?P<open>[a-zA-Z][a-zA-Z0-9:_.-]*)(?P<attrs>(?:\"[^\"]*\"|'[^']*'|[^>])*?)(?P<selfclose>/?)(?:>|$)"
    r")",
    re.DOTALL,
)

# The tokenizer consumes class/id (chrome patterns), role (ARIA
# landmarks), style + hidden + aria-hidden (invisibility). The lookbehind
# rejects hyphen/word prefixes so data-class / item-id / data-hidden and
# the like are NOT misread (html.parser reports them verbatim and the
# tokenizer ignores them); the lookahead likewise rejects name extensions
# (hidden-x). The value is optional so the bare boolean ``hidden``
# attribute is reported with a None value, matching html.parser.
_ATTR_RE = re.compile(
    r"""(?<![\w-])(class|id|role|style|aria-hidden|hidden)(?![\w-])"""
    r"""(?:\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s"'>]+)))?""",
    re.IGNORECASE,
)
# fast path for the overwhelmingly common case: only class/id present
# (value required — unlike ``hidden``, they are never bare booleans)
_CLASSID_RE = re.compile(
    r"""(?<![\w-])(class|id)(?![\w-])\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s"'>]+))""",
    re.IGNORECASE,
)

# raw-text containers: content is NOT markup until the literal close tag.
# html.parser's CDATA_CONTENT_ELEMENTS is exactly (script, style) — keep in
# lockstep so the differential test holds.
_CDATA_TAGS = ("script", "style")
_CDATA_CLOSE = {
    t: re.compile(rf"</\s*{t}(?:\s[^>]*)?>", re.IGNORECASE) for t in _CDATA_TAGS
}


def _attrs_of(attr_str: str) -> list[tuple[str, str | None]]:
    if not attr_str:
        return []
    low = attr_str.lower()  # CLASS=/ID= must hit the fast-path guard too
    # explicit or-chains: `in` is a C scan and these guards run per tag —
    # a genexpr + any() costs more than all the scans together. The
    # extended regex (optional values, six names) only runs when a
    # role/style/hidden hint is present; the common class/id-only tag
    # takes the tight value-required regex.
    ext = "role" in low or "style" in low or "hidden" in low
    if not ext and "class" not in low and "id" not in low:
        return []
    out = []
    for m in (_ATTR_RE if ext else _CLASSID_RE).finditer(attr_str):
        if m.group(2) is None and m.group(3) is None and m.group(4) is None:
            # bare boolean attribute (hidden) — html.parser reports None
            out.append((m.group(1).lower(), None))
            continue
        val = m.group(2) or m.group(3) or m.group(4) or ""
        if "&" in val:
            val = _htmlmod.unescape(val)
        out.append((m.group(1).lower(), val))
    return out


def scan(html_text: str, handler) -> None:
    """Drive ``handler.handle_starttag/handle_endtag/handle_startendtag/
    handle_data`` over ``html_text`` (html.parser-compatible event
    stream for the token subset the tokenizer consumes)."""
    pos = 0
    n = len(html_text)
    search = _TAG_RE.search
    while pos < n:
        m = search(html_text, pos)
        if m is None:
            data = html_text[pos:]
            if data:
                if "&" in data:
                    data = _htmlmod.unescape(data)
                handler.handle_data(data)
            return
        start, end = m.span()
        if start > pos:
            data = html_text[pos:start]
            if "&" in data:
                data = _htmlmod.unescape(data)
            handler.handle_data(data)
        open_tag = m.group("open")
        if open_tag is not None:
            tag = open_tag.lower()
            attr_str = m.group("attrs") or ""
            attrs = _attrs_of(attr_str)
            # a trailing '/' only self-closes when it is not the tail of an
            # unquoted attribute value (html.parser/HTML5: <div class=foo/>
            # is an OPEN tag whose class is "foo/")
            selfclose = m.group("selfclose") and (
                not attr_str or attr_str[-1] in " \t\n\r\"'"
            )
            if selfclose:
                handler.handle_startendtag(tag, attrs)
            else:
                handler.handle_starttag(tag, attrs)
                if tag in _CDATA_TAGS:
                    cm = _CDATA_CLOSE[tag].search(html_text, end)
                    if cm is None:
                        # unterminated raw-text element: rest is its content
                        handler.handle_data(html_text[end:])
                        handler.handle_endtag(tag)
                        return
                    content = html_text[end : cm.start()]
                    if content:
                        handler.handle_data(content)
                    handler.handle_endtag(tag)
                    end = cm.end()
        else:
            close_tag = m.group("close")
            if close_tag is not None:
                handler.handle_endtag(close_tag.lower())
            # comments/doctype/PI: dropped
        pos = end
