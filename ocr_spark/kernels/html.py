"""HTML → flattened DOM-node table + Arc90-style density scoring.

This is the analog of the reference's detection path: where FOTS produces a
per-pixel score map and geometry map from an image
(``/root/reference/Module/DetectBackbone.py:129-132``) and then flattens
surviving pixels to coordinate rows (``np.argwhere`` at
``/root/reference/DetectUtil.py:167``), we produce per-DOM-node structural
features from HTML bytes and flatten them to node rows:

    (node_id, tag, depth, text, text_len, link_text_len, n_tags, n_links,
     span_start, span_end, negative, attr_pos)

Scoring maps the reference's detection heads onto deterministic
readability/Arc90 heuristics:

* ``text_density`` (score map, D3): saturating text length, normalized per
  tag class — headings need less text evidence than generic divs.
* ``link_density`` (geometry feature, D4): link chars / total chars — the
  classic boilerplate discriminator.
* hard negative prior: ``nav/footer/header/aside`` ancestry or boilerplate
  ``class``/``id`` patterns zero the score, the way the reference's
  ignore-tags mask regions out of training
  (``/root/reference/DataPreprocess/DataGen.py:80-83``).

Everything is deterministic (RNG-free) — the reference's trap of randomness
inside geometry code (``DataGen.py:319-333``) is deliberately not
reproduced.

Tag scanning is one compiled regex (``kernels.html_scan``, no external
deps) driving ``_Tokenizer``'s handlers. Per-document parsing is an
irreducible Python loop, but it runs inside an Arrow batch in
``mapInPandas``, and it hands back one list per node field, so scoring
builds its NumPy arrays straight from those columns.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from operator import itemgetter

import numpy as np

from ocr_spark.config import (
    BLOCK_SEPARATOR,
    BLOCK_THRESH,
    MAX_NODES_PER_PAGE,
    SCORE_THRESH,
)
from ocr_spark.kernels.charset import decode_html
from ocr_spark.kernels.html_scan import scan

# The node columns ``tokenize_html`` returns, one list per field.
NODE_FIELDS = (
    "node_id", "tag", "depth", "text", "text_len", "link_text_len",
    "n_tags", "n_links", "span_start", "span_end", "negative", "attr_pos",
)

# Tags whose entire subtree is dropped (never text content). Form
# controls (button/select/option/textarea/datalist) are here, not in the
# negative set: their text is UI labeling ("Read more", "Copy", dropdown
# choices), never document text — inline inside a kept paragraph or a
# code-block toolbar it would otherwise merge into the block's direct
# text and leak into the extraction (wild case 52). Media elements
# (video/audio/canvas) carry only FALLBACK content ("Your browser does
# not support…") that no real browser renders; <dialog> is display:none
# by the UA stylesheet unless [open], and an open dialog is a modal
# interstitial (paywall/newsletter) — chrome either way (wild case 56).
# Ruby annotations (rt: the reading gloss, rp: its non-ruby-browser
# parentheses) annotate the base text a reader reads linearly — keeping
# them would double every CJK term ("東京(とうきょう)") in the
# extraction (wild case 57). MathML <annotation>/<annotation-xml> carry
# the formula's source encoding (TeX/content MathML) alongside the
# presentation tokens — keeping them doubles every formula (wild case 60).
_DROP_TAGS = frozenset(
    (
        "script style noscript template svg head title iframe object embed "
        "button select option textarea datalist video audio canvas dialog "
        # <del> is REMOVED content: rendering strikes it through, a text
        # corpus must not read the retracted figure as current (the <ins>
        # replacement stays). <s> (stylistic strikethrough) is kept.
        "rt rp annotation annotation-xml progress meter del"
    ).split()
)
# Hard-negative containers: ancestry in one of these zeroes the score.
_NEGATIVE_TAGS = frozenset("nav footer header aside form".split())
_HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())
# Block-level containers: closing one emits a node row from its direct text.
# The sectioning negatives (nav/footer/header/aside/form) are block
# containers too: their direct text must become a hard-negative row of
# their own, never merge into an ancestor block — a long linkless footer
# line ("Media contact: …") would otherwise ride into <body>'s direct text
# and leak past the link-density gate (wild case 47).
_BLOCK_TAGS = frozenset(
    (
        "p div article section main li td th h1 h2 h3 h4 h5 h6 pre blockquote "
        "figcaption ul ol table tr dd dt summary details body "
        "nav footer header aside form"
    ).split()
)
# Void elements — never pushed on the stack.
_VOID_TAGS = frozenset("br hr img meta link input area base col source track wbr".split())

# class/id boilerplate patterns (readability-style negative signals).
# Long unambiguous tokens match as substrings (readability's own style —
# "comments", "advertisement", "share-bar" all hit); short tokens that
# collide with common words (ad ⊂ header/read, nav, cta) stay bounded.
_NEG_ATTR_RE = re.compile(
    r"menu|footer|header|sidebar|side-bar|comment|banner|advert|promo|"
    r"share|social|breadcrumb|cookie|popup|masthead|related|widget|"
    r"subscribe|sponsor|shoutbox|newsletter|paywall|consent|loading|"
    # byline/dateline metadata (readability strips byline nodes from
    # content) and third-party embed vendors (readability's
    # unlikelyCandidates names disqus explicitly)
    r"byline|dateline|disqus|taboola|outbrain"
    r"|(?:^|[\s_-])(?:nav|ad|ads|cta|author)(?:$|[\s_-])",
    re.IGNORECASE,
)
# class/id positive signals (readability candidates).
_POS_ATTR_RE = re.compile(
    r"(?:^|[\s_-])(article|body|content|entry|main|page|post|text|story)(?:$|[\s_-])",
    re.IGNORECASE,
)

_WS_RE = re.compile(r"\s+")

# deletion table for invisible layout characters (see handle_data)
_INVISIBLE_DEL = {0x00AD: None, 0x200B: None, 0xFEFF: None}

# Inline-style invisibility: readability's isProbablyVisible drops nodes
# with display:none / visibility:hidden, the [hidden] attribute, or
# aria-hidden="true". CSS-class-resolved hiding (.ad{display:none}) is
# out of scope, as it is for readability.
_HIDDEN_STYLE_RE = re.compile(r"display\s*:\s*none|visibility\s*:\s*hidden", re.IGNORECASE)

# ARIA landmark roles: chrome landmarks score negative like their HTML5
# tag equivalents (old-Bootstrap sites ship <div role="navigation">);
# role="main"/"article" mark content like <main>/<article> do.
_NEG_ROLES = frozenset(
    "navigation banner complementary contentinfo search form "
    "menu menubar toolbar dialog alertdialog".split()
)

# Per-tag-class text-length normalizers: the length at which text evidence
# saturates. Headings are short by nature; generic divs need more evidence.
_LEN_NORM = {
    "h1": 8.0, "h2": 8.0, "h3": 8.0, "h4": 8.0, "h5": 8.0, "h6": 8.0,
    "p": 20.0, "blockquote": 20.0, "pre": 20.0, "figcaption": 20.0,
    "li": 20.0, "td": 20.0, "th": 20.0, "dd": 20.0, "dt": 20.0,
    "summary": 20.0, "article": 25.0, "main": 25.0, "section": 40.0,
}
_DEFAULT_LEN_NORM = 40.0


@dataclass(slots=True)
class _Block:
    tag: str
    depth: int
    negative: bool  # opened under negative ancestry (or is itself negative)
    attr_pos: bool
    pre: bool = False  # opened inside <pre>: whitespace is content
    first_pos: int = -1  # document-order position of first text chunk
    parts: list[str] = field(default_factory=list)
    link_parts: list[str] = field(default_factory=list)
    n_tags: int = 0
    n_links: int = 0


@dataclass(slots=True)
class _Elem:
    tag: str
    neg_bump: bool
    content_bump: bool
    drop: bool
    is_block: bool
    is_a: bool
    is_pre: bool


class _Tokenizer:
    """Single-pass DOM flattener: emits one row per block container that
    holds *direct* (non-nested-block) text. Nesting can therefore never
    duplicate text across rows — a div's row carries only text not
    claimed by a nested block, the span-domain equivalent of the reference
    emitting disjoint pixel contours (``DetectUtil.py:156-169``)."""

    def __init__(self) -> None:
        self.rows: list[tuple] = []
        self._elems: list[_Elem] = []
        # open-element count per tag: a close tag that matches no open
        # element is rejected in O(1) instead of by a walk of _elems
        # ("<div>"*n + "</span>"*n would otherwise cost O(n²))
        self._open: dict[str, int] = {}
        self._blocks: list[_Block] = [_Block("body", 0, False, False)]
        self._drop_depth = 0
        self._neg_depth = 0
        self._content_depth = 0  # open <article>/<main> ancestors
        self._a_depth = 0
        self._pre_depth = 0  # open <pre> ancestors: verbatim whitespace
        self._text_pos = 0  # monotonic document-order text counter

    # -- tag events ------------------------------------------------------
    def _count_childless(self, tag: str) -> None:
        # void or self-closing element: count it, no stack push. <br> is a
        # rendered line break: without a separator the words on both sides
        # would fuse ("dusk<br>and" → duskand). <wbr> is NOT one — it
        # renders nothing.
        if self._drop_depth == 0 and self._blocks:
            blk = self._blocks[-1]
            blk.n_tags += 1
            if tag == "br" and blk.parts:
                blk.parts.append(" ")
                if self._a_depth > 0:
                    blk.link_parts.append(" ")

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _VOID_TAGS:
            self._count_childless(tag)
            return
        drop = self._drop_depth > 0 or tag in _DROP_TAGS
        neg_bump = False
        attr_pos = False
        role = ""
        attr_text = None
        if not drop and attrs:
            # ONE pass over the (already hint-filtered) attrs collects the
            # chrome text (class/id), the ARIA landmark role, and the
            # invisible-at-parse signals (readability's isProbablyVisible:
            # [hidden], aria-hidden="true", inline display:none /
            # visibility:hidden) — this runs for every attributed tag, so
            # it stays a single loop with cheap branches
            for k, v in attrs:
                if k == "class" or k == "id":
                    if v:
                        attr_text = v if attr_text is None else attr_text + " " + v
                elif k == "hidden":
                    drop = True
                elif k == "aria-hidden":
                    if v is not None and v.strip().lower() == "true":
                        drop = True
                elif k == "style":
                    if v and _HIDDEN_STYLE_RE.search(v):
                        drop = True
                elif k == "role":
                    if v:
                        role = v.strip().lower()
        if not drop:
            attr_neg = False
            if attr_text is not None:
                attr_neg = bool(_NEG_ATTR_RE.search(attr_text))
                attr_pos = bool(_POS_ATTR_RE.search(attr_text))
            if role:
                if role in _NEG_ROLES:
                    attr_neg = True
                elif role in ("main", "article"):
                    attr_pos = True
            # HTML5 gives <header> two roles: the page masthead (chrome)
            # and the headline block of an <article>/<main> it sits inside
            # ("<article><header><h1>…" is the dominant real-crawl headline
            # spelling). Tag-level negativity applies only to the masthead
            # role; an article-scoped header is that article's own title
            # block. Class negativity (masthead/banner/…) still applies
            # anywhere, and footer/nav/aside/form stay negative everywhere
            # (an article footer holds tags/share chrome, not content).
            tag_neg = tag in _NEGATIVE_TAGS and not (
                tag == "header" and self._content_depth > 0
            )
            neg_bump = tag_neg or attr_neg
            if self._blocks:
                self._blocks[-1].n_tags += 1
                if tag == "a":
                    self._blocks[-1].n_links += 1
        is_a = tag == "a" and not drop
        is_pre = tag == "pre" and not drop
        if is_pre:
            self._pre_depth += 1
        is_block = tag in _BLOCK_TAGS and not drop
        content_bump = not drop and (
            tag in ("article", "main") or role in ("main", "article")
        )
        if drop:
            self._drop_depth += 1
        if neg_bump:
            self._neg_depth += 1
        if content_bump:
            self._content_depth += 1
        if is_a:
            self._a_depth += 1
        if is_block:
            self._blocks.append(
                _Block(
                    tag,
                    depth=len(self._elems) + 1,
                    negative=self._neg_depth > 0,
                    attr_pos=attr_pos,
                    pre=self._pre_depth > 0,
                )
            )
        self._elems.append(
            _Elem(tag, neg_bump, content_bump, drop, is_block, is_a, is_pre)
        )
        self._open[tag] = self._open.get(tag, 0) + 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._count_childless(tag)

    def handle_endtag(self, tag: str) -> None:
        if not self._open.get(tag):
            return  # stray close tag (void tags are never opened)
        # pop down to and including the nearest matching open element;
        # the ones above it close implicitly (malformed nesting)
        while self._elems[-1].tag != tag:
            self._pop_elem()
        self._pop_elem()

    def _pop_elem(self) -> None:
        elem = self._elems.pop()
        self._open[elem.tag] -= 1
        if elem.drop:
            self._drop_depth -= 1
        if elem.neg_bump:
            self._neg_depth -= 1
        if elem.content_bump:
            self._content_depth -= 1
        if elem.is_a:
            self._a_depth -= 1
        if elem.is_pre:
            self._pre_depth -= 1
        if elem.is_block and len(self._blocks) > 1:
            self._emit(self._blocks.pop())

    def handle_data(self, data: str) -> None:
        if self._drop_depth > 0 or not self._blocks:
            return
        if not data:
            return
        # Invisible layout hints pollute extraction (dedup misses, token
        # waste): soft hyphen U+00AD, zero-width space U+200B, in-text
        # BOM U+FEFF. ZWJ/ZWNJ (U+200D/U+200C) are NOT stripped — they
        # are semantic in emoji sequences and Indic/Persian shaping.
        # Membership test first: `in` is a C scan, translate walks the
        # string through dict lookups, and nearly all text has none.
        if "\xad" in data or "\u200b" in data or "\ufeff" in data:
            data = data.translate(_INVISIBLE_DEL)
            if not data:
                return
        blk = self._blocks[-1]
        if self._pre_depth > 0:
            # <pre> semantics: whitespace IS content (code indentation,
            # line structure) even when highlighters split the text across
            # per-token spans — collapse would fuse a program into one line
            if blk.first_pos < 0 and not data.isspace():
                blk.first_pos = self._text_pos
            blk.parts.append(data)
            if self._a_depth > 0:
                blk.link_parts.append(data)
            self._text_pos += len(data)
            return
        if data.isspace():
            # keep inter-element whitespace (collapsed at emit), but it
            # neither anchors reading order nor counts as link text
            if blk.parts:
                blk.parts.append(" ")
                if self._a_depth > 0:
                    blk.link_parts.append(" ")
            return
        if blk.first_pos < 0:
            blk.first_pos = self._text_pos
        blk.parts.append(data)
        if self._a_depth > 0:
            blk.link_parts.append(data)
        self._text_pos += len(data)

    # -- row emission -----------------------------------------------------
    def _emit(self, blk: _Block) -> None:
        if len(self.rows) >= MAX_NODES_PER_PAGE:
            return
        if blk.pre:
            # verbatim interior; the newline hugging the start tag and any
            # trailing layout whitespace are markup, not content
            text = "".join(blk.parts).lstrip("\n").rstrip()
            if not text.strip():
                return
        else:
            text = _WS_RE.sub(" ", "".join(blk.parts)).strip()
            if not text:
                return
        link_text = _WS_RE.sub(" ", "".join(blk.link_parts)).strip()
        self.rows.append(
            (
                blk.first_pos, blk.tag, blk.depth, text, len(text),
                len(link_text), blk.n_tags, blk.n_links, blk.negative,
                blk.attr_pos,
            )
        )

    def finish(self) -> dict[str, list]:
        while self._elems:
            self._pop_elem()
        while self._blocks:
            self._emit(self._blocks.pop())
        if not self.rows:
            return {k: [] for k in NODE_FIELDS}
        # document (reading) order = position of first text chunk — the
        # linear-text analog of the reference's (y, x) reading-order sort
        # (/root/reference/DetectUtil.py:201-203).
        self.rows.sort(key=itemgetter(0))
        _, tag, depth, text, text_len, link_len, n_tags, n_links, neg, pos = map(
            list, zip(*self.rows)
        )
        span_start, span_end, cursor = [], [], 0
        for n in text_len:
            span_start.append(cursor)
            span_end.append(cursor + n)
            cursor += n + 1
        return dict(zip(NODE_FIELDS, (
            list(range(len(tag))), tag, depth, text, text_len, link_len,
            n_tags, n_links, span_start, span_end, neg, pos,
        )))


def tokenize_html(html_bytes: bytes | str) -> dict[str, list]:
    """Parse one document's HTML into flattened block-node columns, in
    document reading order: a dict of one list per ``NODE_FIELDS`` key
    (node_id, tag, depth, text, text_len, link_text_len, n_tags, n_links,
    span_start, span_end, negative, attr_pos), every list one entry per
    node. Bytes are charset-sniffed by ``decode_html``; an empty page, or
    one that fails to parse, gives empty lists.
    """
    is_bytes = isinstance(html_bytes, (bytes, bytearray))
    html_text = decode_html(html_bytes) if is_bytes else html_bytes
    tok = _Tokenizer()
    try:
        scan(html_text, tok)
    except Exception:
        # One poisonous document must not kill a 10^12-doc job's task, but a
        # SILENT PARTIAL result would break the byte-identical contract
        # undetectably — so a parse failure yields an EMPTY extraction
        # (n_blocks=0), a clean signal downstream metrics can count.
        return {k: [] for k in NODE_FIELDS}
    return tok.finish()


# --------------------------------------------------------------------------
# Vectorized scoring over a batch-level node table (NumPy struct-of-arrays).
# --------------------------------------------------------------------------

def len_norms_for_tags(tags: np.ndarray) -> np.ndarray:
    """Per-tag length normalizer lookup. Dict-get beats 18 masked vector
    assignments below ~10^4 nodes (the per-document regime); both are
    O(n) and the Arrow-batch path amortizes either way."""
    get = _LEN_NORM.get
    return np.fromiter(
        (get(t, _DEFAULT_LEN_NORM) for t in tags), dtype=np.float64, count=len(tags)
    )


def score_nodes(
    tags: np.ndarray,
    text_lens: np.ndarray,
    link_text_lens: np.ndarray,
    negatives: np.ndarray,
    attr_pos: np.ndarray,
) -> np.ndarray:
    """Arc90-style content score per node, vectorized across a whole Arrow
    batch's nodes (possibly many documents' nodes concatenated).

    ``score = saturate(text_len / len_norm(tag)) * (1 - link_density)^2
    * positive_attr_boost``, zeroed under negative ancestry.

    Mirrors the reference's two-stage filtering: per-pixel score threshold
    (``score_map_thresh``, ``/root/reference/DetectUtil.py:153-155``) then
    per-box mean-score refilter (``:209-214``).
    """
    tags = np.asarray(tags, dtype=object)
    text_lens = np.asarray(text_lens, dtype=np.float64)
    link_density = np.where(
        text_lens > 0,
        np.asarray(link_text_lens, dtype=np.float64) / np.maximum(text_lens, 1.0),
        0.0,
    )
    density = np.minimum(text_lens / len_norms_for_tags(tags), 1.0)
    score = density * np.square(1.0 - link_density)
    score = np.where(np.asarray(attr_pos, dtype=bool), np.minimum(score * 1.25, 1.0), score)
    score = np.where(np.asarray(negatives, dtype=bool), 0.0, score)
    return score


def extract_main_text(html_bytes: bytes | str):
    """Full per-document extraction: tokenize → score → threshold → assemble.

    Returns ``(text, spans, n_blocks, (total_chars, kept_chars))``.
    ``spans`` are char offsets of each retained block inside the returned
    text (separator-aware), matching the output contract D12 (the
    reference's ``test_img.py:127-132`` emits one ``coords,text`` row per
    retained box; we emit the joined text plus per-block spans).
    ``(total_chars, kept_chars)`` is the char mass of ALL block nodes vs
    the retained ones, from which the per-document boilerplate ratio
    derives (an extraction-confidence signal the sink can carry at no
    extra parse cost; both sums are over text already in memory). An empty
    page gives ``("", [], 0, (0, 0))``.
    """
    cols = tokenize_html(html_bytes)
    if not cols["tag"]:
        return ("", [], 0, (0, 0))
    tags_a = np.array(cols["tag"], dtype=object)
    depths = np.array(cols["depth"], dtype=np.int64)
    tl = np.array(cols["text_len"], dtype=np.float64)
    ll = np.array(cols["link_text_len"], dtype=np.float64)
    neg = np.array(cols["negative"], dtype=bool)
    scores = score_nodes(tags_a, tl, ll, neg, np.array(cols["attr_pos"], dtype=bool))
    keep = scores >= SCORE_THRESH
    link_density = np.where(tl > 0, ll / np.maximum(tl, 1.0), 0.0)
    if not keep.any():
        # Arc90 candidate fallback: when nothing clears the absolute
        # threshold (very short documents), the highest-scoring clean node
        # anchors the content — the reference's analogous two-stage rule
        # keeps candidates down to box_thresh=0.1 after selection
        # (/root/reference/DetectUtil.py:209-214).
        clean = (~neg) & (link_density < 0.25) & (scores >= BLOCK_THRESH)
        if clean.any():
            masked = np.where(clean, scores, -1.0)
            keep[int(np.argmax(masked))] = True
    # Arc90 sibling-append: readability keeps LOW-scoring siblings of the
    # winning candidate (short trailing paragraphs, one-line intros) as long
    # as they are clean text. Span-domain version: rescue a non-negative,
    # link-light node whose (tag, depth) matches an adjacent kept node in
    # document order, down to a 0.2× score floor. Fixpoint loop so a rescued
    # node can bridge to the next one (bounded by node count).
    if keep.any() and not keep.all():
        # link-free clean siblings are appended regardless of length (the
        # Arc90 "short <p> sibling" rule); anything carrying links must
        # clear the 0.2× score floor
        cand = (
            (~keep)
            & (~neg)
            & (
                (link_density == 0.0)
                | ((link_density < 0.25) & (scores >= 0.2 * SCORE_THRESH))
            )
        )
        is_heading = np.fromiter(
            (t in _HEADING_TAGS for t in tags_a), bool, count=len(tags_a)
        )
        while True:
            prev_same = np.zeros_like(keep)
            next_same = np.zeros_like(keep)
            # Same tag at the same depth — or a definition-list partner:
            # <dt>/<dd> at one depth are a single content unit (readability
            # keeps whole <dl>s), so a short link-free term rides with its
            # kept definition even though the tags differ.
            pair_a, pair_b = tags_a[1:], tags_a[:-1]
            same_tag = pair_a == pair_b
            dl_pair = ((pair_a == "dt") & (pair_b == "dd")) | (
                (pair_a == "dd") & (pair_b == "dt")
            )
            same_prev = (same_tag | dl_pair) & (depths[1:] == depths[:-1])
            prev_same[1:] = keep[:-1] & same_prev
            next_same[:-1] = keep[1:] & same_prev
            # heading rescue (readability keeps headers inside the content
            # container): a clean link-free heading that immediately
            # precedes kept content introduces it — short section titles
            # ("Notes") carry too few chars to clear the threshold alone
            next_kept = np.zeros_like(keep)
            next_kept[:-1] = keep[1:]
            rescued = cand & (prev_same | next_same | (is_heading & next_kept))
            if not rescued.any():
                break
            keep |= rescued
            cand &= ~rescued
    texts = [cols["text"][i] for i in np.flatnonzero(keep)]
    spans: list[tuple[int, int]] = []
    cursor = 0
    for i, t in enumerate(texts):
        if i > 0:
            cursor += len(BLOCK_SEPARATOR)
        spans.append((cursor, cursor + len(t)))
        cursor += len(t)
    chars = (int(tl.sum()), int(tl[keep].sum()))
    return (BLOCK_SEPARATOR.join(texts), spans, len(texts), chars)
