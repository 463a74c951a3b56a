"""From-scratch HTML main-content extraction (north rule: "HTML
boilerplate strip, DOM heuristics").

A minimal, dependency-free HTML5-ish parser (tokenizer + stack DOM with
implied closes) and a readability-style main-content scorer — the
published family of DOM heuristics (Readability/Boilerpipe/trafilatura):
candidate containers score by text mass + comma density, discounted by
LINK density, with class/id keyword priors (nav/footer/sidebar negative,
article/content/main positive); the best candidate's block text is the
page's main content. No reference code involved: the reference repo has
no HTML handling at all (OCR-only ingestion).

The Spark surface is `operators/html.extract_main_content` (Arrow-batched
pandas UDF — a real parser is python; the batching model matches the OCR
kernel). Whitespace canonicalization is the pinned ASCII class shared
with the other normalizers so the DuckDB value oracle can reproduce
expected output exactly.
"""

from __future__ import annotations

import re

# pinned ASCII whitespace (CLAUDE.md invariant: \s differs across engines)
_WS_RUN = re.compile(r"[ \t\n\x0B\f\r]+")

VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
}
# an open <p>/<li>/... implicitly closes when a sibling of these opens
_IMPLIED_CLOSE = {
    "p": {"p", "div", "section", "article", "aside", "footer", "header",
          "nav", "ul", "ol", "table", "h1", "h2", "h3", "h4", "h5", "h6",
          "blockquote", "pre"},
    "li": {"li"},
    "td": {"td", "th", "tr"},
    "th": {"td", "th", "tr"},
    "tr": {"tr"},
    "option": {"option"},
}
BLOCK_TAGS = {
    "p", "div", "section", "article", "aside", "footer", "header", "nav",
    "ul", "ol", "li", "table", "tr", "td", "th", "h1", "h2", "h3", "h4",
    "h5", "h6", "blockquote", "pre", "main", "figcaption", "dd", "dt",
    "form", "fieldset", "hr", "br",
}
_DROP_SUBTREES = {"script", "style", "noscript", "template", "svg",
                  "iframe", "head"}
CANDIDATE_TAGS = {"div", "article", "section", "main", "td", "body"}

_NEGATIVE = re.compile(
    r"nav|menu|sidebar|side-bar|footer|header|banner|breadcrumb|comment|"
    # 'ad-' must be token-anchored: a bare substring match hits legitimate
    # containers like 'thread-item' / 'download-section' / 'grad-content'
    # and the -25 penalty can flip main_node selection on close scores.
    r"share|social|sponsor|advert|(?:^|[^a-z])ad-|promo|related|widget|"
    r"cookie|popup|discussion|disqus",
    re.I,
)
_POSITIVE = re.compile(
    r"article|content|main|body|entry|post|text|story|page", re.I
)

_TAG_RE = re.compile(
    rb"<!--.*?-->"                       # comments
    rb"|<!\[CDATA\[.*?\]\]>"             # cdata
    rb"|<![^>]*>"                        # doctype
    rb"|<\?[^>]*>"                       # processing instruction
    rb"|</\s*([A-Za-z][A-Za-z0-9]*)\s*>"  # close tag
    rb"|<\s*([A-Za-z][A-Za-z0-9]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)/?>",
    re.S,
)
_ATTR_RE = re.compile(
    r"([A-Za-z_:][-A-Za-z0-9_:.]*)\s*(?:=\s*(\"[^\"]*\"|'[^']*'|[^\s\"'>]+))?"
)
_ENTITY_RE = re.compile(r"&(#x?[0-9A-Fa-f]+|[A-Za-z][A-Za-z0-9]*);")
_NAMED_ENTITIES = {
    "amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'",
    "nbsp": "\xa0",  # real NBSP — consistent with &#160;
    "mdash": "—", "ndash": "–", "hellip": "…",
    "copy": "©", "reg": "®", "trade": "™",
    "lsquo": "‘", "rsquo": "’", "ldquo": "“",
    "rdquo": "”",
}

# the pinned ASCII edge-whitespace set (CLAUDE.md invariant — str.strip()
# with no argument also eats \xa0 and would diverge from the SQL oracles)
_PIN_STRIP = " \t\n\x0B\f\r"


def unescape(text: str) -> str:
    """Entity decode: the common named set + numeric (&#dd; / &#xhh;)."""

    def _sub(m: re.Match) -> str:
        ref = m.group(1)
        if ref.startswith("#"):
            try:
                cp = int(ref[2:], 16) if ref[1] in "xX" else int(ref[1:])
                return chr(cp) if 0 < cp < 0x110000 else m.group(0)
            except ValueError:
                return m.group(0)
        return _NAMED_ENTITIES.get(ref, _NAMED_ENTITIES.get(ref.lower(),
                                                            m.group(0)))

    return _ENTITY_RE.sub(_sub, text)


class Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict | None = None, parent=None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list = []  # Node | str
        self.parent = parent


def _parse_attrs(raw: str) -> dict:
    out = {}
    for m in _ATTR_RE.finditer(raw):
        name = m.group(1).lower()
        val = m.group(2) or ""
        if val[:1] in ("'", '"'):
            val = val[1:-1]
        out[name] = unescape(val)
    return out


_RAWTEXT_CLOSE = {
    t: re.compile(rb"</\s*%s\s*>" % t.encode(), re.I)
    for t in ("script", "style", "textarea", "title")
}


def parse(html: str | bytes) -> Node:
    """Tokenize + build a DOM with a tag stack and implied closes.
    Forgiving: stray close tags are ignored, unclosed tags close at EOF,
    script/style bodies are raw text."""
    data = html.encode("utf-8", "replace") if isinstance(html, str) else bytes(html)
    root = Node("#root")
    cur = root
    pos = 0
    while pos < len(data):
        m = _TAG_RE.search(data, pos)
        if m is None:
            _append_text(cur, data[pos:])
            break
        if m.start() > pos:
            _append_text(cur, data[pos : m.start()])
        pos = m.end()
        close, open_, attr_raw = m.group(1), m.group(2), m.group(3)
        if close is not None:
            tag = close.decode("ascii").lower()
            node = cur
            while node is not root and node.tag != tag:
                node = node.parent
            if node is not root:
                cur = node.parent  # close it (and implicitly its children)
            continue
        if open_ is None:
            continue  # comment/doctype/pi
        tag = open_.decode("ascii").lower()
        self_closing = m.group(0).rstrip()[-2:] == b"/>"
        # implied closes: <p><p> etc.
        while (cur is not root and cur.tag in _IMPLIED_CLOSE
               and tag in _IMPLIED_CLOSE[cur.tag]):
            cur = cur.parent
        node = Node(tag, _parse_attrs(attr_raw.decode("utf-8", "replace")),
                    cur)
        cur.children.append(node)
        if tag in _RAWTEXT_CLOSE:
            if self_closing:  # xhtml-style <script/>: no body to consume
                continue
            cm = _RAWTEXT_CLOSE[tag].search(data, pos)
            end = cm.start() if cm else len(data)
            _append_text(node, data[pos:end])
            pos = cm.end() if cm else len(data)
            continue
        # HTML5 rule: a stray "/" on a non-void start tag is IGNORED (the
        # element stays open) — honoring it would mis-close tags whose
        # UNQUOTED attribute value ends in '/', e.g. <a href=http://x/>
        if tag not in VOID_TAGS:
            cur = node
    return root


def _append_text(node: Node, raw: bytes) -> None:
    if raw:
        # HTML5 tokenizer rule: NUL in character data becomes U+FFFD —
        # also keeps source bytes from colliding with internal sentinels
        node.children.append(
            unescape(raw.decode("utf-8", "replace")).replace("\x00", "�")
        )


def _iter_nodes(node: Node):
    """Iterative pre-order walk (recursion blows the frame limit on
    pathologically nested pages), skipping dropped subtrees."""
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(
            ch for ch in reversed(n.children)
            if isinstance(ch, Node) and ch.tag not in _DROP_SUBTREES
        )


def text_of(node: Node, exclude: set | None = None) -> str:
    """Visible text: block boundaries become newlines, inline text joins;
    whitespace collapses per block (the pinned ASCII class). Iterative
    (depth-safe); source NULs were already replaced at parse time, so the
    \\x00 sentinel is unambiguous. `exclude` drops whole subtrees by node
    identity (the conditional boilerplate clean in main_text)."""
    parts: list[str] = []
    stack: list = [("enter", node)]
    while stack:
        op, item = stack.pop()
        if op == "text":
            parts.append(item)
            continue
        if op == "sep":
            parts.append("\x00")
            continue
        for ch in reversed(item.children):
            if isinstance(ch, str):
                stack.append(("text", ch))
            elif ch.tag in _DROP_SUBTREES:
                continue
            elif exclude is not None and id(ch) in exclude:
                continue
            elif ch.tag in BLOCK_TAGS:
                stack.append(("sep", None))
                stack.append(("enter", ch))
                stack.append(("sep", None))
            else:
                stack.append(("enter", ch))
    lines = []
    # block boundaries are the \x00 sentinels (NOT source newlines, which
    # are ordinary collapsible whitespace inside a paragraph)
    for chunk in "".join(parts).split("\x00"):
        collapsed = _WS_RUN.sub(" ", chunk).strip(_PIN_STRIP)
        if collapsed:
            lines.append(collapsed)
    return "\n".join(lines)


def _subtree_stats(root: Node) -> dict:
    """{node: (text_len, link_len, commas)} for every visible node in ONE
    bottom-up pass — the naive per-candidate rescans were O(nodes x
    nesting depth), quadratic on real-world div soup."""
    order = list(_iter_nodes(root))  # pre-order; reversed = children first
    stats: dict = {}
    for n in reversed(order):
        tl = ll = cm = 0
        for ch in n.children:
            if isinstance(ch, str):
                tl += len(_WS_RUN.sub(" ", ch).strip(_PIN_STRIP))
                cm += ch.count(",")
            elif ch.tag not in _DROP_SUBTREES:
                ctl, cll, ccm = stats[ch]
                tl += ctl
                ll += cll
                cm += ccm
        if n.tag == "a":
            ll = tl  # every character under an anchor is link text
        stats[n] = (tl, ll, cm)
    return stats


def _class_id_weight(node: Node) -> float:
    sig = f"{node.attrs.get('class', '')} {node.attrs.get('id', '')}"
    w = 0.0
    if _NEGATIVE.search(sig):
        w -= 25.0
    if _POSITIVE.search(sig):
        w += 25.0
    if node.tag in ("article", "main"):
        w += 25.0
    if node.tag in ("nav", "aside", "footer", "header"):
        w -= 25.0
    return w


def score(node: Node, stats: dict | None = None) -> float:
    """Readability-style candidate score: text mass + comma density,
    discounted by link density, plus class/id priors."""
    if stats is None or node not in stats:
        stats = _subtree_stats(node)
    text_len, link_len, commas = stats[node]
    if text_len == 0:
        return -1e9
    link_density = min(link_len / text_len, 1.0)
    base = min(text_len / 10.0, 300.0) + commas
    return (base * (1.0 - link_density)) + _class_id_weight(node)


def main_node(root: Node) -> Node:
    """Best-scoring candidate container (falls back to the whole tree)."""
    stats = _subtree_stats(root)
    best, best_score = root, -1e18
    for n in _iter_nodes(root):
        if n.tag not in CANDIDATE_TAGS:
            continue
        s = score(n, stats)
        if s > best_score:
            best, best_score = n, s
    return best


def main_text(html: str | bytes | None) -> str:
    """Extract the page's main content text (boilerplate stripped).

    After candidate selection, a CONDITIONAL clean (Readability-family
    cleanConditionally analog) drops descendant subtrees whose class/id
    match the boilerplate priors — this is what removes a comment section
    when the winning candidate is a broad container (body aggregates the
    article AND the thread, and raw text mass favors it). Conditional:
    when the stripped text keeps less than a quarter of the original, the
    negative-tagged subtrees ARE the content (a forum thread page) and
    the unstripped text is returned instead."""
    if html is None:
        return ""
    root = parse(html)
    node = main_node(root)
    bad = {
        id(n) for n in _iter_nodes(node)
        if n is not node and _NEGATIVE.search(
            f"{n.attrs.get('class', '')} {n.attrs.get('id', '')}"
        )
    }
    full = text_of(node)
    if not bad:
        return full
    stripped = text_of(node, exclude=bad)
    return stripped if len(stripped) >= 0.25 * len(full) else full


def _all_nodes(node: Node):
    """Every node, INCLUDING dropped subtrees (head/script/...) — metadata
    like <title> lives inside <head>. Iterative (depth-safe)."""
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(ch for ch in reversed(n.children)
                     if isinstance(ch, Node))


def _own_text(node: Node) -> str:
    return _WS_RUN.sub(
        " ", "".join(c for c in node.children if isinstance(c, str))
    ).strip(_PIN_STRIP)


def title_text(root: Node) -> str:
    for n in _all_nodes(root):
        if n.tag == "title":
            return _own_text(n)
    return ""


def first_heading(root: Node) -> str:
    for tag in ("h1", "h2", "h3"):
        for n in _iter_nodes(root):
            if n.tag == tag:
                return text_of(n).replace("\n", " ")
    return ""


def links(root: Node) -> list[str]:
    """href values of visible <a> anchors, in document order."""
    return [n.attrs["href"] for n in _iter_nodes(root)
            if n.tag == "a" and "href" in n.attrs]
