"""Pure-Python HTML parse oracle — the engine's per-row correctness invariant.

Re-implements, on the stdlib ``html.parser`` alone (no bs4 dependency), the
exact parse semantics of the reference's HTML path
(``core/html_parser.py:41-138`` in hemrajbhakar/web-template-forensics),
which builds its tree with BeautifulSoup 4.12.3 on the ``'html.parser'``
builder.  BeautifulSoup's ``'html.parser'`` builder is itself a thin tree
assembler over stdlib ``html.parser``, so the behaviors to replicate are:

stdlib ``html.parser`` (bs4 uses ``convert_charrefs=True``, the default):
  * tag and attribute names lowercased; character references decoded in
    text and attribute values; consecutive data runs coalesced
  * ``<script>``/``<style>`` content is CDATA — not tag-parsed, charrefs
    NOT decoded inside
BeautifulSoup tree assembly (``bs4.builder._htmlparser``):
  * void/empty elements auto-close even without a trailing slash
    (``HTMLTreeBuilder.empty_element_tags``)
  * ``<tag/>`` (startendtag) closes immediately for ANY tag
  * an end tag pops the open-tag stack to the nearest matching start tag,
    implicitly closing anything above it; an unmatched end tag is ignored
  * duplicate attributes: last one wins; bare attributes get value ``''``
  * class (and the other cdata-list attributes) split on whitespace to lists
  * comments / doctypes / processing instructions / CDATA sections become
    string nodes whose ``str()`` is the bare content (no markers) — the
    reference's ``_parse_node`` therefore turns a NON-EMPTY comment into a
    text node (quirk Q8; its own test only asserts ``<= 1.0`` for comments,
    ``tests/html_analyzer_test.py:128-139``)
reference ``HTMLParser.parse`` (``core/html_parser.py:41-62``):
  * root = first ``<body>`` element if present, else the whole document
  * text nodes are ``.strip()``-ed; empty/whitespace-only dropped
    (``core/html_parser.py:68-73``)
  * ``class`` attr -> token list; ``style`` attr -> property dict split on
    ``;``/``:`` (``core/html_parser.py:114-128``); other attrs raw

The **extracted text** of a document is defined as the in-document-order
sequence of text-node contents of this tree, joined with ``"\\n"``.  This
string must be byte-identical between the distributed pandas-UDF path and
this pure-Python oracle for every url (BASELINE.json ``input_hint``).

For practical corpus work :func:`extract_text` also offers
``clean=True``, which skips script/style subtrees and comment/doctype/PI
pseudo-text — NOT part of the fidelity oracle, just the useful variant.
"""

from __future__ import annotations

import json
from html.parser import HTMLParser as _StdHTMLParser
from typing import Any

# bs4 HTMLTreeBuilder.empty_element_tags: HTML void elements plus the
# legacy set bs4 carries for backwards compatibility.
EMPTY_ELEMENT_TAGS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "keygen", "link", "menuitem", "meta", "param", "source", "track",
        "wbr",
        # legacy/obsolete tags bs4 also treats as empty
        "basefont", "bgsound", "command", "frame", "image", "isindex",
        "nextid", "spacer",
    }
)

# bs4 HTMLTreeBuilder.cdata_list_attributes: attribute values split on
# whitespace into lists. '*' applies to every tag.
CDATA_LIST_ATTRS: dict[str, frozenset[str]] = {
    "*": frozenset({"class", "accesskey", "dropzone"}),
    "a": frozenset({"rel", "rev"}),
    "link": frozenset({"rel", "rev"}),
    "td": frozenset({"headers"}),
    "th": frozenset({"headers"}),
    "form": frozenset({"accept-charset"}),
    "object": frozenset({"archive"}),
    "area": frozenset({"rel"}),
    "icon": frozenset({"sizes"}),
    "iframe": frozenset({"sandbox"}),
    "output": frozenset({"for"}),
}


def _split_cdata_list_attrs(tag: str, attrs: dict[str, str]) -> dict[str, Any]:
    out: dict[str, Any] = {}
    universal = CDATA_LIST_ATTRS["*"]
    per_tag = CDATA_LIST_ATTRS.get(tag, frozenset())
    for k, v in attrs.items():
        if k in universal or k in per_tag:
            out[k] = v.split()
        else:
            out[k] = v
    return out


class _RawTreeBuilder(_StdHTMLParser):
    """Assembles the bs4-equivalent raw tree from stdlib parse events.

    Raw nodes:
      {'kind': 'element', 'tag', 'attrs', 'children': [...]}
      {'kind': 'text',    'content': str, 'meta': bool}
    ``meta=True`` marks pseudo-text from comments/doctypes/PI/CDATA — the
    reference treats them identically to text (they are NavigableStrings),
    the flag only serves the ``clean=True`` extraction variant.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.document: dict[str, Any] = {
            "kind": "element",
            "tag": "[document]",
            "attrs": {},
            "children": [],
        }
        self._stack: list[dict[str, Any]] = [self.document]
        self._data: list[str] = []
        self.first_body: dict[str, Any] | None = None

    def updatepos(self, i: int, j: int) -> int:
        # _markupbase's version only maintains lineno/offset (newline
        # counting over every consumed span, ~9% of extract_text); neither
        # builder ever reads getpos(), and tokenization never branches on
        # position, so skipping the bookkeeping cannot change the event
        # stream. The return value (j) is what goahead consumes.
        return j

    # -- data buffering (bs4 endData coalesces consecutive data runs) ----
    def _flush(self) -> None:
        if self._data:
            content = "".join(self._data)
            self._data = []
            if content:
                self._stack[-1]["children"].append(
                    {"kind": "text", "content": content, "meta": False}
                )

    def _emit_pseudo_text(self, content: str) -> None:
        # Comments/doctypes/PIs are their own NavigableString: flush first,
        # then emit separately (never merged with adjacent raw text).
        self._flush()
        if content:
            self._stack[-1]["children"].append(
                {"kind": "text", "content": content, "meta": True}
            )

    # -- tag events -------------------------------------------------------
    def _open_element(self, tag: str, attrs: list[tuple[str, str | None]]) -> dict[str, Any]:
        if self._data:  # guard: most tag events have no pending text
            self._flush()
        attr_dict: dict[str, str] = {}
        for k, v in attrs:
            attr_dict[k] = "" if v is None else v  # bare attr -> ''; dup -> last wins
        node: dict[str, Any] = {
            "kind": "element",
            "tag": tag,
            "attrs": _split_cdata_list_attrs(tag, attr_dict),
            "children": [],
        }
        self._stack[-1]["children"].append(node)
        if tag == "body" and self.first_body is None:
            self.first_body = node
        return node

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        node = self._open_element(tag, attrs)
        if tag not in EMPTY_ELEMENT_TAGS:
            self._stack.append(node)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        self._open_element(tag, attrs)  # <tag/> closes immediately for any tag

    def handle_endtag(self, tag: str) -> None:
        if self._data:
            self._flush()
        # bs4 Tag._popToTag: pop to nearest matching open tag, else ignore.
        # Fast path: well-formed markup closes the top of the stack, which
        # is the i = n-1 iteration of the general scan below.
        stack = self._stack
        n = len(stack) - 1
        if n > 0 and stack[n]["tag"] == tag:
            del stack[n:]
            return
        for i in range(n - 1, 0, -1):
            if stack[i]["tag"] == tag:
                del stack[i:]
                return

    # -- character data and pseudo-text ------------------------------------
    def handle_data(self, data: str) -> None:
        self._data.append(data)

    def handle_comment(self, data: str) -> None:
        self._emit_pseudo_text(data)

    def handle_decl(self, decl: str) -> None:
        self._emit_pseudo_text(decl)  # e.g. 'DOCTYPE html'

    def handle_pi(self, data: str) -> None:
        self._emit_pseudo_text(data)

    def unknown_decl(self, data: str) -> None:
        if data.startswith("CDATA["):
            self._emit_pseudo_text(data[len("CDATA["):])
        else:
            self._emit_pseudo_text(data)

    def finish(self) -> None:
        self.close()
        self._flush()


def parse_raw(html_content: str) -> _RawTreeBuilder:
    builder = _RawTreeBuilder()
    builder.feed(html_content)
    builder.finish()
    return builder


def _style_to_dict(value: str) -> dict[str, str]:
    # reference core/html_parser.py:118-128
    style_dict: dict[str, str] = {}
    for style in value.split(";"):
        if ":" in style:
            prop, val = style.split(":", 1)
            style_dict[prop.strip()] = val.strip()
    return style_dict


def _to_reference_node(raw: dict[str, Any], keep_meta_flag: bool = False) -> dict[str, Any] | None:
    """Reference ``_parse_node`` semantics (core/html_parser.py:64-98)."""
    if raw["kind"] == "text":
        content = raw["content"].strip()
        if not content:
            return None
        node: dict[str, Any] = {"type": "text", "content": content}
        if keep_meta_flag:
            node["meta"] = raw["meta"]
        return node
    attrs: dict[str, Any] = {}
    for key, value in raw["attrs"].items():
        if key == "class":
            attrs[key] = value if isinstance(value, list) else value.split()
        elif key == "style":
            attrs[key] = value if isinstance(value, dict) else _style_to_dict(value)
        else:
            attrs[key] = value
    children = []
    for child in raw["children"]:
        converted = _to_reference_node(child, keep_meta_flag)
        if converted is not None:
            children.append(converted)
    return {"type": "element", "tag": raw["tag"], "attrs": attrs, "children": children}


def parse_html_tree(html_content: str, keep_meta_flag: bool = False) -> dict[str, Any]:
    """Parse HTML into the reference tree shape.

    Matches ``HTMLParser.parse`` (core/html_parser.py:41-62): root is the
    first ``<body>`` element when present, else the whole document (tag
    ``'[document]'``).
    """
    builder = parse_raw(html_content)
    root = builder.first_body if builder.first_body is not None else builder.document
    node = _to_reference_node(root, keep_meta_flag)
    if node is None:  # cannot happen: root is always an element
        node = {"type": "element", "tag": "[document]", "attrs": {}, "children": []}
    return node


_SKIP_TAGS_CLEAN = frozenset({"script", "style", "template", "noscript"})


def _collect_text(node: dict[str, Any], out: list[str], clean: bool) -> None:
    if node["type"] == "text":
        if not (clean and node.get("meta", False)):
            out.append(node["content"])
        return
    if clean and node["tag"] in _SKIP_TAGS_CLEAN:
        return
    for child in node["children"]:
        _collect_text(child, out, clean)


class _TextOnlyBuilder(_StdHTMLParser):
    """Round-7 fast path for :func:`extract_text` (clean=False): consumes
    the SAME stdlib event stream as ``_RawTreeBuilder`` but collects only
    text, skipping node dicts, attribute processing and the
    ``_to_reference_node`` pass (~20% of extract_text's profile — the
    tokenizer itself is the other ~80% and is shared verbatim).

    Faithfulness to the tree path, rule by rule:
      * data runs are coalesced between flush points and pseudo-text
        (comments/doctypes/PIs/CDATA) flushes first and lands as its own
        node — identical node boundaries, hence identical strip() results;
      * each node's content is ``.strip()``-ed, empty dropped, '\\n'-joined
        in document order;
      * the open-tag stack replicates bs4 pop-to-nearest-matching /
        void-element / ``<tag/>`` semantics, so "inside the first <body>
        subtree" is decided exactly as the tree's ``first_body`` rooting:
        when a body element exists, only text whose flush happens while the
        FIRST body frame is on the stack is kept (text before <body>, after
        its close, or under a later body-after-close is excluded, and
        ``<body/>`` yields an empty extraction) — matching
        ``parse_html_tree``'s root selection.
    Pinned bytewise against the tree path in tests/test_html_oracle.py.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._tags: list[str] = ["[document]"]
        self._data: list[str] = []
        self._texts: list[str] = []
        self._in_body: list[bool] = []
        self._body_idx: int | None = None  # stack index of the OPEN first body
        self.body_seen = False

    updatepos = _RawTreeBuilder.updatepos  # same argument: positions unread

    def _flush(self) -> None:
        if self._data:
            content = "".join(self._data)
            self._data = []
            if content:
                s = content.strip()
                if s:
                    self._texts.append(s)
                    self._in_body.append(self._body_idx is not None)

    def _emit_pseudo_text(self, content: str) -> None:
        self._flush()
        if content:
            s = content.strip()
            if s:
                self._texts.append(s)
                self._in_body.append(self._body_idx is not None)

    def handle_starttag(self, tag: str, attrs) -> None:
        if self._data:  # guard: most tag events have no pending text
            self._flush()
        first_body = tag == "body" and not self.body_seen
        if first_body:
            self.body_seen = True
        if tag not in EMPTY_ELEMENT_TAGS:
            self._tags.append(tag)
            if first_body:
                self._body_idx = len(self._tags) - 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        if self._data:
            self._flush()
        if tag == "body" and not self.body_seen:
            self.body_seen = True  # <body/> closes immediately: empty subtree

    def handle_endtag(self, tag: str) -> None:
        if self._data:
            self._flush()
        # Fast path = the i = n-1 iteration of the general scan (top of
        # stack matches, the well-formed-markup common case).
        tags = self._tags
        n = len(tags) - 1
        if n > 0 and tags[n] == tag:
            if self._body_idx is not None and n <= self._body_idx:
                self._body_idx = None
            del tags[n:]
            return
        for i in range(n - 1, 0, -1):
            if tags[i] == tag:
                if self._body_idx is not None and i <= self._body_idx:
                    self._body_idx = None
                del tags[i:]
                return

    def handle_data(self, data: str) -> None:
        self._data.append(data)

    def handle_comment(self, data: str) -> None:
        self._emit_pseudo_text(data)

    def handle_decl(self, decl: str) -> None:
        self._emit_pseudo_text(decl)

    def handle_pi(self, data: str) -> None:
        self._emit_pseudo_text(data)

    def unknown_decl(self, data: str) -> None:
        if data.startswith("CDATA["):
            self._emit_pseudo_text(data[len("CDATA["):])
        else:
            self._emit_pseudo_text(data)

    def extracted(self) -> str:
        self.close()
        self._flush()
        if self.body_seen:
            return "\n".join(t for t, b in zip(self._texts, self._in_body) if b)
        return "\n".join(self._texts)


def extract_text(html_content: str, clean: bool = False) -> str:
    """Extracted text per the north-rule oracle.

    In-document-order concatenation ('\\n'-joined) of the stripped,
    non-empty text-node contents of :func:`parse_html_tree` — exactly the
    reference's text surface (core/html_parser.py:52,68-73). The default
    path runs the event-equivalent ``_TextOnlyBuilder`` (no tree
    materialization; bytewise-pinned against the tree path).

    ``clean=True`` (engine extension, NOT the oracle): additionally skips
    script/style/template/noscript subtrees and comment/doctype/PI
    pseudo-text — the variant a training-data pipeline actually wants.
    """
    if not clean:
        builder = _TextOnlyBuilder()
        builder.feed(html_content)
        return builder.extracted()
    tree = parse_html_tree(html_content, keep_meta_flag=clean)
    out: list[str] = []
    _collect_text(tree, out, clean)
    return "\n".join(out)


def tree_to_json(node: dict[str, Any]) -> str:
    """Canonical JSON encoding (sorted keys, no whitespace) for tree columns."""
    return json.dumps(node, sort_keys=True, separators=(",", ":"), ensure_ascii=False)
