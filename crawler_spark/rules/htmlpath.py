"""Stdlib-only HTML tree + XPath-subset engine.

Replaces the reference's vendored ``go-xmlpath/xmlpath`` engine
(/root/reference/vendor/.../xmlpath/{doc,parser,path}.go) and the
``x/net/html`` parse step (/root/reference/ruler/xpath_node.go:33-48).
lxml is not available in this environment, so this module implements:

* a tolerant HTML parser (``html.parser.HTMLParser``) producing an element
  tree normalized to the html>head>body shape that ``x/net/html.Parse``
  guarantees (fragments get an implicit html/head/body);
* an XPath-subset evaluator covering the syntax the vendored engine
  documents (vendor/.../xmlpath/doc.go:10-20): ``/``, ``//``, ``*``,
  name tests, ``@attr``, ``.``, ``..``, ``text()``, ``node()``; explicit
  axes (``child::``, ``descendant::``, ``descendant-or-self::``,
  ``self::``, ``parent::``, ``ancestor::``, ``ancestor-or-self::``,
  ``following-sibling::``, ``preceding-sibling::``, ``following::``,
  ``preceding::``, ``attribute::`` — every axis but namespace, matching
  doc.go:15-16; reverse axes position-count nearest-first per spec); and
  predicates ``[N]``, ``[last()]``, ``[position()=N]``, ``[@a]``,
  ``[@a="v"]``, ``[path]``, ``[path="v"]``, ``[text()="v"]``,
  ``[contains(x, "v")]``, ``[not(p)]``, joined with ``and``/``or`` and
  parenthesized grouping (doc.go:19);
* XPath *string-value* semantics: the value of an element node is the
  concatenation of all descendant text nodes in document order
  (vendor/.../xmlpath/parser.go:45-60); first match = smallest document
  order (vendor/.../xmlpath/path.go:41-47).

A path is compiled once per path string (:func:`compile_xpath`, cached):
each step becomes a selection closure plus predicate closures, with every
predicate operand compiled in turn, and evaluation runs only that compiled
form — so a rule's path is tokenized once per process, not once per
document and candidate node. A malformed path raises :class:`XPathError`
(whether or not earlier steps match); a malformed predicate operand is an
empty operand.

Comment and processing-instruction nodes are kept in the tree and matched
by ``comment()`` / ``processing-instruction([name])`` node tests ("all node
types, except for namespace nodes", doc.go:17); their string-values follow
XPath §5.6-5.7 (the node's own content).
"""

from __future__ import annotations

import functools
import re
from collections.abc import Callable
from html.parser import HTMLParser

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
# elements whose open tag implicitly closes a same-tag ancestor
_SELF_CLOSING_SIBLINGS = frozenset("p li tr td th option dt dd".split())
_HEAD_ELEMENTS = frozenset("title meta link base style script".split())

TEXT = 0
ELEMENT = 1
DOCUMENT = 2
# kind 3 is the AttrNode pseudo-kind (see AttrNode.kind)
COMMENT = 4
PI = 5  # processing instruction: tag = target, data = content


class Node:
    __slots__ = ("kind", "tag", "attrs", "children", "parent", "data", "ord")

    def __init__(self, kind: int, tag: str = "", attrs: dict | None = None, data: str = ""):
        self.kind = kind
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[Node] = []
        self.parent: Node | None = None
        self.data = data
        self.ord = 0

    def append(self, child: "Node") -> None:
        child.parent = self
        self.children.append(child)

    # XPath string-value (concat of descendant text, document order;
    # comment/PI string-value is the node's own content per XPath §5.6-5.7)
    def string_value(self) -> str:
        if self.kind in (TEXT, COMMENT, PI):
            return self.data
        parts: list[str] = []
        stack = list(reversed(self.children))
        while stack:
            n = stack.pop()
            if n.kind == TEXT:
                parts.append(n.data)
            else:
                stack.extend(reversed(n.children))
        return "".join(parts)

    def iter_descendants(self):
        """self + all descendants, document order."""
        stack = [self]
        while stack:
            n = stack.pop()
            yield n
            stack.extend(reversed(n.children))


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node(DOCUMENT)
        self.stack = [self.root]

    def _open(self, tag: str, attrs) -> Node:
        if tag in _SELF_CLOSING_SIBLINGS:
            for i in range(len(self.stack) - 1, 0, -1):
                anc = self.stack[i]
                if anc.kind == ELEMENT and anc.tag == tag:
                    del self.stack[i:]
                    break
        node = Node(ELEMENT, tag, {k: (v if v is not None else "") for k, v in attrs})
        self.stack[-1].append(node)
        return node

    def handle_starttag(self, tag, attrs):
        node = self._open(tag, attrs)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self._open(tag, attrs)

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].kind == ELEMENT and self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # unmatched end tag: ignore (tolerant, like x/net/html)

    def handle_data(self, data):
        if data:
            self.stack[-1].append(Node(TEXT, data=data))

    def handle_comment(self, data):
        self.stack[-1].append(Node(COMMENT, data=data))

    def handle_pi(self, data):
        # html.parser hands `<?target content?>` as "target content?" —
        # split off the target (any XML whitespace separates it, not just
        # a space), strip the xml-style trailing '?'
        data = data[:-1] if data.endswith("?") else data
        parts = re.split(r"\s+", data, maxsplit=1)
        target = parts[0]
        content = parts[1] if len(parts) > 1 else ""
        self.stack[-1].append(Node(PI, tag=target, data=content))


def _normalize(root: Node) -> Node:
    """Impose the html>head>body document shape of x/net/html.Parse."""
    html_el = next(
        (c for c in root.children if c.kind == ELEMENT and c.tag == "html"), None
    )
    if html_el is None:
        html_el = Node(ELEMENT, "html")
        orphans = root.children
        root.children = []
        root.append(html_el)
    else:
        orphans = [c for c in root.children if c is not html_el]
        root.children = [html_el]
        html_el.parent = root

    head = next(
        (c for c in html_el.children if c.kind == ELEMENT and c.tag == "head"), None
    )
    body = next(
        (c for c in html_el.children if c.kind == ELEMENT and c.tag == "body"), None
    )
    loose = [c for c in html_el.children if c is not head and c is not body] + orphans
    if head is None:
        head = Node(ELEMENT, "head")
    if body is None:
        body = Node(ELEMENT, "body")
    html_el.children = []
    html_el.append(head)
    html_el.append(body)

    in_head = True
    for c in loose:
        if c.kind == ELEMENT and c.tag in _HEAD_ELEMENTS and in_head:
            head.append(c)
        else:
            # comments/PIs are transparent to head/body placement (like
            # whitespace text): they join whichever section is current
            if c.kind == ELEMENT or (c.kind == TEXT and c.data.strip()):
                in_head = False
            (head if in_head and c.kind in (COMMENT, PI) else body).append(c)

    for i, n in enumerate(root.iter_descendants()):
        n.ord = i
    return root


def parse_html(content: str) -> Node | None:
    """Parse HTML into a normalized document node; None on hard failure."""
    try:
        builder = _TreeBuilder()
        builder.feed(content)
        builder.close()
        return _normalize(builder.root)
    except Exception:
        return None


# ---------------------------------------------------------------------------
# XPath subset
# ---------------------------------------------------------------------------

class XPathError(ValueError):
    pass


def _split_steps(path: str) -> list[tuple[bool, str]]:
    """Split an abbreviated XPath into (descendant?, step) pairs."""
    steps: list[tuple[bool, str]] = []
    i, n = 0, len(path)
    if i < n and path[i] == "/":
        if path.startswith("//"):
            pass  # handled in loop
        # absolute: evaluation starts at document node either way
    first = True
    while i < n:
        desc = False
        if path.startswith("//", i):
            desc = True
            i += 2
        elif path[i] == "/":
            i += 1
        elif not first:
            raise XPathError(f"bad path near {path[i:]!r}")
        first = False
        # consume one step: up to next '/' not inside brackets/quotes
        j = i
        depth = 0
        quote = ""
        while j < n:
            ch = path[j]
            if quote:
                if ch == quote:
                    quote = ""
            elif ch in "\"'":
                quote = ch
            elif ch == "[":
                depth += 1
            elif ch == "]":
                depth -= 1
            elif ch == "/" and depth == 0:
                break
            j += 1
        step = path[i:j]
        if step == "" and desc:
            raise XPathError("path ends with //")
        if step:
            steps.append((desc, step))
        i = j
    if not steps:
        raise XPathError(f"empty path {path!r}")
    return steps


_PRED_SPLIT_RE = re.compile(r"^([^\[\]]*)((?:\[[^\[\]]*\])*)$")

#: explicit axes (XPath §2.2); namespace axis excluded like the vendored
#: engine ("All axes are supported, except for the namespace axis",
#: vendor/.../xmlpath/doc.go:15-16). Reverse axes position-count in reverse
#: document order per spec.
_AXES = frozenset(
    "child descendant descendant-or-self self parent ancestor "
    "ancestor-or-self following-sibling preceding-sibling following "
    "preceding attribute".split()
)


def _parse_step(step: str) -> tuple[str | None, str, list[str]]:
    """Step → (explicit axis | None, node test, predicates)."""
    m = _PRED_SPLIT_RE.match(step)
    if not m:
        raise XPathError(f"bad step {step!r}")
    test = m.group(1)
    preds = re.findall(r"\[([^\[\]]*)\]", m.group(2))
    axis = None
    if "::" in test:
        axis, _, test = test.partition("::")
        axis = axis.strip()
        test = test.strip()
        if axis not in _AXES:
            raise XPathError(f"unknown axis {axis!r}")
    return axis, test, preds


def _ancestors(node: Node) -> list[Node]:
    out, p = [], node.parent
    while p is not None:
        out.append(p)
        p = p.parent
    return out  # nearest first (reverse document order — axis order)


def _axis_pool(ctx, axis: str) -> list:
    """Nodes on ``axis`` from ``ctx``, in AXIS order (reverse axes nearest
    first so positional predicates count per spec; :func:`_run`'s final
    sort restores document order)."""
    if isinstance(ctx, AttrNode):
        # XPath: an attribute's parent is its owner element; it has no
        # children/siblings, and its ancestors are the owner's or-self chain
        if axis == "self":
            return [ctx]
        if axis == "parent":
            return [ctx.owner]
        if axis in ("ancestor", "ancestor-or-self"):
            base = [ctx.owner] + _ancestors(ctx.owner)
            return ([ctx] + base) if axis == "ancestor-or-self" else base
        return []
    if axis == "child":
        return list(ctx.children)
    if axis == "descendant":
        return list(ctx.iter_descendants())[1:]
    if axis == "descendant-or-self":
        return list(ctx.iter_descendants())
    if axis == "self":
        return [ctx]
    if axis == "parent":
        return [ctx.parent] if ctx.parent is not None else []
    if axis == "ancestor":
        return _ancestors(ctx)
    if axis == "ancestor-or-self":
        return [ctx] + _ancestors(ctx)
    if axis in ("following-sibling", "preceding-sibling"):
        if ctx.parent is None:
            return []
        sibs = ctx.parent.children
        i = next((k for k, n in enumerate(sibs) if n is ctx), None)
        if i is None:
            return []
        if axis == "following-sibling":
            return sibs[i + 1 :]
        return list(reversed(sibs[:i]))  # nearest first
    if axis in ("following", "preceding"):
        root = ctx
        while root.parent is not None:
            root = root.parent
        anc = set(id(a) for a in _ancestors(ctx))
        if axis == "following":
            # after ctx in doc order, excluding ctx's own descendants
            after = [
                n
                for n in root.iter_descendants()
                if n.ord > ctx.ord and not _is_descendant_of(n, ctx)
            ]
            return after
        before = [
            n for n in root.iter_descendants() if n.ord < ctx.ord and id(n) not in anc
        ]
        return list(reversed(before))  # nearest first
    raise XPathError(f"unknown axis {axis!r}")


def _is_descendant_of(node: Node, anc: Node) -> bool:
    p = node.parent
    while p is not None:
        if p is anc:
            return True
        p = p.parent
    return False


_PI_TEST_RE = re.compile(
    r"^processing-instruction\(\s*(?:(\"[^\"]*\"|'[^']*')\s*)?\)$"
)


def _compile_test(test: str) -> Callable[[list], list]:
    """Compile a node test into a filter over an axis pool (principal node
    type = element). Covers all node types but namespace, like the vendored
    engine (vendor/.../xmlpath/doc.go:17): text(), comment(),
    processing-instruction([name]), node(), *, and name tests. Attribute
    pseudo-nodes (kind 3) match none of the typed tests."""
    if test == "text()":
        return lambda pool: [n for n in pool if n.kind == TEXT]
    if test == "comment()":
        return lambda pool: [n for n in pool if n.kind == COMMENT]
    m = _PI_TEST_RE.match(test)
    if m:
        name = m.group(1)[1:-1] if m.group(1) else None
        return lambda pool: [
            n for n in pool if n.kind == PI and (name is None or n.tag == name)
        ]
    if test == "node()":
        return list
    if test == "*":
        return lambda pool: [n for n in pool if n.kind == ELEMENT]
    return lambda pool: [n for n in pool if n.kind == ELEMENT and n.tag == test]


def _attributes(bases: list, name: str) -> list:
    """Attribute pseudo-nodes named ``name`` (``*`` = all) of the elements
    in ``bases``."""
    sel = []
    for b in bases:
        if b.kind == ELEMENT:
            if name == "*":
                sel.extend(AttrNode(b, k) for k in b.attrs)
            elif name in b.attrs:
                sel.append(AttrNode(b, name))
    return sel


def _abbrev_pools(ctx, desc: bool) -> tuple[list, list]:
    """(pool with self, pool) of an abbreviated step: ``//x`` ≡
    descendant-or-self::node()/child::x → all strict descendants, and
    attributes additionally cover self."""
    if desc:
        with_self = list(ctx.iter_descendants())
        return with_self, with_self[1:]
    return [ctx], ctx.children


def _compile_select(axis: str | None, test: str, desc: bool) -> Callable[[object], list]:
    """Compile one step's axis + node test into ``ctx -> nodes``: the
    per-context group that positional predicates count in."""
    if axis == "attribute":
        # under ``//`` the context first expands to descendant-or-self
        # (flattened into the ctx's one group, doc order, matching the
        # abbreviated ``//`` grouping below)
        return lambda ctx: _attributes(list(ctx.iter_descendants()) if desc else [ctx], test)
    if axis is not None:
        node_test = _compile_test(test)

        def select(ctx):
            bases = list(ctx.iter_descendants()) if desc else [ctx]
            sel = []
            seen_ids: set[int] = set()
            for b in bases:
                for n in node_test(_axis_pool(b, axis)):
                    if id(n) not in seen_ids:
                        seen_ids.add(id(n))
                        sel.append(n)
            return sel

        return select
    if test == ".":
        return lambda ctx: [ctx]
    if test == "..":
        return lambda ctx: [ctx.parent] if ctx.parent is not None else []
    if test.startswith("@"):
        name = test[1:]
        return lambda ctx: _attributes(_abbrev_pools(ctx, desc)[0], name)
    node_test = _compile_test(test)
    return lambda ctx: node_test(_abbrev_pools(ctx, desc)[1])


class AttrNode:
    """Attribute pseudo-node (string-value = attribute value)."""

    __slots__ = ("owner", "name")

    def __init__(self, owner: Node, name: str):
        self.owner = owner
        self.name = name

    @property
    def kind(self):  # attribute
        return 3

    @property
    def ord(self):
        return self.owner.ord

    def string_value(self) -> str:
        return self.owner.attrs.get(self.name, "")


_CONTAINS_RE = re.compile(r"^contains\(\s*(.+?)\s*,\s*(\"[^\"]*\"|'[^']*')\s*\)$")
_NOT_RE = re.compile(r"^not\(\s*(.+)\s*\)$")
_CMP_RE = re.compile(r"^(.+?)\s*=\s*(\"[^\"]*\"|'[^']*')$")
_POSITION_RE = re.compile(r"^position\(\)\s*=\s*(\d+)$")


def _split_top(pred: str, op: str) -> list[str]:
    """Split ``pred`` on ``op`` occurrences at paren/bracket depth 0 outside
    quotes — the tokenizer behind ``and``/``or`` precedence and
    parenthesized grouping (vendor/.../xmlpath/doc.go:19: predicates "may
    be joined with 'or', 'and', and parenthesis")."""
    parts: list[str] = []
    depth, quote, start, i, n = 0, "", 0, 0, len(pred)
    while i < n:
        ch = pred[i]
        if quote:
            if ch == quote:
                quote = ""
        elif ch in "\"'":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and pred.startswith(op, i):
            parts.append(pred[start:i])
            start = i + len(op)
            i = start
            continue
        i += 1
    parts.append(pred[start:])
    return parts


def _strippable_parens(pred: str) -> bool:
    """True when pred is '(...)' with the opening paren matching the LAST
    char — i.e. the parens wrap the whole expression."""
    if not (pred.startswith("(") and pred.endswith(")")):
        return False
    depth, quote = 0, ""
    for i, ch in enumerate(pred):
        if quote:
            if ch == quote:
                quote = ""
        elif ch in "\"'":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i == len(pred) - 1
    return False


def _compile_operand(expr: str) -> Callable[[Node], list]:
    """Compile a predicate operand (relative path / @attr / text()) into
    ``node -> result nodes``; a malformed operand is an empty one."""
    try:
        steps = _compile_path(expr)
    except XPathError:
        return lambda node: []
    return lambda node: _run(steps, [node])


_Predicate = Callable[[object, int, int], bool]  # (node, position, size)


def _compile_predicate(pred: str) -> _Predicate:
    pred = pred.strip()
    # boolean grammar: or_expr := and_expr (' or ' and_expr)*;
    # and_expr := unary (' and ' unary)*; unary := '(' expr ')' | not(...) | atom
    for op, fn in ((" or ", any), (" and ", all)):
        parts = _split_top(pred, op)
        if len(parts) > 1:
            subs = [_compile_predicate(p) for p in parts]
            return lambda n, pos, size: fn(s(n, pos, size) for s in subs)
    if _strippable_parens(pred):
        return _compile_predicate(pred[1:-1])
    m = _NOT_RE.match(pred)
    if m:
        sub = _compile_predicate(m.group(1))
        return lambda n, pos, size: not sub(n, pos, size)
    if pred.isdigit():
        k = int(pred)
        return lambda n, pos, size: pos == k
    if pred == "last()":
        return lambda n, pos, size: pos == size
    m = _POSITION_RE.match(pred)
    if m:
        k = int(m.group(1))
        return lambda n, pos, size: pos == k
    m = _CONTAINS_RE.match(pred)
    if m:
        operand, needle = _compile_operand(m.group(1)), m.group(2)[1:-1]
        return lambda n, pos, size: any(needle in v.string_value() for v in operand(n))
    m = _CMP_RE.match(pred)
    if m:
        operand, lit = _compile_operand(m.group(1).strip()), m.group(2)[1:-1]
        return lambda n, pos, size: any(v.string_value() == lit for v in operand(n))
    # existence test: @attr or relative path
    operand = _compile_operand(pred)
    return lambda n, pos, size: bool(operand(n))


_Step = tuple[Callable[[object], list], tuple[_Predicate, ...]]


def _compile_path(path: str) -> tuple[_Step, ...]:
    """Path → steps of (select, predicates); raises XPathError when malformed."""
    steps = []
    for desc, step in _split_steps(path):
        axis, test, preds = _parse_step(step)
        steps.append((_compile_select(axis, test, desc), tuple(map(_compile_predicate, preds))))
    return tuple(steps)


#: One compiled form per path string: a rule's path is tokenized once, not
#: once per document (and its predicates not once per candidate node).
compile_xpath = functools.lru_cache(maxsize=1024)(_compile_path)


def _run(steps: tuple[_Step, ...], context: list) -> list:
    nodes = context
    for select, preds in steps:
        nxt = []
        for ctx in nodes:
            sel = select(ctx)
            for pred in preds:
                size = len(sel)
                sel = [n for i, n in enumerate(sel, 1) if pred(n, i, size)]
            nxt.extend(sel)
        if not nxt:
            return []
        if len(nxt) > 1:
            # document-order dedup
            seen_ids = set()
            ordered = []
            for n in sorted(nxt, key=lambda x: x.ord):
                if id(n) not in seen_ids:
                    seen_ids.add(id(n))
                    ordered.append(n)
            nxt = ordered
        nodes = nxt
    return nodes


def xpath_all(root: Node, path: str) -> list:
    """All matching nodes in document order; XPathError on a malformed path."""
    return _run(compile_xpath(path), [root])


def html_xpath_first(content: str, path: str) -> str | None:
    """Parse ``content`` as HTML, return the string-value of the first node
    matched by ``path`` (document order), or None when nothing matches /
    the content cannot be parsed. Mirrors xPathNodeRule.GetFirst
    (/root/reference/ruler/xpath_node.go:33-60)."""
    root = parse_html(content)
    if root is None:
        return None
    try:
        nodes = xpath_all(root, path)
    except XPathError:
        return None
    if not nodes:
        return None
    return nodes[0].string_value()


_WS_RE = re.compile(r"\s+")


def html_visible_text(content: str) -> str:
    """Whitespace-normalized visible text (script/style excluded).

    This is OUR text-extraction contract for the corpus `text` column — the
    per-row byte-identical invariant (BASELINE.json input_hint) is defined
    against this function.
    """
    root = parse_html(content)
    if root is None:
        return ""
    parts: list[str] = []
    stack = [root]
    while stack:
        n = stack.pop()
        if n.kind == TEXT:
            parts.append(n.data)
        elif n.kind in (ELEMENT, DOCUMENT):
            if n.kind == ELEMENT and n.tag in ("script", "style"):
                continue
            stack.extend(reversed(n.children))
    return _WS_RE.sub(" ", "".join(parts)).strip()
