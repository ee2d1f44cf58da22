"""Serializer kernels: statement streams -> syntax bytes.

Re-expresses the reference's serializer family (registered in
src/raptor_serialize.c:66-118):

- :func:`to_ntriples` / :func:`to_nquads` — the streaming, stateless
  writers (src/raptor_serialize_ntriples.c:194-332); pure function of
  each statement, so the Spark form is a column expression (`nt_line`).
- :func:`to_turtle` / :func:`to_trig` — the buffered abbreviating writer
  (src/raptor_serialize_turtle.c:1388-1497 buffers the whole graph into
  an AVL model grouped by subject, then emits): groups statements per
  subject, abbreviates QNames against a prefix map, inlines anonymous
  blank nodes referenced exactly once (the object-reference count check
  of raptor_serialize_turtle.c:1450-1452), renders rdf:first/rest chains
  as ``( ... )`` collections, and uses ``a`` for rdf:type.
- :func:`to_rdfxml` — the streaming plain RDF/XML writer, one
  rdf:Description per subject group (src/raptor_serialize_rdfxml.c),
  with predicate URIs split at the longest valid-NCName suffix.
- :func:`to_json` — RDF/JSON resource-centric shape
  (src/raptor_serialize_json.c).
- :func:`to_dot` — GraphViz digraph with node dedup
  (src/raptor_serialize_dot.c).
- :func:`to_html` — HTML table of triples (src/raptor_serialize_html.c).

All writers are pure Python over lists of :class:`Triple` — the per-
document payload inside an ``applyInPandas`` group (one conversation =
one document), so serialization distributes the same way parsing does.
"""

from __future__ import annotations

import json as _json
import re
from collections import OrderedDict, defaultdict
from typing import Dict, Iterable, List, Optional, Tuple

from raptor_spark.kernel.terms import (
    KIND_BLANK,
    KIND_LITERAL,
    KIND_URI,
    RDF_FIRST,
    RDF_NIL,
    RDF_NS,
    RDF_REST,
    RDF_TYPE,
    Triple,
    escape_nt_literal,
    escape_nt_uri,
    nt_render_statement,
)

# --------------------------------------------------------------------------
# N-Triples / N-Quads
# --------------------------------------------------------------------------

_HEX = "0123456789ABCDEF"


def z_escape_bnodeid(label: str) -> str:
    """Reversible, injective bnode-id encoding with 'z' as introducer
    (reference: raptor_bnodeid_ntriples_write,
    src/raptor_serialize_ntriples.c:130-158) — guarantees serializer
    output labels are always legal to reparse (e.g. a label ending in
    '.' survives the parser's trailing-dot rule)."""
    out = []
    for ch in label:
        if ch.isascii() and ch.isalnum() and ch != "z":
            out.append(ch)
        elif ch == "z":
            out.append("zz")
        else:
            for b in ch.encode("utf-8"):
                out.append("z" + _HEX[b >> 4] + _HEX[b & 0x0F])
    return "".join(out)


def _zt(t: Triple) -> Triple:
    """Statement with z-escaped bnode labels (serializer-side only)."""
    subj = "_:" + z_escape_bnodeid(t.subj[2:]) if t.subj.startswith("_:") else t.subj
    graph = t.graph
    if graph is not None and graph.startswith("_:"):
        graph = "_:" + z_escape_bnodeid(graph[2:])
    obj_lex = t.obj_lex
    if t.obj_kind == KIND_BLANK:
        obj_lex = z_escape_bnodeid(obj_lex)
    return t._replace(subj=subj, obj_lex=obj_lex, graph=graph)


def to_ntriples(triples: Iterable[Triple]) -> str:
    return "".join(
        nt_render_statement(_zt(t), with_graph=False) + "\n" for t in triples
    )


def to_nquads(triples: Iterable[Triple]) -> str:
    return "".join(
        nt_render_statement(_zt(t), with_graph=True) + "\n" for t in triples
    )


# --------------------------------------------------------------------------
# Turtle / TriG (buffered, abbreviating)
# --------------------------------------------------------------------------

_PN_LOCAL_RE = re.compile(r"^[A-Za-z0-9_][A-Za-z0-9_.\-]*$")


def _qname(uri: str, namespaces: Dict[str, str]) -> Optional[str]:
    """Abbreviate a URI against prefix -> namespace bindings (reference:
    raptor_turtle_writer qname lookup via raptor_namespaces_find)."""
    best = None
    for prefix, ns in namespaces.items():
        if uri.startswith(ns) and len(ns) > (
            len(namespaces.get(best, "")) if best is not None else 0
        ):
            local = uri[len(ns):]
            if local == "" or (_PN_LOCAL_RE.match(local) and not local.endswith(".")):
                best = prefix
    if best is None:
        return None
    local = uri[len(namespaces[best]):]
    return f"{best}:{local}"


def _ttl_uri(uri: str, namespaces: Dict[str, str]) -> str:
    q = _qname(uri, namespaces)
    return q if q is not None else "<" + escape_nt_uri(uri) + ">"


def _ttl_literal(t: Triple, namespaces: Dict[str, str]) -> str:
    body = '"' + escape_nt_literal(t.obj_lex) + '"'
    if t.obj_lang:
        body += "@" + t.obj_lang
    if t.obj_datatype:
        body += "^^" + _ttl_uri(t.obj_datatype, namespaces)
    return body


class _TurtleModel:
    """Subject-grouped model with bnode reference counts (the Spark-free
    analogue of raptor_abbrev's nodes/subjects trees)."""

    def __init__(self, triples: List[Triple]):
        self.props: "OrderedDict[str, OrderedDict[str, List[Triple]]]" = OrderedDict()
        self.obj_refs = defaultdict(int)
        for t in triples:
            self.props.setdefault(t.subj, OrderedDict()).setdefault(
                t.pred, []
            ).append(t)
            if t.obj_kind == KIND_BLANK:
                self.obj_refs["_:" + t.obj_lex] += 1

    def is_collection(self, subj: str) -> bool:
        ps = self.props.get(subj)
        return (
            ps is not None
            and set(ps) == {RDF_FIRST, RDF_REST}
            and len(ps[RDF_FIRST]) == 1
            and len(ps[RDF_REST]) == 1
        )

    def inlineable(self, subj: str) -> bool:
        return subj.startswith("_:") and self.obj_refs[subj] == 1


def to_turtle(
    triples: Iterable[Triple],
    namespaces: Optional[Dict[str, str]] = None,
    _bnode_map: Optional[Dict[str, str]] = None,
    _no_inline: frozenset = frozenset(),
    _prefix_header: bool = True,
) -> str:
    """Serialize the default graph as abbreviated Turtle.

    Named (non-inlined) blank nodes are renumbered ``_:b1..`` in
    first-seen order — deterministic, and immune to collisions with the
    parser's own ``genidN`` sequence on reparse (labels are meaningless
    under the reference's rdfdiff comparison anyway). ``_bnode_map`` and
    ``_no_inline`` let :func:`to_trig` keep one document-wide label scope
    and forbid inlining of bnodes shared between graphs."""
    triples = [t for t in triples]
    namespaces = dict(namespaces or {})
    namespaces.setdefault("rdf", RDF_NS)
    model = _TurtleModel(triples)
    emitted = set()
    bnode_map = _bnode_map if _bnode_map is not None else {}

    def blabel(label: str) -> str:
        return bnode_map.setdefault(label, "_:b%d" % (len(bnode_map) + 1))

    out: List[str] = []
    if _prefix_header:
        for prefix, ns in namespaces.items():
            name = (prefix + ":") if prefix else ":"
            out.append(f"@prefix {name} <{escape_nt_uri(ns)}> .\n")
        out.append("\n")

    def inlineable(label: str) -> bool:
        return model.inlineable(label) and label not in _no_inline

    def collection_chain(head: str) -> Optional[List[str]]:
        """Well-formed rdf list from head to rdf:nil, every node a
        single-use {first, rest} bnode — else None (no partial inlining,
        which would drop rest links)."""
        chain = []
        node = head
        seen = set()
        while node != RDF_NIL:
            if node in seen or not (
                model.is_collection(node) and inlineable(node)
            ):
                return None
            seen.add(node)
            chain.append(node)
            rest_t = model.props[node][RDF_REST][0]
            if rest_t.obj_kind == KIND_BLANK:
                node = "_:" + rest_t.obj_lex
            elif rest_t.obj_kind == KIND_URI:
                node = rest_t.obj_lex
            else:
                return None
        return chain

    def render_object(t: Triple, depth: int) -> str:
        if t.obj_kind == KIND_LITERAL:
            return _ttl_literal(t, namespaces)
        if t.obj_kind == KIND_URI:
            return _ttl_uri(t.obj_lex, namespaces)
        label = "_:" + t.obj_lex
        chain = collection_chain(label) if label not in emitted else None
        if chain is not None:
            for n in chain:
                emitted.add(n)
            items = [
                render_object(model.props[n][RDF_FIRST][0], depth + 1)
                for n in chain
            ]
            return "( " + " ".join(items) + " )" if items else "( )"
        if inlineable(label) and label in model.props and label not in emitted:
            return render_inline_bnode(label, depth)
        return blabel(label)

    def render_props(subj: str, depth: int) -> str:
        pad = "    " * depth
        parts = []
        ps = model.props.get(subj, OrderedDict())
        for pred, ts in ps.items():
            pred_s = "a" if pred == RDF_TYPE else _ttl_uri(pred, namespaces)
            objs = ", ".join(render_object(t, depth) for t in ts)
            parts.append(f"{pad}{pred_s} {objs}")
        return " ;\n".join(parts)

    def render_inline_bnode(label: str, depth: int) -> str:
        emitted.add(label)
        body = render_props(label, depth + 1)
        pad = "    " * depth
        return "[\n" + body + "\n" + pad + "]"

    for subj in model.props:
        if subj in emitted:
            continue
        if subj.startswith("_:"):
            if inlineable(subj) or model.is_collection(subj):
                continue  # rendered inline at its reference site
            subj_s = blabel(subj)
        else:
            subj_s = _ttl_uri(subj, namespaces)
        emitted.add(subj)
        out.append(subj_s + "\n" + render_props(subj, 1) + " .\n\n")
    # anything skipped as "inlineable" but never actually referenced
    # (dangling) still needs top-level emission
    for subj in model.props:
        if subj not in emitted:
            emitted.add(subj)
            out.append(blabel(subj) + "\n" + render_props(subj, 1) + " .\n\n")
    return "".join(out)


def to_trig(
    triples: Iterable[Triple], namespaces: Optional[Dict[str, str]] = None
) -> str:
    """TriG: Turtle with {} blocks per named graph
    (reference: trig support in src/raptor_serialize_turtle.c).

    Blank-node labels are document-scoped in TriG, so one label map spans
    all blocks, and bnodes appearing in more than one graph (or as graph
    names) are pinned to named form — inlining them inside one block
    would silently split their identity."""
    triples = list(triples)
    namespaces = dict(namespaces or {})
    namespaces.setdefault("rdf", RDF_NS)
    by_graph: "OrderedDict[Optional[str], List[Triple]]" = OrderedDict()
    graphs_of = defaultdict(set)
    graph_name_bnodes = set()
    for t in triples:
        by_graph.setdefault(t.graph, []).append(t)
        if t.subj.startswith("_:"):
            graphs_of[t.subj].add(t.graph)
        if t.obj_kind == KIND_BLANK:
            graphs_of["_:" + t.obj_lex].add(t.graph)
        if t.graph is not None and t.graph.startswith("_:"):
            graph_name_bnodes.add(t.graph)
    no_inline = frozenset(
        b for b, gs in graphs_of.items() if len(gs) > 1
    ) | frozenset(graph_name_bnodes)
    bnode_map: Dict[str, str] = {}

    out = []
    for prefix, ns in namespaces.items():
        name = (prefix + ":") if prefix else ":"
        out.append(f"@prefix {name} <{escape_nt_uri(ns)}> .\n")
    out.append("\n")
    for graph, ts in by_graph.items():
        body = to_turtle(
            ts,
            namespaces,
            _bnode_map=bnode_map,
            _no_inline=no_inline,
            _prefix_header=False,
        )
        if graph is None:
            out.append(body)
        else:
            g = (
                bnode_map.setdefault(graph, "_:b%d" % (len(bnode_map) + 1))
                if graph.startswith("_:")
                else "<" + escape_nt_uri(graph) + ">"
            )
            indented = "".join(
                ("    " + line if line.strip() else line)
                for line in body.splitlines(keepends=True)
            )
            out.append(g + " {\n" + indented + "}\n\n")
    return "".join(out)


# --------------------------------------------------------------------------
# Turtle, byte-exact (the reference's raptor_serialize_turtle.c +
# raptor_turtle_writer.c layout, verified against the committed
# tests/turtle/*-out.ttl and tests/feeds/*-result.ttl goldens)
# --------------------------------------------------------------------------

_XSD = "http://www.w3.org/2001/XMLSchema#"
_XML_NS = "http://www.w3.org/XML/1998/namespace"
_TTL_URI_ESC = set('<>"{}|^`')
_XSD_DECIMAL_RE = re.compile(r"^[+-]?[0-9]*\.[0-9]+$")
_XSD_DOUBLE_RE = re.compile(
    r"^[+-]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)[eE][+-]?[0-9]+$"
)
_XSD_INTEGER_RE = re.compile(r"^\s*[+-]?[0-9]+$")
# XML Name (start letter/_) intersected with legal-turtle-qname locals
# (leading alnum/_, no '.'): raptor_serialize_turtle.c:152-180 +
# raptor_xml_name_check
_TTL_LOCAL_RE = re.compile(r"^[^\W\d.][\w\-]*$", re.UNICODE)
_TTL_PREFIX_OK = re.compile(r"^[^\W_.][\w\-]*$", re.UNICODE)


def _ttlx_term_key(term):
    """raptor_term_compare (src/raptor_term.c:741-800): type rank (URI <
    literal < blank per raptor_term_type values 1/2/4), then value
    strcmp; literals by lexical, then language (caseless, absent
    first), then datatype (absent first)."""
    kind, a, b, c = term
    if kind == "u":
        return (1, a)
    if kind == "l":
        return (
            2, a,
            (1, b.lower()) if b else (0, ""),
            (1, c) if c else (0, ""),
        )
    return (4, a)


def _ttlx_escape_literal(s: str) -> str:
    # RAPTOR_ESCAPED_WRITE_TURTLE_LITERAL = UTF8 only
    # (raptor_escaped.c:53-155): just delim + backslash escapes,
    # everything else raw
    return s.replace("\\", "\\\\").replace('"', '\\"')


def _ttlx_escape_uri(s: str) -> str:
    # RAPTOR_ESCAPED_WRITE_TURTLE_URI = UTF8 | SPARQL_URI_ESCAPES
    out = []
    for ch in s:
        if ch == "\\":
            out.append("\\\\")
        elif ch <= " " or ch in _TTL_URI_ESC:
            out.append("\\u%04X" % ord(ch))
        else:
            out.append(ch)
    return "".join(out)


class _TurtleExactWriter:
    """raptor_turtle_writer: 2-step indent of width 2 => 4 spaces per
    level, written eagerly after every newline."""

    def __init__(self, base_uri, namespaces):
        self.parts: List[str] = []
        self.level = 0
        self.base = base_uri
        # qname search order: built-in rdf, declared prefixes, xml
        self.namespaces = namespaces

    def raw(self, s: str) -> None:
        self.parts.append(s)

    def newline(self) -> None:
        self.parts.append("\n" + "    " * self.level)

    def reference(self, uri: str) -> None:
        if self.base:
            from raptor_spark.kernel.uri import uri_to_relative

            uri = uri_to_relative(self.base, uri)
        self.parts.append("<" + _ttlx_escape_uri(uri) + ">")

    def qname(self, uri: str) -> Optional[str]:
        for prefix, ns in self.namespaces:
            if not ns or len(ns) >= len(uri) or not uri.startswith(ns):
                continue
            local = uri[len(ns):]
            if not _TTL_LOCAL_RE.match(local):
                continue
            if prefix and not _TTL_PREFIX_OK.match(prefix):
                continue
            return (prefix or "") + ":" + local
        return None

    def resource(self, uri: str) -> None:
        if uri == RDF_NIL:
            self.raw("( )")
            return
        q = self.qname(uri)
        if q is not None:
            self.raw(q)
        else:
            self.reference(uri)

    def literal(self, lex: str, lang, dt) -> None:
        if dt:
            if dt == _XSD + "integer" and _XSD_INTEGER_RE.match(lex):
                self.raw(lex)
                return
            if dt == _XSD + "decimal" and _XSD_DECIMAL_RE.match(lex):
                self.raw(lex)
                return
            if dt == _XSD + "double" and _XSD_DOUBLE_RE.match(lex):
                self.raw(lex)
                return
            if dt == _XSD + "boolean":
                if lex in ("0", "false"):
                    self.raw("false")
                    return
                if lex in ("1", "true"):
                    self.raw("true")
                    return
        q = '"""' if "\n" in lex else '"'
        self.raw(q + _ttlx_escape_literal(lex) + q)
        if dt:
            self.raw("^^")
            self.resource(dt)
        elif lang:
            self.raw("@" + lang)


def to_turtle_exact(
    triples: Iterable[Triple],
    namespaces: Iterable[Tuple[Optional[str], str]] = (),
    base_uri: Optional[str] = None,
    write_base: bool = True,
) -> str:
    """Serialize exactly like the reference turtle serializer: @base (if
    any) then @prefix lines (built-in rdf first, then the declared
    namespaces deduped by prefix and URI), then subject blocks — URI
    subjects sorted, then named blank subjects — with properties in
    (predicate, object) term order, `a` for rdf:type, `, ` object
    lists, inline [ ... ] for once-referenced bnodes, ( ... )
    collections, and xsd numeric/boolean literal abbreviation."""

    def term_of(kind, lex, dt=None, lang=None):
        if kind == KIND_URI:
            return ("u", lex, None, None)
        if kind == KIND_BLANK:
            return ("b", lex, None, None)
        return ("l", lex, lang, dt)

    # -- abbrev model: subjects + object reference counts ------------------
    uri_subjects: Dict[tuple, set] = {}
    blank_subjects: Dict[tuple, set] = {}
    count_as_object: Dict[tuple, int] = defaultdict(int)
    for t in triples:
        subj = (
            ("b", t.subj[2:], None, None)
            if t.subj.startswith("_:")
            else ("u", t.subj, None, None)
        )
        table = blank_subjects if subj[0] == "b" else uri_subjects
        props = table.setdefault(subj, set())
        obj = term_of(t.obj_kind, t.obj_lex, t.obj_datatype, t.obj_lang)
        props.add((("u", t.pred, None, None), obj))
        # counted per statement, before de-duplication
        # (raptor_turtle_serialize_statement)
        if obj[0] in ("u", "b"):
            count_as_object[obj] += 1

    # -- prologue -----------------------------------------------------------
    declared: List[Tuple[Optional[str], str]] = [("rdf", RDF_NS)]
    for prefix, ns in namespaces:
        prefix = prefix or None
        if any(
            p == prefix or (u and ns and u == ns) for p, u in declared
        ):
            continue
        declared.append((prefix, ns))

    w = _TurtleExactWriter(None, [])
    if base_uri and write_base:
        w.raw("@base ")
        w.reference(base_uri)
        w.raw(" .\n")
    w.base = base_uri
    for prefix, ns in declared:
        w.raw("@prefix %s: " % (prefix or ""))
        w.reference(ns)
        w.raw(" .\n")
    w.namespaces = declared + [("xml", _XML_NS)]
    w.newline()

    rdf_type = ("u", RDF_TYPE, None, None)
    rdf_first = ("u", RDF_FIRST, None, None)
    rdf_rest = ("u", RDF_REST, None, None)
    invalid: set = set()

    def emit_object(obj, depth):
        if obj[0] == "u":
            w.resource(obj[1])
        elif obj[0] == "l":
            w.literal(obj[1], obj[2], obj[3])
        else:
            emit_blank(obj, depth)

    def emit_blank(obj, depth):
        blank = blank_subjects.get(obj)
        if (
            count_as_object[obj] == 1
            and blank is not None
            and obj not in invalid
        ):
            # mark BEFORE recursing: a reference cycle re-entering this
            # node mid-emission must render the named form instead of
            # recursing forever (byte-identical for acyclic graphs —
            # a node cannot be re-encountered during its own emission)
            invalid.add(obj)
            emit_subject(obj, blank, depth + 1)
        else:
            w.raw("_:" + obj[1])

    def emit_properties(props, depth):
        last_pred = None
        for pred, obj in sorted(
            props, key=lambda po: (_ttlx_term_key(po[0]),
                                   _ttlx_term_key(po[1]))
        ):
            if pred != last_pred:
                if last_pred is not None:
                    w.raw(" ;")
                    w.newline()
                if pred == rdf_type:
                    w.raw("a")
                else:
                    w.resource(pred[1])
                w.raw(" ")
            else:
                w.raw(", ")
            emit_object(obj, depth + 1)
            last_pred = pred

    def emit_collection(subj, depth):
        # walk rdf:first/rdf:rest chains like
        # raptor_turtle_emit_subject_collection_items
        w.raw("(")
        w.level += 1
        first = True
        node = subj
        seen = set()
        while True:
            if node in seen:
                # cyclic rdf:rest chain: stop the walk (the visited
                # nodes stay marked invalid, so nothing re-emits them)
                break
            seen.add(node)
            props = dict(
                sorted(
                    blank_subjects.get(node, uri_subjects.get(node, ())),
                    key=lambda po: (_ttlx_term_key(po[0]),
                                    _ttlx_term_key(po[1])),
                )
            )
            if rdf_first not in props:
                break
            if not first:
                w.newline()
            first = False
            emit_object(props[rdf_first], depth + 1)
            rest = props.get(rdf_rest)
            if rest is None or rest[0] != "b":
                break
            invalid.add(node)
            node = rest
        invalid.add(node)
        w.level -= 1
        w.newline()
        w.raw(")")

    def emit_subject(subj, props, depth):
        if not props:
            return
        spo = sorted(
            (po[0] for po in props), key=_ttlx_term_key
        )
        collection = (
            depth > 0
            and len(props) >= 2
            and {spo[0], spo[1]} == {rdf_first, rdf_rest}
        )
        blank = True
        if subj[0] == "u":
            w.resource(subj[1])
            blank = False
            collection = False
        else:
            c_obj = count_as_object[subj]
            if c_obj == 1 and depth > 1:
                pass  # inline anonymous form (blank stays True)
            elif c_obj == 0:
                w.raw("[]")
                blank = False
            elif not collection and c_obj > 1:
                w.raw("_:" + subj[1])
        if collection:
            emit_collection(subj, depth)
        else:
            if blank and depth > 1:
                w.raw("[")
            w.level += 1
            w.newline()
            emit_properties(props, depth)
            w.level -= 1
            if blank and depth > 1:
                w.newline()
                w.raw("]")
        if depth == 0:
            w.raw(" .")
            w.newline()
            w.newline()

    for subj in sorted(uri_subjects, key=_ttlx_term_key):
        if subj not in invalid:
            emit_subject(subj, uri_subjects[subj], 0)
    for subj in sorted(blank_subjects, key=_ttlx_term_key):
        if subj in invalid:
            continue
        if count_as_object[subj] == 1:
            # inlined at its reference point (emitted there)
            continue
        emit_subject(subj, blank_subjects[subj], 0)

    # dangling recovery (mirrors to_turtle): a blank subject skipped as
    # "inlined at its reference point" whose reference site itself was
    # never emitted (orphan reference cycles like '_:a p _:b . _:b p
    # _:a .') must still be emitted top-level in NAMED form, or its
    # statements silently vanish from the output
    for subj in sorted(blank_subjects, key=_ttlx_term_key):
        if subj in invalid or count_as_object[subj] != 1:
            continue
        invalid.add(subj)
        w.raw("_:" + subj[1])
        w.level += 1
        w.newline()
        emit_properties(blank_subjects[subj], 1)
        w.level -= 1
        w.raw(" .")
        w.newline()
        w.newline()

    return "".join(w.parts)


# --------------------------------------------------------------------------
# RDF/XML (streaming plain writer)
# --------------------------------------------------------------------------

_NCNAME_CHAR = re.compile(r"[A-Za-z0-9_.\-\u00C0-\uFFFF]")
_NCNAME_START = re.compile(r"[A-Za-z_\u00C0-\uFFFF]")


def split_predicate(uri: str) -> Tuple[str, str]:
    """Split a predicate URI into (namespace, NCName local part) at the
    shortest valid-NCName suffix (reference: the rdfxml serializer's
    raptor_xml_name splitting). Raises ValueError if no split exists."""
    n = len(uri)
    i = n
    while i > 0 and _NCNAME_CHAR.match(uri[i - 1]):
        i -= 1
    while i < n and not _NCNAME_START.match(uri[i]):
        i += 1
    if i >= n or i == 0:
        raise ValueError("predicate URI %r has no XML-name local part" % uri)
    return uri[:i], uri[i:]


from raptor_spark.kernel.terms import (  # noqa: E402
    xml_escape_attr as _xml_attr,
    xml_escape_text as _xml_escape,
)


def to_rdfxml(triples: Iterable[Triple]) -> str:
    out = [
        '<?xml version="1.0" encoding="utf-8"?>\n',
        '<rdf:RDF xmlns:rdf="%s">\n' % RDF_NS,
    ]
    for t in triples:
        if t.subj.startswith("_:"):
            subj_attr = 'rdf:nodeID="%s"' % _xml_attr(t.subj[2:])
        else:
            subj_attr = 'rdf:about="%s"' % _xml_attr(t.subj)
        try:
            ns, local = split_predicate(t.pred)
        except ValueError:
            # reference: "Cannot split predicate URI ... into an XML
            # qname - skipping statement"
            # (src/raptor_serialize_rdfxml.c:380) — skip, never abort
            # the document (one bad predicate would otherwise kill the
            # whole Arrow batch in the distributed sink)
            continue
        open_tag = '<ns0:%s xmlns:ns0="%s"' % (local, _xml_attr(ns))
        if t.obj_kind == KIND_URI:
            body = '%s rdf:resource="%s"/>' % (open_tag, _xml_attr(t.obj_lex))
        elif t.obj_kind == KIND_BLANK:
            body = '%s rdf:nodeID="%s"/>' % (open_tag, _xml_attr(t.obj_lex))
        else:
            attrs = ""
            if t.obj_lang:
                attrs += ' xml:lang="%s"' % _xml_attr(t.obj_lang)
            if t.obj_datatype:
                attrs += ' rdf:datatype="%s"' % _xml_attr(t.obj_datatype)
            body = "%s%s>%s</ns0:%s>" % (open_tag, attrs, _xml_escape(t.obj_lex), local)
        out.append("  <rdf:Description %s>\n    %s\n  </rdf:Description>\n" % (subj_attr, body))
    out.append("</rdf:RDF>\n")
    return "".join(out)


def to_rdfxml_abbrev(triples: Iterable[Triple]) -> str:
    """Abbreviated RDF/XML (reference: src/raptor_serialize_rdfxmla.c):
    statements buffered and grouped by subject like the turtle writer's
    abbrev model (src/raptor_abbrev.c); one node element per subject,
    typed by its first rdf:type URI when that splits to an XML name;
    remaining statements as property elements."""
    triples = list(triples)
    by_subj: "OrderedDict[str, List[Triple]]" = OrderedDict()
    for t in triples:
        by_subj.setdefault(t.subj, []).append(t)

    ns_of: Dict[str, str] = {}

    def prefix_for(ns: str) -> str:
        if ns not in ns_of:
            ns_of[ns] = "ns%d" % len(ns_of)
        return ns_of[ns]

    body: List[str] = []
    for subj, ts in by_subj.items():
        if subj.startswith("_:"):
            subj_attr = 'rdf:nodeID="%s"' % _xml_attr(subj[2:])
        else:
            subj_attr = 'rdf:about="%s"' % _xml_attr(subj)
        # typed node: first rdf:type with a splittable URI object
        type_qname = None
        rest: List[Triple] = []
        for t in ts:
            if (
                type_qname is None
                and t.pred == RDF_NS + "type"
                and t.obj_kind == KIND_URI
            ):
                try:
                    tns, tlocal = split_predicate(t.obj_lex)
                    type_qname = (prefix_for(tns), tns, tlocal)
                    continue
                except ValueError:
                    pass
            rest.append(t)
        if type_qname is not None:
            tp, tns, tlocal = type_qname
            elem = "%s:%s" % (tp, tlocal)
            open_extra = ' xmlns:%s="%s"' % (tp, _xml_attr(tns))
        else:
            elem = "rdf:Description"
            open_extra = ""
        props: List[str] = []
        for t in rest:
            try:
                ns, local = split_predicate(t.pred)
            except ValueError:
                # skip like the reference (raptor_serialize_rdfxmla.c:553
                # "Cannot split URI ... into an XML qname")
                continue
            p = prefix_for(ns)
            open_tag = '<%s:%s xmlns:%s="%s"' % (p, local, p, _xml_attr(ns))
            if t.obj_kind == KIND_URI:
                props.append('%s rdf:resource="%s"/>' % (open_tag, _xml_attr(t.obj_lex)))
            elif t.obj_kind == KIND_BLANK:
                props.append('%s rdf:nodeID="%s"/>' % (open_tag, _xml_attr(t.obj_lex)))
            else:
                attrs = ""
                if t.obj_lang:
                    attrs += ' xml:lang="%s"' % _xml_attr(t.obj_lang)
                if t.obj_datatype:
                    attrs += ' rdf:datatype="%s"' % _xml_attr(t.obj_datatype)
                props.append(
                    "%s%s>%s</%s:%s>"
                    % (open_tag, attrs, _xml_escape(t.obj_lex), p, local)
                )
        body.append(
            "  <%s%s %s>\n%s  </%s>\n"
            % (
                elem,
                open_extra,
                subj_attr,
                "".join("    %s\n" % p for p in props),
                elem,
            )
        )
    return (
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<rdf:RDF xmlns:rdf="%s">\n%s</rdf:RDF>\n' % (RDF_NS, "".join(body))
    )


# --------------------------------------------------------------------------
# RDF/JSON (resource-centric)
# --------------------------------------------------------------------------


def to_json(triples: Iterable[Triple]) -> str:
    doc: "OrderedDict[str, OrderedDict[str, list]]" = OrderedDict()
    for t in triples:
        objs = doc.setdefault(t.subj, OrderedDict()).setdefault(t.pred, [])
        if t.obj_kind == KIND_URI:
            term = {"value": t.obj_lex, "type": "uri"}
        elif t.obj_kind == KIND_BLANK:
            term = {"value": "_:" + t.obj_lex, "type": "bnode"}
        else:
            term = {"value": t.obj_lex, "type": "literal"}
            if t.obj_lang:
                term["lang"] = t.obj_lang
            if t.obj_datatype:
                term["datatype"] = t.obj_datatype
        objs.append(term)
    return _json.dumps(doc, indent=2, ensure_ascii=False) + "\n"


# --------------------------------------------------------------------------
# GraphViz dot
# --------------------------------------------------------------------------


def _dot_quote(s: str) -> str:
    return s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def to_dot(triples: Iterable[Triple]) -> str:
    """digraph with per-kind node ids (rN resources, bN bnodes, lN
    literals) and deduplicated node declarations."""
    triples = list(triples)
    ids: Dict[Tuple, str] = {}
    decls: List[str] = []

    def node(kind: int, key: str, label: str) -> str:
        k = (kind, key)
        if k in ids:
            return ids[k]
        prefix = {KIND_URI: "r", KIND_BLANK: "b", KIND_LITERAL: "l"}[kind]
        nid = "%s%d" % (prefix, len([i for i in ids.values() if i.startswith(prefix)]) + 1)
        ids[k] = nid
        shape = {KIND_URI: "ellipse", KIND_BLANK: "circle", KIND_LITERAL: "record"}[kind]
        decls.append('\t"%s" [ label="%s", shape = %s ];\n' % (nid, _dot_quote(label), shape))
        return nid

    edges = []
    for t in triples:
        if t.subj.startswith("_:"):
            s = node(KIND_BLANK, t.subj, t.subj[2:])
        else:
            s = node(KIND_URI, t.subj, t.subj)
        if t.obj_kind == KIND_LITERAL:
            label = t.obj_lex
            if t.obj_lang:
                label += "@" + t.obj_lang
            if t.obj_datatype:
                label += "^^" + t.obj_datatype
            o = node(KIND_LITERAL, label, label)
        elif t.obj_kind == KIND_BLANK:
            o = node(KIND_BLANK, "_:" + t.obj_lex, t.obj_lex)
        else:
            o = node(KIND_URI, t.obj_lex, t.obj_lex)
        edges.append('\t"%s" -> "%s" [ label="%s" ];\n' % (s, o, _dot_quote(t.pred)))
    return (
        "digraph {\n\trankdir = LR;\n\tcharset=\"utf-8\";\n\n"
        + "".join(decls)
        + "\n"
        + "".join(edges)
        + "\n\tlabel=\"\\n\\nModel:\\n\";\n}\n"
    )


# --------------------------------------------------------------------------
# HTML table
# --------------------------------------------------------------------------


def _html_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def to_html(triples: Iterable[Triple]) -> str:
    rows = []
    for t in triples:
        def cell(kind, lex, dt=None, lang=None):
            if kind == KIND_URI:
                e = _html_escape(lex)
                return '<span class="uri"><a href="%s">%s</a></span>' % (e, e)
            if kind == KIND_BLANK:
                return '<span class="blank">_:%s</span>' % _html_escape(lex)
            body = '<span class="literal">%s' % _html_escape(lex)
            if lang:
                body += "@%s" % _html_escape(lang)
            if dt:
                body += "^^&lt;%s&gt;" % _html_escape(dt)
            return body + "</span>"

        s_kind = KIND_BLANK if t.subj.startswith("_:") else KIND_URI
        s_lex = t.subj[2:] if s_kind == KIND_BLANK else t.subj
        rows.append(
            "    <tr class=\"triple\">\n"
            "      <td>%s</td>\n      <td>%s</td>\n      <td>%s</td>\n    </tr>\n"
            % (
                cell(s_kind, s_lex),
                cell(KIND_URI, t.pred),
                cell(t.obj_kind, t.obj_lex, t.obj_datatype, t.obj_lang),
            )
        )
    return (
        "<html>\n<body>\n  <table>\n"
        + "".join(rows)
        + "  </table>\n</body>\n</html>\n"
    )


# --------------------------------------------------------------------------
# mKR ("my knowledge representation") — the turtle writer's mkr mode
# --------------------------------------------------------------------------

_RS_RESULT_VARIABLE = "http://jena.hpl.hp.com/2003/03/result-set#resultVariable"


def to_mkr(
    triples: Iterable[Triple],
    namespaces: Iterable[Tuple[Optional[str], str]] = (),
    base_uri: Optional[str] = None,
    write_base: bool = True,
) -> str:
    """Serialize exactly like the reference's mkr serializer — the
    emit_mkr branches of src/raptor_serialize_turtle.c piggybacked on
    the turtle abbrev model (registered at src/raptor_serialize.c:83):
    '@base/@prefix ... ;' prologue, 'subject has\\n pred = [objs], ...'
    blocks, 'rdf:type' spelled out, '{ _:b has ... ;}' inline bnodes,
    '{}' empty bnodes, bare ','-separated collection items inside the
    property's [ ], rdf:nil as a single space, and the rs:ResultSet ->
    'begin relation result ; ... end relation result ;' CSV relation
    state machine (raptor_mkr_emit_subject_resultset :655-830).
    Verified byte-exact against all 10 tests/mkr/*.mkr goldens."""

    def term_of(kind, lex, dt=None, lang=None):
        if kind == KIND_URI:
            return ("u", lex, None, None)
        if kind == KIND_BLANK:
            return ("b", lex, None, None)
        return ("l", lex, lang, dt)

    uri_subjects: Dict[tuple, set] = {}
    blank_subjects: Dict[tuple, set] = {}
    count_as_object: Dict[tuple, int] = defaultdict(int)
    for t in triples:
        subj = (
            ("b", t.subj[2:], None, None)
            if t.subj.startswith("_:")
            else ("u", t.subj, None, None)
        )
        table = blank_subjects if subj[0] == "b" else uri_subjects
        props = table.setdefault(subj, set())
        obj = term_of(t.obj_kind, t.obj_lex, t.obj_datatype, t.obj_lang)
        props.add((("u", t.pred, None, None), obj))
        if obj[0] in ("u", "b"):
            count_as_object[obj] += 1

    declared: List[Tuple[Optional[str], str]] = [("rdf", RDF_NS)]
    for prefix, ns in namespaces:
        prefix = prefix or None
        if any(p == prefix or (u and ns and u == ns) for p, u in declared):
            continue
        declared.append((prefix, ns))

    w = _TurtleExactWriter(None, [])
    if base_uri and write_base:
        w.raw("@base ")
        w.reference(base_uri)
        w.raw(" ;\n")
    w.base = base_uri
    for prefix, ns in declared:
        w.raw("@prefix %s: " % (prefix or ""))
        w.reference(ns)
        w.raw(" ;\n")
    w.namespaces = declared + [("xml", _XML_NS)]
    w.newline()

    rdf_type = ("u", RDF_TYPE, None, None)
    rdf_first = ("u", RDF_FIRST, None, None)
    rdf_rest = ("u", RDF_REST, None, None)
    rs_result_variable = ("u", _RS_RESULT_VARIABLE, None, None)
    invalid: set = set()

    # serializer-wide state, like raptor_turtle_context
    st = {
        "resultset": False,
        "rs_size": 0, "rs_arity": 0, "rs_ntuple": 0,
        "rs_nvalue": 0, "rs_processing_value": False,
    }

    def sorted_props(props):
        return sorted(props, key=lambda po: (_ttlx_term_key(po[0]),
                                             _ttlx_term_key(po[1])))

    def resource(uri):
        # raptor_turtle_emit_resource mkr branch: rdf:nil is ' '
        if uri == RDF_NIL:
            w.raw(" ")
        else:
            w.resource(uri)

    def emit_object(obj, depth):
        if obj[0] == "u":
            resource(obj[1])
        elif obj[0] == "l":
            w.literal(obj[1], obj[2], obj[3])
        else:
            emit_blank(obj, depth)

    def emit_blank(obj, depth):
        blank = blank_subjects.get(obj)
        if (
            count_as_object[obj] == 1
            and blank is not None
            and obj not in invalid
        ):
            # mark BEFORE recursing: a reference cycle re-entering this
            # node mid-emission must render the named form instead of
            # recursing forever (byte-identical for acyclic graphs —
            # a node cannot be re-encountered during its own emission)
            invalid.add(obj)
            emit_subject(obj, blank, depth + 1)
        else:
            w.raw("_:" + obj[1])
            if not st["resultset"]:
                w.raw(" has")

    def emit_properties(props, depth):
        last_pred = None
        for pred, obj in sorted_props(props):
            if pred != last_pred:
                if last_pred is not None:
                    # terminate previous object list: '], ' + newline
                    w.raw("], ")
                    w.newline()
                if pred == rdf_type:
                    w.raw("rdf:type")
                else:
                    w.resource(pred[1])
                w.raw(" = [")
            else:
                w.raw(", ")
            emit_object(obj, depth + 1)
            last_pred = pred

    def emit_collection(subj, depth):
        w.level += 1
        first = True
        node = subj
        seen = set()
        while True:
            if node in seen:
                # cyclic rdf:rest chain: stop the walk (the visited
                # nodes stay marked invalid, so nothing re-emits them)
                break
            seen.add(node)
            props = dict(sorted_props(
                blank_subjects.get(node, uri_subjects.get(node, ()))
            ))
            if rdf_first not in props:
                break
            if not first:
                w.raw(",")
            first = False
            emit_object(props[rdf_first], depth + 1)
            rest = props.get(rdf_rest)
            if rest is None or rest[0] != "b":
                break
            invalid.add(node)
            node = rest
        invalid.add(node)
        w.level -= 1

    def emit_resultset(props, depth):
        # raptor_mkr_emit_subject_resultset: per-frame loop over the
        # sorted (pred, obj) pairs with serializer-wide rs counters
        last_pred = None
        skip_object = False
        for pred, obj in sorted_props(props):
            if pred != last_pred:
                if last_pred is not None:
                    if not st["rs_arity"]:
                        # last variable in first row
                        w.raw(" ;")
                        w.newline()
                        st["rs_ntuple"] += 1
                    elif not st["rs_nvalue"]:
                        pass  # size not emitted
                    elif (
                        st["rs_processing_value"]
                        and st["rs_nvalue"] == st["rs_arity"]
                    ):
                        # previous value was last value of row
                        st["rs_processing_value"] = False
                        w.raw(" ;")
                        w.newline()
                        st["rs_nvalue"] = 0
                        st["rs_ntuple"] += 1
                        if st["rs_ntuple"] > st["rs_size"]:
                            w.raw("end relation result ;")
                            w.newline()
                            break
                local = None
                q = w.qname(pred[1])
                if q is not None:
                    local = q.split(":", 1)[1]
                if pred == rdf_type:
                    skip_object = True
                elif q is not None:
                    if local == "resultVariable":
                        w.raw("result is relation with format = csv ;")
                        w.newline()
                        w.raw("begin relation result ;")
                        w.newline()
                        skip_object = False
                    elif local == "size":
                        st["rs_arity"] = st["rs_nvalue"]
                        st["rs_nvalue"] = 0
                        skip_object = False
                    elif local in ("solution", "binding"):
                        skip_object = False
                    elif local == "variable":
                        skip_object = True
                    elif local == "value":
                        st["rs_processing_value"] = True
                        st["rs_nvalue"] += 1
                        skip_object = False
                    else:
                        skip_object = True
                else:
                    w.reference(pred[1])
                    skip_object = False
            else:
                if not st["rs_arity"]:
                    w.raw(", ")  # not last variable
            if not skip_object:
                if obj[0] == "u":
                    resource(obj[1])
                elif obj[0] == "l":
                    if not st["rs_arity"]:
                        st["rs_nvalue"] += 1
                        w.raw(_csv_string(obj[1]))
                    elif not st["rs_nvalue"]:
                        try:
                            st["rs_size"] = int(obj[1])
                        except ValueError:
                            st["rs_size"] = 0
                    else:
                        w.raw(_csv_string(obj[1]))
                        if st["rs_nvalue"] < st["rs_arity"]:
                            w.raw(", ")
                else:
                    emit_blank(obj, depth + 1)
            last_pred = pred

    def emit_subject(subj, props, depth):
        if not props:
            return
        collection = False
        if len(props) >= 2:
            sp = sorted_props(props)
            p1, p2 = sp[0][0], sp[1][0]
            if {p1, p2} == {rdf_first, rdf_rest} and depth > 0:
                collection = True
            elif p1 == rs_result_variable:
                st["resultset"] = True
        blank = True
        if subj[0] == "u":
            if st["resultset"]:
                w.raw("result is ")
                resource(subj[1])
                w.raw(" ;")
                w.newline()
            else:
                resource(subj[1])
                w.raw(" has")
            blank = False
            collection = False
        else:
            c_obj = count_as_object[subj]
            if c_obj == 1 and depth > 1:
                pass  # inline anonymous form (blank stays True)
            elif c_obj == 0:
                w.raw("{}")
                blank = False
            elif not collection and c_obj > 1:
                if not st["resultset"]:
                    w.raw("_:" + subj[1])
                    w.raw(" has")
        if collection:
            emit_collection(subj, depth)
        elif st["resultset"]:
            emit_resultset(props, depth)
        else:
            if blank and depth > 1:
                w.raw("{ ")
                w.newline()
                w.raw("_:" + subj[1])
                w.raw(" has")
            w.level += 1
            w.newline()
            emit_properties(props, depth)
            w.level -= 1
            if blank and depth > 1:
                w.raw("]")
                w.newline()
                w.raw(";}")
        if depth == 0:
            if not st["resultset"]:
                w.raw("]")
                w.raw(" ;")
                w.newline()
                w.newline()
            st["resultset"] = False

    for subj in sorted(uri_subjects, key=_ttlx_term_key):
        if subj not in invalid:
            emit_subject(subj, uri_subjects[subj], 0)
    for subj in sorted(blank_subjects, key=_ttlx_term_key):
        if subj in invalid:
            continue
        if count_as_object[subj] == 1:
            continue
        emit_subject(subj, blank_subjects[subj], 0)

    # dangling recovery (same trigger as to_turtle's): a blank subject
    # skipped as "inlined at its reference point" whose reference site
    # itself was never emitted (orphan reference cycles like '_:a p _:b .
    # _:b p _:a .') must still be emitted top-level in NAMED form, or its
    # statements silently vanish from the output. Emitted in the mkr
    # named-blank grammar ('_:x has ... ] ;') that emit_subject uses for
    # every other named blank — the first cut closed with the Turtle
    # writer's bare ' .', which no other mkr statement uses (round-6
    # ADVICE fix).
    for subj in sorted(blank_subjects, key=_ttlx_term_key):
        if subj in invalid or count_as_object[subj] != 1:
            continue
        invalid.add(subj)
        w.raw("_:" + subj[1])
        w.raw(" has")
        w.level += 1
        w.newline()
        emit_properties(blank_subjects[subj], 1)
        w.level -= 1
        w.raw("]")
        w.raw(" ;")
        w.newline()
        w.newline()

    return "".join(w.parts)


def _csv_string(s: str) -> str:
    """raptor_turtle_writer_csv_string: quote only when the value holds
    a double quote, comma, CR or LF; embedded quotes double."""
    if any(c in s for c in '",\r\n'):
        return '"' + s.replace('"', '""') + '"'
    return s
