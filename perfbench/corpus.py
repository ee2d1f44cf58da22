"""Seeded transcripts corpus for the benchmark.

Renders every document itself (N-Triples, N-Quads, Turtle, TriG,
RDF/XML, RDF/JSON) from a statement list it draws from ``random.Random
(seed)``, so the expected triples are known without running any code of
the program under test. One :class:`Corpus` carries:

- the transcripts table rows (conv_id, turn_idx, role, text, tool, ts);
- the expected triples per conversation, in the parser's term model
  (subj / pred / obj_kind / obj_lex / obj_datatype / obj_lang / graph);
- which conversations are malformed (exactly one defect each);
- the entity dictionary and the link decision each conversation should
  get from mention counting over its turn text.

Shape (per ``n_convs``): 40% N-Triples, 20% Turtle, 10% each RDF/XML,
RDF/JSON, N-Quads and TriG; 1-20 turns per conversation split at line
boundaries; heavy-tailed sizes with the largest conversation holding 1%
of all statements; 1% malformed documents; ~3% repeated statements; ~6%
non-ASCII literals.

Every blank node carries one ``ex:seq`` integer that is unique within its
conversation, so two triple sets can be compared under any blank-node
relabeling (see :func:`canonical`).
"""

from __future__ import annotations

import json
import os
import random
import re
from dataclasses import dataclass, field
from itertools import groupby
from typing import Dict, List, Optional, Tuple

EX = "http://ex.org/ns#"
CUST = "http://ex.org/customer/"
ENTITY = "http://ex.org/entity/"
GRAPH = "http://ex.org/graph/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
RDF_TYPE = RDF + "type"
SEQ = EX + "seq"

URI, LITERAL, BLANK = 1, 2, 4

FORMAT_SHARES = (
    ("ntriples", 40), ("turtle", 20), ("rdfxml", 10),
    ("json", 10), ("nquads", 10), ("trig", 10),
)
N_CUSTOMERS = 3000
MALFORMED_SHARE = 0.01
LARGEST_SHARE = 0.01
MEAN_STATEMENTS = 14
TABLE_PARTS = 8  # parquet files per written table

_WORDS = (
    "order ship late early parcel invoice refund credit north south "
    "blue green small large fragile express standard returned open "
    "closed pending review urgent bulk sample"
).split()
_NON_ASCII = (
    "café crème", "Zürich", "naïve façade", "東京タワー", "Ελληνικά",
    "emoji 😀 ok", "Ångström", "北京", "São Paulo", "Kraków", "𝔘𝔫𝔦",
)
_LANGS = ("en", "de", "fr", "en-gb", "pt-br")
_CLASSES = ("Order", "Shipment", "Invoice", "Complaint")
MENTION_RE = re.compile(re.escape(CUST) + r"(\d+)")


@dataclass(frozen=True)
class Stmt:
    subj: str  # absolute URI, or "_:label"
    pred: str
    kind: int
    lex: str  # URI / literal lexical form / bnode label without "_:"
    dt: Optional[str] = None
    lang: Optional[str] = None


@dataclass
class Conv:
    conv_id: str
    fmt: str
    stmts: List[Stmt]  # in document order, repeats included
    malformed: bool
    lines: List[str] = field(default_factory=list)
    turns: List[str] = field(default_factory=list)

    @property
    def graph(self) -> Optional[str]:
        return GRAPH + self.conv_id if self.fmt in ("nquads", "trig") else None

    def expected(self) -> set:
        """Distinct statements as parser-output tuples (no relabeling)."""
        g = self.graph
        return {(s.subj, s.pred, s.kind, s.lex, s.dt, s.lang, g) for s in self.stmts}


@dataclass
class Corpus:
    seed: int
    convs: List[Conv]
    entities: Dict[str, str]  # key -> entity_uri

    def links(self) -> Dict[str, Tuple[str, int]]:
        """conv_id -> (entity_uri, mentions): the best dictionary entity
        by mention count over the turn text, ties to the smallest URI."""
        out = {}
        for c in self.convs:
            counts: Dict[str, int] = {}
            for t in c.turns:
                for key in MENTION_RE.findall(t):
                    uri = self.entities.get(key)
                    if uri is not None:
                        counts[uri] = counts.get(uri, 0) + 1
            if counts:
                uri = min(counts, key=lambda u: (-counts[u], u))
                out[c.conv_id] = (uri, counts[uri])
        return out

    def graph_rows(self) -> List[tuple]:
        """The stored graph a finished build holds: every conversation's
        expected triples with blank nodes made conversation-unique
        (``_:x`` -> ``_:<conv_id>.x``), as (conv_id, subj, pred, obj_kind,
        obj_lex, obj_datatype, obj_lang, graph)."""
        rows = []
        for c in self.convs:
            cid = c.conv_id
            for s, p, k, o, dt, lang, g in sorted(c.expected(), key=_sort_key):
                if s.startswith("_:"):
                    s = "_:%s.%s" % (cid, s[2:])
                if k == BLANK:
                    o = "%s.%s" % (cid, o)
                rows.append((cid, s, p, k, o, dt, lang, g))
        return rows


def _sort_key(t):
    return tuple("" if v is None else str(v) for v in t)


# ---------------------------------------------------------------- draw


def _sizes(rng: random.Random, n: int) -> List[int]:
    """Heavy-tailed statement counts: Pareto body normalized to a fixed
    total, plus one conversation holding LARGEST_SHARE of all of it, so
    the total and the tail do not drift with the seed."""
    total = n * MEAN_STATEMENTS
    giant = max(4, int(total * LARGEST_SHARE))
    body = [min(rng.paretovariate(1.6), 60.0) for _ in range(n - 1)]
    scale = (total - giant - 3 * (n - 1)) / sum(body)
    sizes = [3 + int(round(b * scale)) for b in body]
    sizes.insert(rng.randrange(n), giant)
    return sizes


def _literal(rng: random.Random) -> Tuple[str, Optional[str], Optional[str]]:
    r = rng.random()
    if r < 0.12:
        return rng.choice(_NON_ASCII), None, None
    if r < 0.30:
        return " ".join(rng.sample(_WORDS, 2)), None, rng.choice(_LANGS)
    if r < 0.50:
        return str(rng.randrange(1, 500)), XSD_INTEGER, None
    if r < 0.60:
        return "%d.%02d" % (rng.randrange(1, 900), rng.randrange(100)), XSD_DECIMAL, None
    return " ".join(rng.sample(_WORDS, rng.randrange(1, 4))), None, None


def _statements(rng: random.Random, conv_id: str, n: int) -> List[Stmt]:
    base = "http://ex.org/conv/%s/" % conv_id
    n_ent = max(1, n // 5)
    fav = rng.randrange(1, N_CUSTOMERS + 1)
    out: List[Stmt] = []
    seq = 0
    for e in range(n_ent):
        subj = base + "e%d" % e
        k = n // n_ent + (1 if e < n % n_ent else 0)
        body: List[Stmt] = [Stmt(subj, RDF_TYPE, URI, EX + rng.choice(_CLASSES))]
        nodes: List[Stmt] = []
        while len(body) + len(nodes) < k:
            r = rng.random()
            if r < 0.10:
                c = fav if rng.random() < 0.6 else rng.randrange(1, N_CUSTOMERS + 1)
                body.append(Stmt(subj, EX + "customer", URI, CUST + str(c)))
            elif r < 0.25:
                seq += 1
                label = "b%d" % seq
                body.append(Stmt(subj, EX + "item", BLANK, label))
                nodes.append(Stmt("_:" + label, SEQ, LITERAL, str(seq), XSD_INTEGER))
                nodes.append(Stmt("_:" + label, EX + "qty", LITERAL,
                                  str(rng.randrange(1, 50)), XSD_INTEGER))
            elif r < 0.35:
                other = base + "e%d" % rng.randrange(n_ent)
                body.append(Stmt(subj, EX + "related", URI, other))
            else:
                lex, dt, lang = _literal(rng)
                pred = EX + ("label" if lang else "note" if dt is None else "amount")
                body.append(Stmt(subj, pred, LITERAL, lex, dt, lang))
        out.extend(body)
        out.extend(nodes)
    # repeated statements: ~3% of them again, at the end of the document
    for s in rng.sample(out, max(0, len(out) * 3 // 100)):
        out.append(s)
    return out


# ---------------------------------------------------------------- render


def _nt_escape(s: str, ascii_only: bool) -> str:
    s = s.replace("\\", "\\\\").replace('"', '\\"')
    if not ascii_only:
        return s
    return "".join(
        ch if ord(ch) < 0x80 else
        ("\\u%04X" % ord(ch) if ord(ch) < 0x10000 else "\\U%08X" % ord(ch))
        for ch in s
    )


def _nt_term(s: Stmt, ascii_only: bool) -> str:
    if s.kind == URI:
        return "<%s>" % s.lex
    if s.kind == BLANK:
        return "_:" + s.lex
    body = '"%s"' % _nt_escape(s.lex, ascii_only)
    if s.lang:
        return body + "@" + s.lang
    if s.dt:
        return body + "^^<%s>" % s.dt
    return body


def _subj(s: str) -> str:
    return s if s.startswith("_:") else "<%s>" % s


def _render_nt(c: Conv, quads: bool) -> List[str]:
    tail = " <%s> .\n" % c.graph if quads else " .\n"
    return [
        "%s <%s> %s%s" % (_subj(s.subj), s.pred, _nt_term(s, quads), tail)
        for s in c.stmts
    ]


def _ttl_term(s: Stmt, base: str) -> str:
    if s.kind == URI:
        if s.lex.startswith(EX):
            return "ex:" + s.lex[len(EX):]
        if s.lex.startswith(base):
            return "e:" + s.lex[len(base):]
        return "<%s>" % s.lex  # customer URIs stay whole: mention detection
    if s.kind == BLANK:
        return "_:" + s.lex
    body = '"%s"' % _nt_escape(s.lex, False)
    if s.lang:
        return body + "@" + s.lang
    if s.dt == XSD_INTEGER:
        return s.lex
    if s.dt:
        return body + "^^xsd:" + s.dt[len(XSD):]
    return body


def _render_ttl(c: Conv, trig: bool) -> List[str]:
    base = "http://ex.org/conv/%s/" % c.conv_id
    lines = [
        "@prefix ex: <%s> .\n" % EX,
        "@prefix e: <%s> .\n" % base,
        "@prefix xsd: <%s> .\n" % XSD,
    ]
    if trig:
        lines.append("<%s> {\n" % c.graph)
    for subj, run in groupby(c.stmts, key=lambda s: s.subj):
        run = list(run)
        head = subj if subj.startswith("_:") else "e:" + subj[len(base):]
        for k, s in enumerate(run):
            pred = "a" if s.pred == RDF_TYPE else "ex:" + s.pred[len(EX):]
            lead = head + " " if k == 0 else "    "
            end = " .\n" if k == len(run) - 1 else " ;\n"
            lines.append(lead + pred + " " + _ttl_term(s, base) + end)
    if trig:
        lines.append("}\n")
    return lines


def _xml_text(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _render_rdfxml(c: Conv) -> List[str]:
    lines = [
        '<?xml version="1.0" encoding="utf-8"?>\n',
        '<rdf:RDF xmlns:rdf="%s" xmlns:ex="%s">\n' % (RDF, EX),
    ]
    for subj, run in groupby(c.stmts, key=lambda s: s.subj):
        if subj.startswith("_:"):
            lines.append('<rdf:Description rdf:nodeID="%s">\n' % subj[2:])
        else:
            lines.append('<rdf:Description rdf:about="%s">\n' % subj)
        for s in run:
            tag = "rdf:type" if s.pred == RDF_TYPE else "ex:" + s.pred[len(EX):]
            if s.kind == URI:
                lines.append('  <%s rdf:resource="%s"/>\n' % (tag, s.lex))
            elif s.kind == BLANK:
                lines.append('  <%s rdf:nodeID="%s"/>\n' % (tag, s.lex))
            else:
                attr = (' xml:lang="%s"' % s.lang if s.lang else
                        ' rdf:datatype="%s"' % s.dt if s.dt else "")
                lines.append("  <%s%s>%s</%s>\n" % (tag, attr, _xml_text(s.lex), tag))
        lines.append("</rdf:Description>\n")
    lines.append("</rdf:RDF>\n")
    return lines


def _render_json(c: Conv, ascii_only: bool) -> List[str]:
    groups: Dict[str, Dict[str, List[Stmt]]] = {}
    for s in c.stmts:
        groups.setdefault(s.subj, {}).setdefault(s.pred, []).append(s)
    dump = lambda o: json.dumps(o, ensure_ascii=ascii_only, separators=(",", ":"))
    lines = ["{\n"]
    for si, (subj, preds) in enumerate(groups.items()):
        lines.append("%s: {\n" % dump(subj))
        for pi, (pred, objs) in enumerate(preds.items()):
            lines.append("  %s: [\n" % dump(pred))
            for oi, s in enumerate(objs):
                if s.kind == LITERAL:
                    o = {"type": "literal", "value": s.lex}
                    if s.lang:
                        o["lang"] = s.lang
                    if s.dt:
                        o["datatype"] = s.dt
                else:
                    o = {"type": "uri" if s.kind == URI else "bnode",
                         "value": s.lex if s.kind == URI else "_:" + s.lex}
                lines.append("    %s%s\n" % (dump(o), "," if oi < len(objs) - 1 else ""))
            lines.append("  ]%s\n" % ("," if pi < len(preds) - 1 else ""))
        lines.append("}%s\n" % ("," if si < len(groups) - 1 else ""))
    lines.append("}\n")
    return lines


_DEFECTS = {
    # one defect per document; none of them names a customer URI, and
    # each breaks the statement it sits in, not the ones already parsed
    "ntriples": '<http://ex.org/bad <%snote> "broken" .\n' % EX,
    "nquads": '<http://ex.org/bad <%snote> "broken" <http://ex.org/g> .\n' % EX,
    "turtle": 'ex:bad ex:note "unterminated .\n',
    "trig": 'ex:bad ex:note "unterminated .\n',
    "rdfxml": "</ex:mismatched>\n",
    "json": '"http://ex.org/bad": {"%snote": [{"type" "literal"}]},\n' % EX,
}


def _render(rng: random.Random, c: Conv) -> List[str]:
    if c.fmt in ("ntriples", "nquads"):
        lines = _render_nt(c, c.fmt == "nquads")
        body = (0, len(lines))
    elif c.fmt in ("turtle", "trig"):
        lines = _render_ttl(c, c.fmt == "trig")
        body = (3 + (c.fmt == "trig"), len(lines) - (c.fmt == "trig"))
    elif c.fmt == "rdfxml":
        lines = _render_rdfxml(c)
        body = (2, len(lines) - 1)
    else:
        lines = _render_json(c, ascii_only=rng.random() < 0.5)
        body = (1, len(lines) - 1)
    if c.malformed:
        lo, hi = body
        # Turtle/TriG defects go between statements: inside a ';' list the
        # defect's subject would first parse as a predicate of the open
        # statement and yield a triple the document never meant
        at = [p for p in range(lo, hi + 1)
              if c.fmt not in ("turtle", "trig") or p == lo
              or lines[p - 1].endswith(" .\n")]
        lines.insert(rng.choice(at), _DEFECTS[c.fmt])
    return lines


def _split_turns(rng: random.Random, lines: List[str]) -> List[str]:
    n = min(rng.randrange(1, 21), len(lines))
    cuts = sorted(rng.sample(range(1, len(lines)), n - 1)) if n > 1 else []
    bounds = [0] + cuts + [len(lines)]
    return ["".join(lines[a:b]) for a, b in zip(bounds, bounds[1:])]


def generate(seed: int, n_convs: int) -> Corpus:
    rng = random.Random(seed)
    fmts = [f for f, share in FORMAT_SHARES for _ in range(n_convs * share // 100)]
    fmts += ["ntriples"] * (n_convs - len(fmts))
    rng.shuffle(fmts)
    bad = set(rng.sample(range(n_convs), max(1, int(n_convs * MALFORMED_SHARE))))
    convs = []
    for i, n in enumerate(_sizes(rng, n_convs)):
        cid = "c%06d" % i
        c = Conv(cid, fmts[i], _statements(rng, cid, n), i in bad)
        c.lines = _render(rng, c)
        c.turns = _split_turns(rng, c.lines)
        convs.append(c)
    entities = {
        str(k): ENTITY + "c%05d" % k
        for k in range(1, N_CUSTOMERS + 1) if k % 5
    }
    return Corpus(seed, convs, entities)


# ---------------------------------------------------------------- tables


def canonical(rows) -> Dict[str, set]:
    """Per-conversation triple sets with every blank node replaced by
    ``_:#<seq>`` (its unique ``ex:seq`` value), so sets compare equal
    under any relabeling. ``rows`` are (conv_id, subj, pred, obj_kind,
    obj_lex, obj_datatype, obj_lang, graph); ``obj_lex`` of a blank
    object is its label without ``_:``. A blank node without a seq keeps
    its label, which makes the comparison fail loudly."""
    seqs: Dict[Tuple[str, str], str] = {}
    for cid, s, p, k, o, *_ in rows:
        if p == SEQ and s.startswith("_:"):
            seqs[(cid, s)] = o
    out: Dict[str, set] = {}
    for cid, s, p, k, o, dt, lang, g in rows:
        if s.startswith("_:") and (cid, s) in seqs:
            s = "_:#" + seqs[(cid, s)]
        if k == BLANK and (cid, "_:" + o) in seqs:
            o = "#" + seqs[(cid, "_:" + o)]
        out.setdefault(cid, set()).add((s, p, k, o, dt, lang, g))
    return out


def nquads_lines(graph_rows) -> List[str]:
    """Canonical N-Quads line per graph row: non-ASCII escaped as
    \\uXXXX / \\UXXXXXXXX (the corpus's literals hold no control
    characters, the only other escapes canonical N-Quads makes)."""
    out = []
    for _cid, s, p, k, o, dt, lang, g in graph_rows:
        line = "%s <%s> %s" % (_subj(s), p, _nt_term(Stmt(s, p, k, o, dt, lang), True))
        out.append(line + (" %s ." % _subj(g) if g is not None else " ."))
    return out


def write_tables(corpus: Corpus, root: str) -> Dict[str, str]:
    """Write transcripts/, graph/, entities/ and convs/ parquet tables
    under ``root`` and return their paths. ``convs`` holds the expected
    per-conversation facts (format, turns, malformed, triple count)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = {k: os.path.join(root, k) for k in ("transcripts", "graph", "entities", "convs")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    roles = ("user", "assistant", "tool")
    t0 = 1_700_000_000_000_000  # microseconds since the epoch
    tr = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    for i, c in enumerate(corpus.convs):
        for j, text in enumerate(c.turns):
            tr["conv_id"].append(c.conv_id)
            tr["turn_idx"].append(j)
            tr["role"].append(roles[j % 3])
            tr["text"].append(text)
            tr["tool"].append(c.fmt)
            tr["ts"].append(t0 + (i * 60 + j) * 1_000_000)
    transcripts = pa.table({
        "conv_id": pa.array(tr["conv_id"], pa.string()),
        "turn_idx": pa.array(tr["turn_idx"], pa.int32()),
        "role": pa.array(tr["role"], pa.string()),
        "text": pa.array(tr["text"], pa.string()),
        "tool": pa.array(tr["tool"], pa.string()),
        "ts": pa.array(tr["ts"], pa.timestamp("us", tz="UTC")),
    })
    g = corpus.graph_rows()
    names = ("conv_id", "subj", "pred", "obj_kind", "obj_lex", "obj_datatype", "obj_lang", "graph")
    graph = pa.table({
        n: pa.array([r[i] for r in g], pa.int32() if n == "obj_kind" else pa.string())
        for i, n in enumerate(names)
    })
    keys = sorted(corpus.entities)
    entities = pa.table({
        "key": pa.array(keys, pa.string()),
        "entity_uri": pa.array([corpus.entities[k] for k in keys], pa.string()),
    })
    convs = pa.table({
        "conv_id": [c.conv_id for c in corpus.convs],
        "tool": [c.fmt for c in corpus.convs],
        "n_turns": pa.array([len(c.turns) for c in corpus.convs], pa.int32()),
        "malformed": [c.malformed for c in corpus.convs],
        "n_triples": pa.array([len(c.expected()) for c in corpus.convs], pa.int64()),
    })
    for name, table in (("transcripts", transcripts), ("graph", graph)):
        step = -(-table.num_rows // TABLE_PARTS)
        for k in range(TABLE_PARTS):
            pq.write_table(table.slice(k * step, step),
                           os.path.join(paths[name], "part-%05d.parquet" % k))
    pq.write_table(entities, os.path.join(paths["entities"], "part-00000.parquet"))
    pq.write_table(convs, os.path.join(paths["convs"], "part-00000.parquet"))
    return paths
