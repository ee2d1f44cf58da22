"""Parser guessing: MIME-type / syntax-URI / file-suffix / content scoring.

Python re-expression of the reference's parser-name guessing
(src/raptor_parse.c:1315-1466 ``raptor_world_guess_parser_name``): every
registered parser factory is scored from four signals —

- an exact MIME-type match against the factory's type table (the
  table's per-type Q value becomes the score; a Q >= 10 match ends the
  scan immediately with that factory),
- an exact syntax-URI match against the factory's URI list (also ends
  the scan immediately),
- the factory's ``recognise_syntax`` content/identifier/suffix scorer
  (each ported 1:1 below, citing its reference file:line), fed the
  first 1024 bytes of content (raptor_parse.c FIRSTN) and the
  lowercased ``[a-zA-Z0-9]+`` suffix extracted from the identifier
  (raptor_parse.c:1355-1380),

then the best-scoring factory wins if its score reaches
RAPTOR_MIN_GUESS_SCORE (2); otherwise the guess fails (None). Factories
are scanned in the reference's registration order
(src/raptor_parse.c:83-128); score ties keep that order (the reference
qsorts with a comparator that only looks at the score, so registration
order is the deterministic tie-break we pin here).

Each factory row carries the reference's name ALIASES too —
``ntriples-plus`` and ``n3`` for turtle (src/turtle_parser.y:1860),
``raptor`` for rdfxml (src/raptor_rdfxml.c:3181), ``rdfa11``/``rdfa10``
for rdfa (src/raptor_librdfa.c:352) — used by
operators.parse.parse_one's dispatch.

The scorers are pure functions over (buffer, identifier, suffix, mime),
so they run equally driver-side (tests) and inside an Arrow-batched
pandas UDF (queries.relational.q_format_guess).
"""

from __future__ import annotations

from typing import Optional, Tuple

#: raptor_parse.c:1313 RAPTOR_MIN_GUESS_SCORE
MIN_GUESS_SCORE = 2
#: raptor_parse.c:1428 FIRSTN — recognisers only see the head
FIRSTN = 1024


def _suffix_of(identifier: Optional[str]) -> Optional[str]:
    """Extract the scoring suffix from a filename/URI identifier: the
    text after the LAST '.', kept only when it is entirely
    [a-zA-Z0-9]*, lowercased (raptor_parse.c:1355-1380).

    A trailing dot yields the EMPTY string, not None: the reference
    mallocs a suffix buffer before validating, so ``identifier = "x."``
    produces an empty-but-non-NULL suffix that truthily enters every
    ``if(suffix)`` scorer branch (matching nothing) and BLOCKS the
    ``!suffix`` identifier-substring arms. Scorers therefore test
    ``suffix is not None`` / ``suffix is None``, never truthiness."""
    if not identifier:
        return None
    dot = identifier.rfind(".")
    if dot < 0:
        return None
    suffix = identifier[dot + 1 :]
    if not all(c.isascii() and c.isalnum() for c in suffix):
        return None
    return suffix.lower()


# ---------------------------------------------------------------------------
# per-parser recognise_syntax scorers (1:1 ports)


def _score_ntriples(buf, identifier, suffix, mime) -> int:
    """src/ntriples_parse.c:595-670."""
    score = 0
    if suffix is not None:
        if suffix == "nt":
            score = 8
        if suffix in ("ttl", "n3"):
            return 0  # explicitly refuse Turtle/N3-named content
    if mime and "ntriples" in mime:
        score += 6
    if buf:
        if "@prefix " in buf:
            return 0  # Turtle
        has_ntriples_3 = "> <http://" in buf
        if buf.startswith("<http://"):
            score += 1
        if buf.startswith("_:"):
            score += 1
        if "\n<http://" in buf or "\r<http://" in buf:
            score += 6
            if has_ntriples_3:
                score += 1
        elif has_ntriples_3:
            score += 3
        elif "> <" in buf:
            score += 2
            if '> "' in buf:
                score += 1
    return score


def _score_nquads(buf, identifier, suffix, mime) -> int:
    """src/ntriples_parse.c:724-761 — N-Triples is a subset of N-Quads,
    so any positive N-Triples content score is outbid by one."""
    score = 0
    if suffix is not None:
        if suffix == "nq":
            score = 2
        if suffix in ("nt", "ttl", "n3"):
            return 0
    if mime and "nquads" in mime:
        score += 2
    ntriples_score = _score_ntriples(buf, identifier, suffix, mime)
    if ntriples_score > 0:
        score += ntriples_score + 1
    return score


_TURTLE_RDF_URI = ": <http://www.w3.org/1999/02/22-rdf-syntax-ns#>"


def _score_turtle(buf, identifier, suffix, mime) -> int:
    """src/turtle_parser.y:1755-1790. Note HAS_TURTLE_PREFIX ASSIGNS
    score = 6 (it overrides, not adds to, suffix/mime contributions)."""
    score = 0
    if suffix == "ttl":
        score = 8
    elif suffix == "n3":
        score = 3
    if mime:
        if "turtle" in mime:
            score += 6
        if "n3" in mime:
            score += 3
    if buf and "@prefix " in buf:
        score = 6
        if _TURTLE_RDF_URI in buf:
            score += 2
    return score


def _score_trig(buf, identifier, suffix, mime) -> int:
    """src/turtle_parser.y:1809-1845 (turtle parser present, so the
    #ifndef RAPTOR_PARSER_TURTLE fallbacks are compiled out)."""
    score = 0
    if suffix == "trig":
        score = 9
    if mime and "trig" in mime:
        score = 6
    return score


_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_RDFXML_NS_MARKERS = (
    'xmlns:rdf="' + _RDF_NS,
    "xmlns:rdf='" + _RDF_NS,
    'xmlns="' + _RDF_NS,
    "xmlns='" + _RDF_NS,
    "!ENTITY rdf '" + _RDF_NS + "'",
    '!ENTITY rdf "' + _RDF_NS + '"',
    'xmlns:rdf="&rdf;"',
    "xmlns:rdf='&rdf;'",
)


def _score_rdfxml(buf, identifier, suffix, mime) -> int:
    """src/raptor_rdfxml.c:1094-1168."""
    score = 0
    if suffix is not None:
        if suffix in ("rdf", "rdfs", "foaf", "doap", "owl", "daml"):
            score = 9
        if suffix == "rss":
            score = 3
    if identifier:
        if "rss1" in identifier:
            score += 5
        elif suffix is None and "rss" in identifier:
            score += 3
        elif suffix is None and "rdf" in identifier:
            score += 2
        elif suffix is None and "RDF" in identifier:
            score += 2
    if mime:
        if "html" in mime:
            score -= 4
        elif mime == "text/rdf":
            score += 7
        elif mime == "application/xml":
            score += 5
    if buf:
        has_html = "http://www.w3.org/1999/xhtml" in buf or "<html" in buf
        if not has_html and any(m in buf for m in _RDFXML_NS_MARKERS):
            score += 7
            if "<rdf:RDF" in buf:
                score += 1
            if "rdf:Description" in buf:
                score += 1
            if "rdf:about" in buf:
                score += 1
    return score


def _score_rss(buf, identifier, suffix, mime) -> int:
    """src/raptor_rss.c:1639-1688."""
    score = 0
    if suffix is not None:
        if suffix == "rss":
            score = 7
        if suffix == "atom":
            score = 5
        if suffix == "xml":
            score = 4
    if identifier:
        if identifier.startswith("http://feed"):
            score += 5
        elif "feed" in identifier:
            score += 3
        if "rss2" in identifier:
            score += 5
        elif suffix is None and "rss" in identifier:
            score += 4
        elif suffix is None and "atom" in identifier:
            score += 4
        elif "rss.xml" in identifier:
            score += 4
        elif "atom.xml" in identifier:
            score += 4
    if mime and "html" not in mime:
        if "rss" in mime:
            score += 4
        elif "xml" in mime:
            score += 4
        elif "atom" in mime:
            score += 4
    return score


_RDFA_DTD_1 = "-//W3C//DTD XHTML+RDFa 1.0//EN"
_RDFA_DTD_2 = "http://www.w3.org/MarkUp/DTD/xhtml-rdfa-1.dtd"


def _score_rdfa(buf, identifier, suffix, mime) -> int:
    """src/raptor_librdfa.c:327-349."""
    score = 0
    if identifier and "RDFa" in identifier:
        score = 10
    if buf and (_RDFA_DTD_1 in buf or _RDFA_DTD_2 in buf):
        score = 10
    return score


def _score_json(buf, identifier, suffix, mime) -> int:
    """src/raptor_json.c:706-738 — identifier only consulted when the
    suffix is ABSENT (else-if chain)."""
    score = 0
    if suffix is not None:
        if suffix == "json":
            score = 8
        if suffix == "js":
            score = 3
    elif identifier and "json" in identifier:
        score = 4
    if mime and "json" in mime:
        score += 6
    if buf:
        stripped = buf.lstrip()
        if stripped.startswith("{"):
            score += 2
    return score


# ---------------------------------------------------------------------------
# factory registry: (names, mime {type: q}, syntax URIs, recogniser) in the
# reference's registration order (src/raptor_parse.c:83-128; grddl and the
# meta 'guess' parser excluded — grddl is declared out of scope and guess
# never scores itself)

FACTORIES: Tuple = (
    (
        ("rdfxml", "raptor"),
        {"application/rdf+xml": 10, "text/rdf": 6},
        (
            "http://www.w3.org/ns/formats/RDF_XML",
            "http://www.w3.org/TR/rdf-syntax-grammar",
        ),
        _score_rdfxml,
    ),
    (
        ("ntriples",),
        {"application/n-triples": 10, "text/plain": 1},
        (
            "http://www.w3.org/ns/formats/N-Triples",
            "http://www.w3.org/TR/rdf-testcases/#ntriples",
        ),
        _score_ntriples,
    ),
    (
        ("turtle", "ntriples-plus", "n3"),
        {
            "text/turtle": 10,
            "application/x-turtle": 10,
            "application/turtle": 10,
            "text/n3": 3,
            "text/rdf+n3": 3,
            "application/rdf+n3": 3,
        },
        (
            "http://www.w3.org/ns/formats/Turtle",
            "http://www.dajobe.org/2004/01/turtle/",
        ),
        _score_turtle,
    ),
    (
        ("trig",),
        {"application/x-trig": 10},
        ("https://www.w3.org/TR/trig/",),
        _score_trig,
    ),
    (
        ("rss-tag-soup",),
        {
            "application/rss": 8,
            "application/rss+xml": 8,
            "text/rss": 8,
            "application/xml": 3,
            "text/xml": 3,
            "application/atom+xml": 3,
        },
        (),
        _score_rss,
    ),
    (
        ("rdfa", "rdfa11", "rdfa10"),
        {"text/html": 6, "application/xhtml+xml": 8},
        (
            "http://www.w3.org/ns/formats/RDFa",
            "http://www.w3.org/TR/rdfa/",
        ),
        _score_rdfa,
    ),
    (
        ("json",),
        {"application/json": 1, "text/json": 1},
        ("http://docs.api.talis.com/platform-api/output-types/rdf-json",),
        _score_json,
    ),
    (
        ("nquads",),
        {"text/x-nquads": 10},
        ("http://sw.deri.org/2008/07/n-quads/",),
        _score_nquads,
    ),
)

#: parser-name alias -> canonical kernel name, from the factories' name
#: lists above (first name is canonical)
ALIASES = {
    alias: names[0] for names, _, _, _ in FACTORIES for alias in names[1:]
}


def guess_parser_name(
    text: Optional[str],
    mime_type: Optional[str] = None,
    identifier: Optional[str] = None,
    uri: Optional[str] = None,
) -> Optional[str]:
    """raptor_world_guess_parser_name (src/raptor_parse.c:1333-1466):
    returns the winning factory's canonical name, or None when the best
    score is below RAPTOR_MIN_GUESS_SCORE.

    The reference strips any media-type parameters before matching
    (raptor_guess.c:94-105 keeps content_type up to the ';'), so we do
    the same here."""
    if mime_type and ";" in mime_type:
        mime_type = mime_type.split(";", 1)[0].strip()
    suffix = _suffix_of(identifier)
    if text:
        # FIRSTN is a BYTE window (the reference truncates the raw
        # buffer at buffer[1024]); slicing characters would scan
        # further into multibyte content than the reference does.
        # Decode with 'replace', not 'ignore': 'ignore' DROPPED invalid
        # bytes anywhere in the window, so two fragments separated by a
        # bad byte could splice into an ASCII marker that was never
        # contiguous in the raw buffer. U+FFFD keeps every invalid byte
        # (and the truncated trailing sequence) as a separator the ASCII
        # marker scan can never match across — exactly the reference's
        # raw-byte contiguity (round-6 ADVICE fix).
        raw = text.encode("utf-8", "surrogatepass")
        buf = (
            raw[:FIRSTN].decode("utf-8", "replace")
            if len(raw) > FIRSTN
            else text
        )
    else:
        buf = None

    scored = []
    for idx, (names, mimes, uris, recognise) in enumerate(FACTORIES):
        score = -1
        if mime_type and mimes:
            # the reference's type loop lands on the table's {NULL,0,0}
            # sentinel when nothing matches, and `if(type_q) score =
            # type_q->q` then assigns the sentinel's q — so a supplied
            # mime_type scores 0 (not -1) against any factory with a
            # type table, matched or not (raptor_parse.c:1389-1400)
            score = mimes.get(mime_type, 0)
            if score >= 10:
                # high-Q exact media-type match ends the scan
                return names[0]
        if uri and uri in uris:
            # exact syntax-URI match ends the scan
            return names[0]
        score += recognise(buf, identifier, suffix, mime_type)
        scored.append((min(score, 10), idx, names[0]))

    scored.sort(key=lambda t: (-t[0], t[1]))
    best_score, _, best_name = scored[0]
    return best_name if best_score >= MIN_GUESS_SCORE else None
