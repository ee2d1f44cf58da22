"""Blank-node-aware structural graph comparison (rdfdiff equivalent).

Mirrors the semantics of the reference's utils/rdfdiff.c:280-452 (statement
equality with recursive blank-node owner equality): two graphs are equal iff
there is a bijection between their blank nodes making the triple multisets
equal. Fixture graphs are small, so signature-guided backtracking is fine.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from typing import Dict, Iterable, List, Optional, Tuple

from raptor_spark.kernel.terms import Triple


def _norm(t: Triple) -> Tuple:
    return (
        t.subj,
        t.pred,
        t.obj_kind,
        t.obj_lex,
        t.obj_datatype,
        t.obj_lang,
        t.graph,
    )


def _is_bnode(s: Optional[str]) -> bool:
    return s is not None and s.startswith("_:")


def _bnodes_of(triples: Iterable[Tuple]) -> List[str]:
    out = set()
    for s, p, ok, olex, odt, olang, g in triples:
        if _is_bnode(s):
            out.add(s)
        if ok == 4:
            out.add("_:" + olex)
        if _is_bnode(g):
            out.add(g)
    return sorted(out)


def _signature(triples: List[Tuple], rounds: int = 3) -> Dict[str, str]:
    """Iterative-refinement color for each bnode (degree/context hash)."""
    color = {b: "0" for b in _bnodes_of(triples)}
    for _ in range(rounds):
        upd: Dict[str, List[str]] = defaultdict(list)
        for s, p, ok, olex, odt, olang, g in triples:
            sb = _is_bnode(s)
            ob = ok == 4
            o_id = "_:" + olex if ob else None
            s_col = color[s] if sb else s
            o_col = color[o_id] if ob else (ok, olex, odt, olang)
            if sb:
                upd[s].append(str(("S", p, o_col, g if not _is_bnode(g) else "_g")))
            if ob:
                upd[o_id].append(str(("O", p, s_col, g if not _is_bnode(g) else "_g")))
            if _is_bnode(g):
                upd[g].append(str(("G", p)))
        color = {
            b: str(hash(tuple(sorted(upd.get(b, []))) + (color[b],)))
            for b in color
        }
    return color


def find_bnode_mapping(
    a: List[Triple], b: List[Triple]
) -> Optional[Dict[str, str]]:
    """Bijection from a's bnodes to b's making multisets equal, or None."""
    ta = [_norm(t) for t in a]
    tb = [_norm(t) for t in b]
    if len(ta) != len(tb):
        return None

    ba = _bnodes_of(ta)
    bb = _bnodes_of(tb)
    if len(ba) != len(bb):
        return None

    # ground triples must match exactly
    def grounded(ts):
        return Counter(
            t
            for t in ts
            if not _is_bnode(t[0]) and t[2] != 4 and not _is_bnode(t[6])
        )

    if grounded(ta) != grounded(tb):
        return None

    sig_a = _signature(ta)
    sig_b = _signature(tb)
    if Counter(sig_a.values()) != Counter(sig_b.values()):
        return None

    # candidate sets per signature
    cands = {
        x: sorted(y for y in bb if sig_b[y] == sig_a[x]) for x in ba
    }
    order = sorted(ba, key=lambda x: len(cands[x]))

    # Incremental-validation backtracking: every triple of `ta` is
    # consumed from `remaining` the moment its LAST bnode is assigned,
    # so an inconsistent partial assignment is rejected at the first
    # bnode that breaks a triple — leaf-only validation would enumerate
    # all k! signature-consistent bijections on non-isomorphic graphs
    # whose bnodes are refinement-equivalent (e.g. one 2k-cycle vs two
    # k-cycles), which is factorial exactly when the comparator runs on
    # a FAILING case and a diff is most needed.
    tri_bnodes: List[set] = []
    touch: Dict[str, List[int]] = defaultdict(list)
    for i, (s, p, ok, olex, odt, olang, g) in enumerate(ta):
        bs = set()
        if _is_bnode(s):
            bs.add(s)
        if ok == 4:
            bs.add("_:" + olex)
        if _is_bnode(g):
            bs.add(g)
        tri_bnodes.append(bs)
        for x in bs:
            touch[x].append(i)

    remaining = Counter(tb)
    for i, t in enumerate(ta):
        if not tri_bnodes[i]:
            if remaining[t] <= 0:
                return None  # unreachable after the grounded() check
            remaining[t] -= 1
    unassigned = [len(bs) for bs in tri_bnodes]

    used: set = set()
    assignment: Dict[str, str] = {}

    def map_triple(i: int) -> Tuple:
        s, p, ok, olex, odt, olang, g = ta[i]
        s2 = assignment.get(s, s) if _is_bnode(s) else s
        olex2 = (
            assignment.get("_:" + olex, "_:" + olex)[2:] if ok == 4 else olex
        )
        g2 = assignment.get(g, g) if _is_bnode(g) else g
        return (s2, p, ok, olex2, odt, olang, g2)

    def backtrack(k: int) -> bool:
        if k == len(order):
            # every triple was consumed exactly once without going
            # negative and |ta| == |tb|, so the multisets are equal
            return True
        x = order[k]
        for y in cands[x]:
            if y in used:
                continue
            assignment[x] = y
            used.add(y)
            consumed: List[Tuple[int, Optional[Tuple]]] = []
            feasible = True
            for i in touch[x]:
                unassigned[i] -= 1
                if unassigned[i] == 0:
                    mt = map_triple(i)
                    if remaining[mt] <= 0:
                        consumed.append((i, None))
                        feasible = False
                        break
                    remaining[mt] -= 1
                    consumed.append((i, mt))
                else:
                    consumed.append((i, None))
            if feasible and backtrack(k + 1):
                return True
            for i, mt in consumed:
                if mt is not None:
                    remaining[mt] += 1
                unassigned[i] += 1
            used.discard(y)
            del assignment[x]
        return False

    if backtrack(0):
        return dict(assignment)
    return None


def graphs_isomorphic(a: List[Triple], b: List[Triple]) -> bool:
    return find_bnode_mapping(a, b) is not None

