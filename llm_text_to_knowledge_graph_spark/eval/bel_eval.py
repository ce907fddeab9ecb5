"""Entity-focused BEL statement matcher (the correctness harness).

Ported semantics (written from scratch) of the reference's evaluation
pipeline at evaluation_tests_and_analysis/indra_vs_texttoKG_tests/
bel_parser.py:100-569 and compare_bel_statements.py:

  * comparability gate: subject-entity sets intersect AND object-entity
    sets intersect (bel_parser.py:359-375)
  * relation score: exact +0.30, group-compatible +0.20 (:379-385)
  * pmod score, subject and object each: strict match +0.25, type-only
    +0.10, both-absent +0.25 (:387-412)
  * match threshold 0.5 (compare_bel_statements.py:259-263 default);
    exact_match >= 0.9 else core_match (:505)
  * bipartite 1:1 matching: the reference uses Hungarian when scipy is
    present else greedy-by-score (:516-545). scipy is not pinned in this
    environment, so the GREEDY semantics are the pinned, reproducible
    choice (documented in SURVEY.md §7 "What's hard" #5). Groups are tiny
    (statements sharing one evidence sentence), so the practical difference
    is nil.

Spark integration: per-(url, evidence) grouped matching via applyInPandas —
groups are small by construction, the shuffle key is (url, evidence).
"""

from __future__ import annotations

import re

# --- relationship vocabulary & compatibility groups (bel_parser.py:103-122) --
RELATIONSHIPS = [
    "directlyIncreases", "directlyDecreases",
    "increases", "decreases",
    "causesNoChange", "cnc",
    "association",
    "isA", "partOf", "hasComponent",
    "positiveCorrelation", "pos",
    "negativeCorrelation", "neg",
    "regulates", "reg",
    # extended coverage for the full prompt vocabulary (prompt_file_v7.txt)
    "rateLimitingStepOf", "subProcessOf", "transcribedTo", "translatedTo",
    "hasActivity", "hasMembers", "hasMember", "hasComponents", "orthologous",
]
_REL_ORDER = sorted(RELATIONSHIPS, key=len, reverse=True)

RELATIONSHIP_GROUPS = {
    "positive": {"increases", "directlyIncreases", "pos", "positiveCorrelation"},
    "negative": {"decreases", "directlyDecreases", "neg", "negativeCorrelation"},
    "structural": {"partOf", "hasComponent", "isA", "hasComponents", "hasMember", "hasMembers"},
    "regulatory": {"regulates", "reg"},
    "neutral": {"association", "causesNoChange", "cnc"},
}

_MOD_NORMALIZE = [
    (re.compile(r'go:0006468( ! "[^"]+")?', re.I), "Ph"),
    (re.compile(r'go:0006473( ! "[^"]+")?', re.I), "Ac"),
    (re.compile(r'go:0006479( ! "[^"]+")?', re.I), "Me"),
    (re.compile(r'go:0016567( ! "[^"]+")?', re.I), "Ub"),
    (re.compile(r'go:0016925( ! "[^"]+")?', re.I), "Sumo"),
    (re.compile(r"phosphorylation", re.I), "Ph"),
    (re.compile(r"acetylation", re.I), "Ac"),
    (re.compile(r"methylation", re.I), "Me"),
    (re.compile(r"ubiquit(?:in|yl)ation", re.I), "Ub"),
    (re.compile(r"sumoylation", re.I), "Sumo"),
    # BEL 1.0 legacy single-letter modification codes, as used by the
    # reference's hand-curated gold (papers/pmid*.bel: pmod(P,Y,694)) —
    # same normalization family as the GO-id mapping above (the reference's
    # bel_parser.py mod_type mappings, :125-151).
    (re.compile(r"pmod\(\s*P\s*([,)])"), r"pmod(Ph\1"),
    (re.compile(r"pmod\(\s*A\s*([,)])"), r"pmod(Ac\1"),
    (re.compile(r"pmod\(\s*M\s*([,)])"), r"pmod(Me\1"),
    (re.compile(r"pmod\(\s*U\s*([,)])"), r"pmod(Ub\1"),
    # one-letter amino-acid residue codes inside pmod(...) -> three-letter
    (re.compile(r"(pmod\([A-Za-z]+,\s*)S(\s*[,)])"), r"\1Ser\2"),
    (re.compile(r"(pmod\([A-Za-z]+,\s*)T(\s*[,)])"), r"\1Thr\2"),
    (re.compile(r"(pmod\([A-Za-z]+,\s*)Y(\s*[,)])"), r"\1Tyr\2"),
    (re.compile(r"(pmod\([A-Za-z]+,\s*)K(\s*[,)])"), r"\1Lys\2"),
    (re.compile(r"(pmod\([A-Za-z]+,\s*)R(\s*[,)])"), r"\1Arg\2"),
]
_INDRA_RE = re.compile(r"\b([A-Z][A-Z0-9]*):[\w\d]+ ! ([\w\d]+)")
_ENTITY_RE = re.compile(r'\b([A-Z][A-Z0-9]+):([A-Za-z0-9_\-]+|"[^"]+")')
_PMOD_RE = re.compile(r"pmod\(([^,\)]+)(?:,\s*([A-Za-z]{3})(?:,\s*(\d+))?)?\)")
_COMPLEX_MEMBER_RE = re.compile(r"p\([^)]+\)")


def _normalize(text: str) -> str:
    text = _INDRA_RE.sub(r"\1:\2", text)
    for rx, repl in _MOD_NORMALIZE:
        text = rx.sub(repl, text)
    return text


def _entities(text: str) -> frozenset[str]:
    """All namespace:identifier core-ids in a component (complex members
    included — get_all_entities semantics, bel_parser.py:79-84)."""
    if text.startswith("complex("):
        found = set()
        for member in _COMPLEX_MEMBER_RE.findall(text):
            m = _ENTITY_RE.search(member)
            if m:
                found.add(f"{m.group(1)}:{m.group(2).strip(chr(34))}")
        if found:
            return frozenset(found)
    m = _ENTITY_RE.search(text)
    if m:
        return frozenset({f"{m.group(1)}:{m.group(2).strip(chr(34))}"})
    return frozenset({text.strip()})


def _pmod(text: str) -> tuple[str, str | None, int | None] | None:
    m = _PMOD_RE.search(text)
    if not m:
        return None
    mod_type = _normalize(m.group(1).strip()).strip("\"'")
    residue = m.group(2) or None
    position = int(m.group(3)) if m.group(3) else None
    return (mod_type, residue, position)


def parse_statement(stmt: str) -> dict:
    """Parse into {subj_entities, rel, obj_entities, subj_pmod, obj_pmod}.
    rel/obj are None for non-relational statements."""
    normalized = _normalize(stmt.strip())
    rel = None
    subj_text = normalized
    obj_text = None
    for r in _REL_ORDER:
        m = re.search(r"\b" + re.escape(r) + r"\b", normalized)
        if m:
            rel = r
            subj_text = normalized[: m.start()].strip()
            obj_text = normalized[m.end() :].strip()
            break
    out = {
        "rel": rel,
        "subj_entities": _entities(subj_text),
        "subj_pmod": _pmod(subj_text),
        "obj_entities": _entities(obj_text) if obj_text else frozenset(),
        "obj_pmod": _pmod(obj_text) if obj_text else None,
    }
    return out


def _rel_group(rel: str) -> str | None:
    for g, rels in RELATIONSHIP_GROUPS.items():
        if rel in rels:
            return g
    return None


def _pmod_score(a, b) -> float:
    if a and b:
        if a[0] != b[0]:
            return 0.0
        if a[1] == b[1] and a[2] == b[2]:
            return 0.25
        return 0.10
    if a is None and b is None:
        return 0.25
    return 0.0


def match_score(p1: dict, p2: dict) -> float:
    """Score per bel_parser.py:337-421. 0.0 when not comparable."""
    if p1["rel"] is None or p2["rel"] is None:
        return 0.0
    if not (p1["subj_entities"] & p2["subj_entities"]):
        return 0.0
    if not (p1["obj_entities"] & p2["obj_entities"]):
        return 0.0
    score = 0.0
    if p1["rel"] == p2["rel"]:
        score += 0.30
    else:
        g1, g2 = _rel_group(p1["rel"]), _rel_group(p2["rel"])
        if g1 is not None and g1 == g2:
            score += 0.20
    score += _pmod_score(p1["subj_pmod"], p2["subj_pmod"])
    score += _pmod_score(p1["obj_pmod"], p2["obj_pmod"])
    return score


def match_group(
    pred_statements: list[str],
    gold_statements: list[str],
    method: str = "greedy",
) -> list[dict]:
    """1:1 bipartite matching within one evidence group.

    method="greedy": sorted-by-score greedy (bel_parser.py:516-545 fallback
    semantics — the pinned default). method="hungarian": optimal assignment
    (bel_parser.py:479-514 scipy path, reimplemented in eval/hungarian.py).
    """
    pred_parsed = [parse_statement(s) for s in pred_statements]
    gold_parsed = [parse_statement(s) for s in gold_statements]
    scores = [
        [match_score(pp, gp) for gp in gold_parsed] for pp in pred_parsed
    ]

    assigned: list[tuple[float, int, int]] = []
    if method == "hungarian" and pred_statements and gold_statements:
        from .hungarian import max_score_assignment

        for i, j in max_score_assignment(scores):
            if scores[i][j] >= 0.5:
                assigned.append((scores[i][j], i, j))
    else:
        candidates = [
            (s, i, j)
            for i, row in enumerate(scores)
            for j, s in enumerate(row)
            if s >= 0.5
        ]
        # sort desc by score; stable deterministic tie-break on (-score, i, j)
        candidates.sort(key=lambda t: (-t[0], t[1], t[2]))
        matched_p: set[int] = set()
        matched_g: set[int] = set()
        for s, i, j in candidates:
            if i in matched_p or j in matched_g:
                continue
            matched_p.add(i)
            matched_g.add(j)
            assigned.append((s, i, j))

    matched_p = {i for _, i, _ in assigned}
    matched_g = {j for _, _, j in assigned}
    results = []
    for s, i, j in sorted(assigned, key=lambda t: (-t[0], t[1], t[2])):
        results.append(
            {
                "pred_statement": pred_statements[i],
                "gold_statement": gold_statements[j],
                "match_type": "exact_match" if s >= 0.9 else "core_match",
                "score": s,
            }
        )
    for i, s in enumerate(pred_statements):
        if i not in matched_p:
            results.append(
                {"pred_statement": s, "gold_statement": None,
                 "match_type": "pred_only", "score": 0.0}
            )
    for j, s in enumerate(gold_statements):
        if j not in matched_g:
            results.append(
                {"pred_statement": None, "gold_statement": s,
                 "match_type": "gold_only", "score": 0.0}
            )
    return results
