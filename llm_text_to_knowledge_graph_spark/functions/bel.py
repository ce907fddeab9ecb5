"""Pure BEL (Biological Expression Language) string utilities.

Semantics match the reference implementation observably (cited per function);
the code is written from scratch. These functions are pure and deterministic
so they can run inside Arrow-batched pandas UDFs on any partitioning.

Reference parity targets:
  * statement split      -> /root/reference/textToKnowledgeGraph/transform_bel_statements.py:1-76
  * label extraction     -> /root/reference/textToKnowledgeGraph/convert_to_cx2.py:11-39
  * type extraction      -> /root/reference/textToKnowledgeGraph/convert_to_cx2.py:42-47
  * identifiers.org URL  -> /root/reference/textToKnowledgeGraph/grounding_genes.py:75-92
  * relation vocabulary  -> /root/reference/textToKnowledgeGraph/prompt_file_v7.txt:164-186
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# Relation vocabulary (prompt_file_v7.txt relation table) and the surface
# phrase lexicon used by BOTH the synthetic corpus generator and the pattern
# extractor. The lexicon is the deterministic stand-in for the reference's
# LLM call (SURVEY.md §2.3 C2): phrase -> canonical BEL relation.
# ---------------------------------------------------------------------------

BEL_RELATIONS = [
    "association",
    "causesNoChange",
    "decreases",
    "directlyDecreases",
    "directlyIncreases",
    "hasActivity",
    "hasComponent",
    "hasComponents",
    "hasMember",
    "hasMembers",
    "increases",
    "isA",
    "negativeCorrelation",
    "orthologous",
    "positiveCorrelation",
    "rateLimitingStepOf",
    "regulates",
    "subProcessOf",
    "transcribedTo",
    "translatedTo",
]

# Surface phrase -> BEL relation. Longest-first matching at extraction time.
RELATION_PHRASES: list[tuple[str, str]] = [
    ("is a rate limiting step of", "rateLimitingStepOf"),
    ("positively correlates with", "positiveCorrelation"),
    ("negatively correlates with", "negativeCorrelation"),
    ("is a subprocess of", "subProcessOf"),
    ("causes no change in", "causesNoChange"),
    ("is transcribed to", "transcribedTo"),
    ("is translated to", "translatedTo"),
    ("is associated with", "association"),
    ("directly increases", "directlyIncreases"),
    ("directly decreases", "directlyDecreases"),
    ("directly activates", "directlyIncreases"),
    ("directly inhibits", "directlyDecreases"),
    ("is a member of", "isA"),
    ("has component", "hasComponent"),
    ("upregulates", "increases"),
    ("downregulates", "decreases"),
    ("interacts with", "association"),
    ("binds to", "association"),
    ("stimulates", "increases"),
    ("suppresses", "decreases"),
    ("activates", "increases"),
    ("increases", "increases"),
    ("elevates", "increases"),
    ("inhibits", "decreases"),
    ("decreases", "decreases"),
    ("reduces", "decreases"),
    ("regulates", "regulates"),
]

# Verbs that imply a protein modification on the object term:
# verb -> (relation, pmod type).
PMOD_VERBS: list[tuple[str, str, str]] = [
    ("phosphorylates", "directlyIncreases", "Ph"),
    ("dephosphorylates", "directlyDecreases", "Ph"),
    ("acetylates", "directlyIncreases", "Ac"),
    ("methylates", "directlyIncreases", "Me"),
    ("ubiquitinates", "directlyIncreases", "Ub"),
    ("sumoylates", "directlyIncreases", "Sumo"),
]

PMOD_RESIDUES = ["Ser", "Thr", "Tyr", "Lys", "Arg"]

# Negation cues: if one appears immediately before the relation phrase the
# sentence describes a non-interaction and must be skipped (prompt rule 4,
# prompt_file_v7.txt:24 "Skip Non-Interaction Sentences").
NEGATION_CUES = ("does not ", "do not ", "did not ", "fails to ", "cannot ", "never ")

# Namespace -> BEL term function (prompt_file_v7.txt:12-21 namespace table;
# function shortforms from the prompt's BEL function list).
NS_FUNC = {
    "HGNC": "p",
    "UNIPROT": "p",
    "FPLX": "complex",
    "CHEBI": "a",
    "GO": "bp",
    "DOID": "path",
    "EFO": "a",
    "HP": "path",
    # namespaces used by the reference's hand-curated gold corpora
    # (papers/pmid*.bel, results/pmid9813040/sentences_with_extractions.json)
    "CHEBIID": "a",   # numeric ChEBI ids, e.g. a(CHEBIID:59826)
    "SFAM": "p",      # Selventa protein families, e.g. p(SFAM:"STAT5 Family")
    "MESHPP": "bp",   # MeSH biological processes
    "MESHCS": "a",    # MeSH cellular structures (tloc endpoints)
    "MESHD": "path",  # MeSH diseases
    "MGI": "p",       # mouse gene symbols (papers/pmid16962653.bel)
    "GOBP": "bp",     # GO biological process (legacy gold namespace tag)
    "SCOMP": "complex",  # Selventa named complexes
}


_BARE_NAME_RE = re.compile(r"[\w\-]+")

# bare-term memo: the extraction hot loop renders the same (db, entry_name)
# term for every occurrence of an entity across the corpus — entity
# vocabularies are dictionary-sized, so the cache converges to ~lexicon
# entries per worker (bounded below regardless). Saves the fullmatch +
# f-string per call (~8% of the per-sentence extraction cost).
_BARE_TERM_CACHE: dict[tuple[str, str], str] = {}


def make_term(
    db: str,
    entry_name: str,
    pmod: tuple[str, str | None, int | None] | None = None,
    func: str | None = None,
) -> str:
    """Render a BEL term, e.g. ``p(HGNC:AKT1)``, ``p(HGNC:X, pmod(Ph))``,
    or ``p(HGNC:HSF1, pmod(Ph, Thr, 142))``.

    ``func`` overrides the namespace-derived BEL function — e.g. ``r`` for
    RNA when the mention is a promoter/message/transcript context.
    """
    if pmod is None and func is None:
        term = _BARE_TERM_CACHE.get((db, entry_name))
        if term is None:
            f = NS_FUNC.get(db, "a")
            name = (
                entry_name
                if _BARE_NAME_RE.fullmatch(entry_name)
                else f'"{entry_name}"'
            )
            term = f"{f}({db}:{name})"
            if len(_BARE_TERM_CACHE) < (1 << 20):
                _BARE_TERM_CACHE[(db, entry_name)] = term
        return term
    if func is None:
        func = NS_FUNC.get(db, "a")
    name = entry_name if _BARE_NAME_RE.fullmatch(entry_name) else f'"{entry_name}"'
    if pmod is not None:
        mod_type, residue, position = pmod
        if residue is None:
            return f"{func}({db}:{name}, pmod({mod_type}))"
        if position is None:
            return f"{func}({db}:{name}, pmod({mod_type}, {residue}))"
        return f"{func}({db}:{name}, pmod({mod_type}, {residue}, {position}))"
    return f"{func}({db}:{name})"


def identifiers_url(db: str, the_id: str) -> str:
    """identifiers.org URL; ids that already carry a ``ns:`` prefix are kept
    verbatim (grounding_genes.py:80-88 branch)."""
    if ":" in the_id:
        final_id = the_id
    else:
        final_id = f"{db}:{the_id}" if db and the_id else (db or the_id)
    return f"https://identifiers.org/{final_id}"


# ---------------------------------------------------------------------------
# Statement split: "subj rel obj" at top paren depth, quote-aware.
# ---------------------------------------------------------------------------


def _read_term(s: str, i: int) -> tuple[str, int]:
    """Read one BEL term expression starting at ``i`` (whitespace-skipped).

    A term is an identifier run optionally followed by a balanced-paren
    argument list; double-quoted spans are opaque. Returns (expr, next_idx).
    """
    n = len(s)
    while i < n and s[i].isspace():
        i += 1
    start = i
    # identifier / namespaced head (quotes allowed inside, e.g. a(CHEBI:"x y"))
    while i < n:
        c = s[i]
        if c == '"':
            i += 1
            while i < n and s[i] != '"':
                i += 1
            i += 1
        elif c.isalnum() or c in "_:":
            i += 1
        else:
            break
    if i >= n or s[i] != "(":
        return s[start:i], i
    depth = 0
    while i < n:
        c = s[i]
        if c == '"':
            i += 1
            while i < n and s[i] != '"':
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                i += 1
                break
        i += 1
    return s[start:i], i


def split_statement(stmt: str) -> tuple[str | None, str | None, str | None]:
    """Split a BEL statement into (subject, relation, object).

    Unary statements (no top-level space) return ``(stmt, None, None)``;
    unsplittable input returns ``(None, None, None)``. Matches the
    observable behavior of the reference's balanced-paren scanner
    (transform_bel_statements.py:1-76).
    """
    stmt = stmt.strip()
    if not stmt:
        return None, None, None

    # unary check: any space at depth 0 (outside quotes)?
    depth = 0
    in_quote = False
    has_top_space = False
    for c in stmt:
        if c == '"':
            in_quote = not in_quote
        elif not in_quote:
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == " " and depth == 0:
                has_top_space = True
                break
    if not has_top_space:
        return stmt, None, None

    subj, i = _read_term(stmt, 0)
    if not subj:
        return None, None, None
    n = len(stmt)
    while i < n and stmt[i].isspace():
        i += 1
    rel_start = i
    while i < n and not stmt[i].isspace() and stmt[i] != "(":
        i += 1
    rel = stmt[rel_start:i]
    obj, i = _read_term(stmt, i)
    if not obj or not rel:
        return None, None, None
    return subj, rel, obj


# ---------------------------------------------------------------------------
# Label / type extraction (convert_to_cx2.py:11-47 semantics).
# ---------------------------------------------------------------------------

# Python's re and Java's regex read these four the same way: the native
# column forms (operators/graph.py::label_col/type_col) use the strings.
_NS_VALUE_PAT = r':["\']?([^"\')]+)["\']?'
_PMOD_PAT = r"pmod\(([a-zA-Z]+)"
_LOC_PAT = r"loc\([a-zA-Z]+:([^)]+)\)"
_TYPE_PAT = r"^([a-zA-Z]+)\("
_NS_VALUE_RE = re.compile(_NS_VALUE_PAT)
_PMOD_RE = re.compile(_PMOD_PAT)
_LOC_RE = re.compile(_LOC_PAT)
_TYPE_RE = re.compile(_TYPE_PAT)


def extract_label(bel_expression: str) -> str:
    """Human label: all ns:value names, pmod types, and loc names, comma-joined."""
    parts: list[str] = []
    parts.extend(t.strip() for t in _NS_VALUE_RE.findall(bel_expression))
    parts.extend(_PMOD_RE.findall(bel_expression))
    parts.extend(
        loc.replace('"', "").replace("'", "") for loc in _LOC_RE.findall(bel_expression)
    )
    return ", ".join(parts) if parts else bel_expression


def extract_type(bel_expression: str) -> str:
    """BEL function prefix before the first '(' else 'unknown'."""
    m = _TYPE_RE.match(bel_expression)
    return m.group(1) if m else "unknown"
