"""C2 — deterministic open triple extraction (the reference's LLM stage).

Reference parity: sentence_level_extraction.py:43-78 + bel_model.py +
prompt_file_v7.txt. The prompt's hard constraints become code:

  * >=2 annotated entities per sentence, else skip  (prompt rule 2)
  * entities only from the annotation list           (prompt rule 3 — the
    extractor only sees grounded mentions, so this holds by construction)
  * fixed namespace -> BEL-function mapping          (prompt namespace table)
  * fixed relation vocabulary                        (prompt relation table)
  * skip non-interaction sentences                   (prompt rule 4; includes
    negation cues)
  * dedup per sentence                               (prompt rule 5)

The pattern matcher reads the inter-mention text of each adjacent grounded
mention pair; an exact (longest-first) hit in the relation-phrase lexicon or
a pmod verb emits one BEL statement with the sentence as evidence.

Each DataFrame operator over a pure per-row extractor (here and
``extraction.extract_statements_extended``) is one ``_statement_stage``:
one Arrow-batched pandas UDF exploded into STATEMENTS rows, no shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..functions.bel import (
    NEGATION_CUES,
    PMOD_RESIDUES,
    PMOD_VERBS,
    RELATION_PHRASES,
    make_term,
)
from ..schemas import STATEMENT
from .mentions import WorkerMatcher

import re

_PHRASE_TO_REL = {p: r for p, r in RELATION_PHRASES}
# loss-of-function subject prefix flips the observed direction: "ablation
# of <X> abolished <Y>" means X positively regulates Y. Canonical home of
# the rule — the block engine (operators/extraction.py) imports it so the
# two engines can never emit opposite signs for the same sentence.
_ABLATION_PREFIX_RE = re.compile(
    r"(?:(?:ablation|loss|knockout|deletion|depletion|silencing)\s+of"
    r"(?:\s+(?:mitochondrial|cellular|endogenous|functional|nuclear"
    r"|cytosolic|hepatic|total))*"
    r"|lacking(?:\s+functional)?"
    r"|blocking"
    r"|dominant[-\s]negative)\s+$",
    re.I,
)
_REL_FLIP = {"increases": "decreases", "decreases": "increases",
             "directlyIncreases": "directlyDecreases",
             "directlyDecreases": "directlyIncreases"}
# str.startswith takes a tuple — one C call replaces a per-cue genexpr that
# profiled at ~12% of the extraction hot loop
_NEGATION_CUES_T = tuple(NEGATION_CUES)
_PMOD_BY_VERB = {v: (rel, mod) for v, rel, mod in PMOD_VERBS}
# passive voice reverses the roles: "B is phosphorylated by A" ->
# A directlyIncreases p(B, pmod(Ph)); participle = verb stem + "d"
_PASSIVE_PMOD = {f"is {v[:-1]}d by": (rel, mod) for v, rel, mod in PMOD_VERBS}
_PMOD_SITE_RE = re.compile(
    # no ^: applied via Pattern.match(sentence, pos), which anchors at pos
    rf"\s*at\s+({'|'.join(PMOD_RESIDUES)})\s+(\d+)\b"
)
# "...The catalytic activity of <SUBJ> ..." -> act(subj)
_ACTIVITY_PREFIX_RE = re.compile(r"\b[a-z]+ activity of $")
# nominalization: "<nominal> of <TARGET> by <AGENT>" — the prefix before the
# FIRST mention names the action, the inter text is just "by", and the roles
# reverse (agent = second mention)
_NOMINAL_PREFIX = {
    "activation of ": "increases",
    "inhibition of ": "decreases",
    "suppression of ": "decreases",
    "induction of ": "increases",
}


def extract_parts_from_sentence(
    sentence: str,
    mentions: list,
    relation_phrases: list[tuple[str, str]] | None = None,
) -> list[tuple[str, str, str, str, str]]:
    """Pure per-sentence extraction -> [(subj, rel, obj, bel_statement,
    evidence)].

    The parts ARE the statement's split: every emitted statement is
    ``f"{subj} {rel} {obj}"`` with subj/obj balanced term expressions, so
    ``bel.split_statement(bel_statement) == (subj, rel, obj)`` by
    construction (pinned by tests/test_bel_properties.py) — the fused
    operators consume the parts directly instead of re-parsing the string
    they just serialized (profiled at 22% of the fused hot loop).

    ``mentions``: sequence of dict-like rows with begin/end/db/entry_name.

    ``relation_phrases``: optional custom (phrase, relation) lexicon. When
    given, the engine runs in pure phrase-lexicon mode — the adjacency +
    exact-inter-text semantics are identical, but the biomedical extras
    (pmod verbs, passive pmod, nominalizations, act()/Phosphorylated subject
    wrappers) are disabled so the behavior is fully determined by the custom
    lexicon. This makes C2 domain-configurable (the reference hard-codes its
    relation table in prompt_file_v7.txt; here it is data).
    """
    if mentions is None or len(mentions) < 2:
        return []
    if relation_phrases is None:
        phrase_map = _PHRASE_TO_REL
        pmod_map, passive_map = _PMOD_BY_VERB, _PASSIVE_PMOD
        nominal_map, wrappers = _NOMINAL_PREFIX, True
    else:
        phrase_map = dict(relation_phrases)
        pmod_map, passive_map, nominal_map, wrappers = {}, {}, {}, False
    ms = sorted(mentions, key=lambda m: (m["begin"], -(m["end"] - m["begin"])))
    out: list[tuple[str, str, str, str, str]] = []
    seen: set[str] = set()

    # complex pattern over three consecutive mentions:
    # "... A/B complex <phrase> C ..." -> complex(tA, tB) rel tC
    for a, b, c in zip(ms, ms[1:], ms[2:]):
        if sentence[a["end"] : b["begin"]] != "/":
            continue
        inter2 = sentence[b["end"] : c["begin"]].strip()
        if not inter2.startswith("complex "):
            continue
        phrase = inter2[len("complex ") :]
        if phrase not in phrase_map:
            continue
        subj = (
            f"complex({make_term(a['db'], a['entry_name'])}, "
            f"{make_term(b['db'], b['entry_name'])})"
        )
        rel = phrase_map[phrase]
        obj = make_term(c["db"], c["entry_name"])
        stmt = f"{subj} {rel} {obj}"
        if stmt not in seen:
            seen.add(stmt)
            out.append((subj, rel, obj, stmt, sentence))

    for left, right in zip(ms, ms[1:]):
        inter = sentence[left["end"] : right["begin"]].strip()
        if not inter:
            continue
        low = inter + " "
        if low.startswith(_NEGATION_CUES_T):
            continue
        parts = None
        subj = make_term(left["db"], left["entry_name"])
        # subject wrappers cued by the text immediately before the subject
        # (prompt BEL-function list: act(), pmod() as term arguments).
        # endswith(.., 0, b) / search(.., pos, b) instead of slicing: no
        # O(prefix) copy per pair, and the $-anchored cue scans only the
        # tail window that can contain it
        lb = left["begin"]
        if wrappers and _ACTIVITY_PREFIX_RE.search(
            sentence, lb - 64 if lb > 64 else 0, lb
        ):
            subj = f"act({subj})"
        elif wrappers and sentence.endswith("Phosphorylated ", 0, lb):
            subj = make_term(left["db"], left["entry_name"], pmod=("Ph", None, None))
        if inter in pmod_map:
            rel, mod = pmod_map[inter]
            site = _PMOD_SITE_RE.match(sentence, right["end"])
            pmod = (mod, site.group(1), int(site.group(2))) if site else (mod, None, None)
            obj = make_term(right["db"], right["entry_name"], pmod=pmod)
            parts = (subj, rel, obj)
        elif inter in passive_map:
            # roles reversed: the agent is the RIGHT mention, the modified
            # protein the LEFT one; the site phrase still follows the agent
            rel, mod = passive_map[inter]
            site = _PMOD_SITE_RE.match(sentence, right["end"])
            pmod = (mod, site.group(1), int(site.group(2))) if site else (mod, None, None)
            agent = make_term(right["db"], right["entry_name"])
            target = make_term(left["db"], left["entry_name"], pmod=pmod)
            parts = (agent, rel, target)
        elif inter in phrase_map:
            rel = phrase_map[inter]
            # "ablation/loss/depletion of <X> abolished <Y>", "the
            # dominant negative <X> inhibits <Y>": loss-of-function
            # subject, so the observed direction flips (same rule as the
            # block engine's active branch — without this the two engines
            # would emit opposite signs for the same sentence)
            if _ABLATION_PREFIX_RE.search(
                sentence, lb - 72 if lb > 72 else 0, lb
            ):
                rel = _REL_FLIP.get(rel, rel)
            obj = make_term(right["db"], right["entry_name"])
            parts = (subj, rel, obj)
        elif inter == "by":
            for nominal, rel in nominal_map.items():
                if sentence.endswith(nominal, 0, lb):
                    agent = make_term(right["db"], right["entry_name"])
                    target = make_term(left["db"], left["entry_name"])
                    parts = (agent, rel, target)
                    break
        if parts is not None:
            stmt = f"{parts[0]} {parts[1]} {parts[2]}"
            if stmt not in seen:
                seen.add(stmt)
                out.append((*parts, stmt, sentence))
    return out


def extract_from_sentence(
    sentence: str,
    mentions: list,
    relation_phrases: list[tuple[str, str]] | None = None,
) -> list[tuple[str, str]]:
    """Pure per-sentence extraction -> [(bel_statement, evidence)] — the
    string-level view of ``extract_parts_from_sentence`` (same semantics,
    same order)."""
    return [
        (stmt, ev)
        for _s, _r, _o, stmt, ev in extract_parts_from_sentence(
            sentence, mentions, relation_phrases
        )
    ]


def cooccurrence_from_sentence(sentence: str, mentions: list) -> list[tuple[str, str]]:
    """Pure per-sentence association extraction -> [(bel_statement,
    evidence)]: one ``association`` statement per adjacent (by ``begin``)
    pair of mentions of different entities, dedup'd per sentence."""
    if mentions is None or len(mentions) < 2:
        return []
    ms = sorted(mentions, key=lambda m: m["begin"])
    out: list[tuple[str, str]] = []
    seen: set[str] = set()
    for left, right in zip(ms, ms[1:]):
        if left["entry_name"] == right["entry_name"]:
            continue
        subj = make_term(left["db"], left["entry_name"])
        obj = make_term(right["db"], right["entry_name"])
        stmt = f"{subj} association {obj}"
        if stmt not in seen:
            seen.add(stmt)
            out.append((stmt, sentence))
    return out


def _statement_stage(
    frame: DataFrame, row_fn, cols: list[str], alias_rows: list | None = None,
    sent_idx: Column | str = "sent_idx",
) -> DataFrame:
    """``frame`` -> STATEMENTS in one Arrow crossing: ``row_fn`` maps each
    row's ``cols`` values (plus the worker's ``AliasMatcher`` when
    ``alias_rows`` is given) to [(bel_statement, evidence)]."""
    matcher = None if alias_rows is None else WorkerMatcher(frame.sparkSession, alias_rows)

    @F.pandas_udf(ArrayType(STATEMENT))
    def _statements(*series: pd.Series) -> pd.Series:
        extra = () if matcher is None else (matcher(),)
        return pd.Series([
            [{"bel_statement": s, "evidence": e} for s, e in row_fn(*row, *extra)]
            for row in zip(*series)
        ])

    return frame.select(
        "url", "warc_ts", "para_idx", sent_idx,
        # F9 empty-result filter (grounding_genes.py:65-68): explode emits
        # no row for an empty (or NULL) result array
        F.explode(_statements(*cols)).alias("r"),
    ).select("url", "warc_ts", "para_idx", "sent_idx", "r.bel_statement", "r.evidence")


def extract_cooccurrence(mentions_df: DataFrame) -> DataFrame:
    """MENTIONS -> STATEMENTS with ``cooccurrence_from_sentence``: the
    baseline association extraction.

    This is the weakest-evidence fallback of the relation vocabulary — the
    reference prompt calls ``association`` the "least informative
    relationship" (prompt_file_v7.txt relation table). Kept separate from
    the pattern extractor so precision-sensitive runs can exclude it.
    """
    return _statement_stage(mentions_df, cooccurrence_from_sentence, ["sentence", "mentions"])


def extract_statements(
    mentions_df: DataFrame,
    relation_phrases: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """MENTIONS -> STATEMENTS with ``extract_from_sentence``.

    ``relation_phrases``: optional custom (phrase, relation) lexicon — see
    ``extract_from_sentence``. The lexicon rides the serialized UDF closure
    (relation tables are O(100) entries; broadcast would buy nothing)."""
    lex = list(relation_phrases) if relation_phrases is not None else None
    return _statement_stage(
        mentions_df, lambda s, m: extract_from_sentence(s, m, lex), ["sentence", "mentions"]
    )
