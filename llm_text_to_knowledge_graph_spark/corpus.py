"""Deterministic synthetic Common-Crawl-style page corpus with planted gold.

The generator is a pure function of (seed, doc_id) — generation happens
inside ``mapInPandas`` over ``spark.range(n_docs)`` so any partitioning
yields byte-identical rows (FIXTURES.md F1-F3). Each sentence is planted
from a (subject entity, relation phrase, object entity[, pmod]) tuple, so
the gold (subj, pred, obj) triples are known by construction.

Adversarial (must-NOT-extract) rows per FIXTURES.md F3: single-entity
sentences, unannotated distractor entities, non-interaction sentences,
negated interactions.
"""

from __future__ import annotations

import datetime as _dt
import html as _html

import numpy as np
import pandas as pd

from .functions.bel import (
    PMOD_RESIDUES,
    PMOD_VERBS,
    RELATION_PHRASES,
    make_term,
)

SEED_DEFAULT = 42
N_ENTITIES = 2000
BASE_TS = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)

_NS_CYCLE = ["HGNC", "HGNC", "HGNC", "UNIPROT", "FPLX", "CHEBI", "GO", "DOID", "EFO", "HP"]
_NAME_STEMS = [
    "AKT", "TP", "MAPK", "EGFR", "KRAS", "BRCA", "HSF", "CDK", "STAT", "JAK",
    "NFKB", "TGF", "VEGF", "MTOR", "PTEN", "RAF", "MEK", "ERK", "PIK", "SRC",
]

_FILLERS = [
    "",
    "In this study, ",
    "We found that ",
    "Our results show that ",
    "Previous work established that ",
    "Notably, ",
]

_NONINTERACTION_JOINERS = [" and ", " as well as ", " alongside "]
_SINGLE_TEMPLATES = [
    "{a} was measured across all samples in the cohort.",
    "Expression of {a} remained stable during treatment.",
    "{a} has been studied extensively in this context.",
]
_NEGATION_FORMS = ["does not increase", "does not decrease", "fails to activate"]


def build_entities(seed: int = SEED_DEFAULT) -> list[dict]:
    """~N_ENTITIES synthetic entities with aliases, ids, priors.

    Mirrors the alias-triple shape the reference's grounding step produces
    (grounding_genes.py:38-44): (db, id, entry_name) plus a disambiguation
    prior (reference keeps Gilda's top match only).
    """
    rng = np.random.RandomState(seed)
    entities = []
    for i in range(N_ENTITIES):
        ns = _NS_CYCLE[i % len(_NS_CYCLE)]
        stem = _NAME_STEMS[int(rng.randint(0, len(_NAME_STEMS)))]
        name = f"{stem}{i}"
        # some ids pre-prefixed (HP:0000123 style), some bare — exercises the
        # URL-construction branch (grounding_genes.py:80-88).
        if ns in ("HP", "GO", "DOID"):
            ent_id = f"{ns}:{7000000 + i}"
        else:
            ent_id = str(1000 + i)
        aliases = [(name, 1.0)]
        if i % 3 == 0:
            aliases.append((f"{name} protein", 0.95))
        if i % 5 == 0:
            aliases.append((f"{name}-L", 0.9))
        entities.append(
            {
                "ns": ns,
                "id": ent_id,
                "entry_name": name,
                "aliases": aliases,
                # aliases the generator may render in text; dict-only aliases
                # (e.g. the losing side of an ambiguous surface form) excluded
                "render_aliases": [a for a, _ in aliases],
            }
        )
    # Ambiguous alias: one surface form shared by two entities with distinct
    # priors; top-1-by-prior must win (grounding_genes.py:36-44 top match),
    # so only the winning entity ever renders it.
    entities[10]["aliases"].append(("OMNIREG", 0.9))
    entities[10]["render_aliases"].append("OMNIREG")
    entities[11]["aliases"].append(("OMNIREG", 0.4))
    return entities


def build_alias_rows(seed: int = SEED_DEFAULT) -> list[tuple[str, str, str, str, float]]:
    """Flat (alias, db, id, entry_name, prior) rows for the broadcast dict."""
    rows = []
    for ent in build_entities(seed):
        for alias, prior in ent["aliases"]:
            rows.append((alias, ent["ns"], ent["id"], ent["entry_name"], float(prior)))
    return rows


def _zipf_entity_idx(rng: np.random.RandomState) -> int:
    """Zipf-distributed entity pick: top ~10 entities are hot (skew driver)."""
    z = int(rng.zipf(1.3))
    return min(z - 1, N_ENTITIES - 1)


def _gen_sentence(rng: np.random.RandomState, entities: list[dict]) -> dict:
    """One sentence + its gold triple (or None for adversarial rows)."""
    kind = rng.choice(
        [
            "relation", "pmod", "single", "distractor", "noninteraction",
            "negation", "near_miss", "act_relation", "complex_relation",
            "phospho_subj", "passive_pmod", "nominal_relation",
        ],
        p=[0.25, 0.15, 0.1, 0.05, 0.1, 0.1, 0.05, 0.04, 0.04, 0.04, 0.04, 0.04],
    )
    filler = _FILLERS[int(rng.randint(0, len(_FILLERS)))]

    def pick() -> dict:
        return entities[_zipf_entity_idx(rng)]

    def alias_of(ent: dict) -> str:
        return ent["render_aliases"][int(rng.randint(0, len(ent["render_aliases"])))]

    if kind == "single":
        a = pick()
        tmpl = _SINGLE_TEMPLATES[int(rng.randint(0, len(_SINGLE_TEMPLATES)))]
        return {"text": filler + tmpl.format(a=alias_of(a)), "gold": None}

    if kind == "distractor":
        a = pick()
        fake = f"QUUX{int(rng.randint(0, 100))}"
        return {
            "text": f"{filler}{alias_of(a)} interacts weakly with {fake} in vitro.",
            "gold": None,
        }

    if kind == "near_miss":
        # seeded near-miss surface form (FIXTURES.md F2): a single-char typo
        # of a real alias — exact matching must miss it (only one grounded
        # mention -> no statement), the fuzzy MinHash-LSH linker must hit it
        a, b = pick(), pick()
        name = a["entry_name"]
        mid = max(1, len(name) // 2)
        typo = name[:mid] + name[mid] + name[mid:]
        return {
            "text": f"{filler}{typo} was elevated alongside {alias_of(b)}.",
            "gold": None,
        }

    if kind == "noninteraction":
        a, b = pick(), pick()
        joiner = _NONINTERACTION_JOINERS[int(rng.randint(0, len(_NONINTERACTION_JOINERS)))]
        return {
            "text": f"{filler}{alias_of(a)}{joiner}{alias_of(b)} were abundant in the tissue.",
            "gold": None,
        }

    if kind == "negation":
        a, b = pick(), pick()
        neg = _NEGATION_FORMS[int(rng.randint(0, len(_NEGATION_FORMS)))]
        return {
            "text": f"{filler}{alias_of(a)} {neg} {alias_of(b)}.",
            "gold": None,
        }

    a, b = pick(), pick()
    while b["entry_name"] == a["entry_name"]:
        b = entities[int(rng.randint(0, N_ENTITIES))]

    if kind == "act_relation":
        # "The catalytic activity of A <phrase> B." -> act(tA) rel tB
        word = ["catalytic", "kinase", "enzymatic"][int(rng.randint(0, 3))]
        phrase, rel = RELATION_PHRASES[int(rng.randint(0, len(RELATION_PHRASES)))]
        text = f"{filler}The {word} activity of {alias_of(a)} {phrase} {alias_of(b)}."
        subj = f"act({make_term(a['ns'], a['entry_name'])})"
        obj = make_term(b["ns"], b["entry_name"])
        return {"text": text, "gold": (subj, rel, obj, f"{subj} {rel} {obj}")}

    if kind == "phospho_subj":
        # "Phosphorylated A <phrase> B." -> p(A, pmod(Ph)) rel tB
        phrase, rel = RELATION_PHRASES[int(rng.randint(0, len(RELATION_PHRASES)))]
        text = f"{filler}Phosphorylated {alias_of(a)} {phrase} {alias_of(b)}."
        subj = make_term(a["ns"], a["entry_name"], pmod=("Ph", None, None))
        obj = make_term(b["ns"], b["entry_name"])
        return {"text": text, "gold": (subj, rel, obj, f"{subj} {rel} {obj}")}

    if kind == "complex_relation":
        # "The A/B complex <phrase> C." -> complex(tA, tB) rel tC
        # canonical names only (hyphenated aliases break '/' adjacency)
        c = pick()
        while c["entry_name"] in (a["entry_name"], b["entry_name"]):
            c = entities[int(rng.randint(0, N_ENTITIES))]
        phrase, rel = RELATION_PHRASES[int(rng.randint(0, len(RELATION_PHRASES)))]
        text = (
            f"{filler}The {a['entry_name']}/{b['entry_name']} complex "
            f"{phrase} {alias_of(c)}."
        )
        subj = (
            f"complex({make_term(a['ns'], a['entry_name'])}, "
            f"{make_term(b['ns'], b['entry_name'])})"
        )
        obj = make_term(c["ns"], c["entry_name"])
        return {"text": text, "gold": (subj, rel, obj, f"{subj} {rel} {obj}")}

    if kind == "pmod":
        verb, rel, mod = PMOD_VERBS[int(rng.randint(0, len(PMOD_VERBS)))]
        residue = PMOD_RESIDUES[int(rng.randint(0, len(PMOD_RESIDUES)))]
        pos = int(rng.randint(2, 999))
        text = f"{filler}{alias_of(a)} {verb} {alias_of(b)} at {residue} {pos}."
        subj = make_term(a["ns"], a["entry_name"])
        obj = make_term(b["ns"], b["entry_name"], pmod=(mod, residue, pos))
        return {
            "text": text,
            "gold": (subj, rel, obj, f"{subj} {rel} {obj}"),
        }

    if kind == "nominal_relation":
        # "The activation of B by A was evident." -> A increases B
        nominal, rel = [
            ("activation of ", "increases"),
            ("inhibition of ", "decreases"),
            ("suppression of ", "decreases"),
            ("induction of ", "increases"),
        ][int(rng.randint(0, 4))]
        text = (
            f"{filler}The {nominal}{alias_of(b)} by {alias_of(a)} was evident."
        )
        subj = make_term(a["ns"], a["entry_name"])
        obj = make_term(b["ns"], b["entry_name"])
        return {"text": text, "gold": (subj, rel, obj, f"{subj} {rel} {obj}")}

    if kind == "passive_pmod":
        # "B is phosphorylated by A at Ser 123." -> A rel p(B, pmod(...))
        verb, rel, mod = PMOD_VERBS[int(rng.randint(0, len(PMOD_VERBS)))]
        residue = PMOD_RESIDUES[int(rng.randint(0, len(PMOD_RESIDUES)))]
        pos = int(rng.randint(2, 999))
        text = (
            f"{filler}{alias_of(b)} is {verb[:-1]}d by {alias_of(a)}"
            f" at {residue} {pos}."
        )
        subj = make_term(a["ns"], a["entry_name"])
        obj = make_term(b["ns"], b["entry_name"], pmod=(mod, residue, pos))
        return {
            "text": text,
            "gold": (subj, rel, obj, f"{subj} {rel} {obj}"),
        }

    phrase, rel = RELATION_PHRASES[int(rng.randint(0, len(RELATION_PHRASES)))]
    text = f"{filler}{alias_of(a)} {phrase} {alias_of(b)}."
    subj = make_term(a["ns"], a["entry_name"])
    obj = make_term(b["ns"], b["entry_name"])
    return {"text": text, "gold": (subj, rel, obj, f"{subj} {rel} {obj}")}


def gen_doc(seed: int, doc_id: int, entities: list[dict]) -> dict:
    """Generate one document: paragraphs of sentences, HTML wrap, gold rows.

    Pure function of (seed, doc_id); uses its own RandomState so the result
    is independent of Spark partitioning.
    """
    rng = np.random.RandomState((seed * 1_000_003 + doc_id) % (2**31 - 1))
    url = f"https://corpus.test/doc/{doc_id:012d}"
    warc_ts = BASE_TS + _dt.timedelta(seconds=int(doc_id) * 7)
    lang = "en" if doc_id % 17 != 13 else ("de" if doc_id % 2 == 0 else "fr")

    n_paras = int(rng.randint(3, 13))
    paragraphs: list[str] = []
    gold: list[tuple[int, int, str, str, str, str, str]] = []

    if lang != "en":
        # non-English pages carry junk content — pipeline finds nothing there.
        paragraphs = [
            "Dieser Absatz enthaelt keine relevanten Inhalte fuer die Pipeline nummer "
            + str(int(rng.randint(0, 10_000)))
            for _ in range(n_paras)
        ]
    else:
        kept_para_idx = 0
        for _p in range(n_paras):
            if rng.rand() < 0.08:
                # too-short paragraph: dropped by the min-length filter
                # (pub.py:56-58), so it must NOT consume a para_idx.
                paragraphs.append("Short one.")
                continue
            n_sents = int(rng.randint(1, 7))
            sents = []
            for s in range(n_sents):
                rec = _gen_sentence(rng, entities)
                sents.append(rec["text"])
                if rec["gold"] is not None:
                    subj, rel, obj, stmt = rec["gold"]
                    gold.append((kept_para_idx, s, stmt, subj, rel, obj, rec["text"]))
            para_text = " ".join(sents)
            if len(para_text) < 20:
                # keep gold-bearing paragraphs above the min-length filter
                # with an entity-free filler sentence (no gold impact)
                para_text += " Additional experimental context is provided."
            paragraphs.append(para_text)
            kept_para_idx += 1

    title = f"Synthetic corpus document {doc_id}"
    body = "".join(f"<p>{_html.escape(p)}</p>" for p in paragraphs)
    refs = (
        '<div class="refs"><p>Reference list entry one with enough characters '
        "to pass any length filter but it must be dropped as boilerplate.</p></div>"
    )
    html_doc = (
        f"<html><head><title>{_html.escape(title)}</title></head>"
        f"<body><h1>{_html.escape(title)}</h1>{body}{refs}</body></html>"
    )

    # mixed-mode corpus: ~10% of rows land pre-extracted text, no html
    if doc_id % 10 == 7:
        return {
            "url": url,
            "warc_ts": warc_ts,
            "html": None,
            "text": "\n\n".join(paragraphs),
            "lang": lang,
            "gold": gold,
        }
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": html_doc.encode("utf-8"),
        "text": None,
        "lang": lang,
        "gold": gold,
    }


# ---------------------------------------------------------------------------
# Spark-side generation (distributed, deterministic).
# ---------------------------------------------------------------------------


def pages_df(spark, n_docs: int, seed: int = SEED_DEFAULT, partitions: int | None = None):
    """Distributed generation of the pages table (input_hint schema)."""
    from .schemas import PAGES

    def gen(batches):
        entities = build_entities(seed)
        for pdf in batches:
            rows = [gen_doc(seed, int(i), entities) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "url": [r["url"] for r in rows],
                    "warc_ts": [r["warc_ts"] for r in rows],
                    "html": [r["html"] for r in rows],
                    "text": [r["text"] for r in rows],
                    "lang": [r["lang"] for r in rows],
                }
            )

    parts = partitions or max(2, min(64, n_docs // 64 or 2))
    return spark.range(0, n_docs, numPartitions=parts).mapInPandas(gen, schema=PAGES)


def gold_df(spark, n_docs: int, seed: int = SEED_DEFAULT, partitions: int | None = None):
    """Gold triples for the same corpus (recomputed from the pure generator)."""
    from .schemas import GOLD_TRIPLES

    def gen(batches):
        entities = build_entities(seed)
        for pdf in batches:
            out = {k: [] for k in
                   ("url", "para_idx", "sent_idx", "bel_statement", "subj", "pred", "obj", "evidence")}
            for i in pdf["id"]:
                doc = gen_doc(seed, int(i), entities)
                for para_idx, sent_idx, stmt, subj, rel, obj, evidence in doc["gold"]:
                    out["url"].append(doc["url"])
                    out["para_idx"].append(para_idx)
                    out["sent_idx"].append(sent_idx)
                    out["bel_statement"].append(stmt)
                    out["subj"].append(subj)
                    out["pred"].append(rel)
                    out["obj"].append(obj)
                    out["evidence"].append(evidence)
            yield pd.DataFrame(out)

    parts = partitions or max(2, min(64, n_docs // 64 or 2))
    return spark.range(0, n_docs, numPartitions=parts).mapInPandas(gen, schema=GOLD_TRIPLES)


def alias_df(spark):
    """The broadcast grounding dictionary as a DataFrame (FIXTURES.md F2)."""
    from .schemas import ALIAS_DICT

    return spark.createDataFrame(build_alias_rows(SEED_DEFAULT), schema=ALIAS_DICT)
