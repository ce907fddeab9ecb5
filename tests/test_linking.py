"""Fuzzy entity linking: LSH-blocked candidate generation + top-1 scoring."""

import random

from llm_text_to_knowledge_graph_spark.corpus import alias_df, build_alias_rows
from llm_text_to_knowledge_graph_spark.operators.linking import (
    candidate_spans,
    link_fuzzy,
)


def _shingles2(s: str) -> frozenset[str]:
    low = s.lower()
    if len(low) < 2:
        return frozenset({low})
    return frozenset(low[i : i + 2] for i in range(len(low) - 1))


def _exact_top1(token: str, aliases, min_score=0.3, max_jdist=0.5):
    """Blocking-free ground truth: exact 2-shingle Jaccard against EVERY
    alias, the operator's own distance cutoff and score floor, same
    (score desc, db, id) tie-break. The cutoff is part of link_fuzzy's
    documented contract, so the oracle applies it too — what remains is
    pure LSH blocking loss."""
    ts = _shingles2(token)
    best = None
    for alias, db, aid, entry, prior in aliases:
        ash = _shingles2(alias)
        j = len(ts & ash) / len(ts | ash)
        # approxSimilarityJoin's cutoff is EXCLUSIVE (dist < threshold)
        if 1.0 - j >= max_jdist:
            continue
        score = j * prior
        if score < min_score:
            continue
        key = (-score, db, aid)
        if best is None or key < best[0]:
            best = (key, entry)
    return best[1] if best else None


def test_lsh_blocking_recall_vs_exact_jaccard(spark):
    """Pin the MinHash-LSH blocking quality (VERDICT round-1 item #6): on a
    shard of single-edit typos of real dictionary aliases, the LSH-blocked
    linker must (a) recover >=90% of the spans the blocking-free exact-
    Jaccard scorer grounds, and (b) agree with its grounding on >=95% of
    the spans both link."""
    aliases = build_alias_rows(42)
    rng = random.Random(9)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    typo_rows = []
    picked = rng.sample(range(len(aliases)), 60)
    for i, ai in enumerate(picked):
        alias = aliases[ai][0]
        pos = rng.randrange(len(alias))
        kind = rng.choice(["sub", "ins", "dup"])
        if kind == "sub":
            typo = alias[:pos] + rng.choice(alpha) + alias[pos + 1 :]
        elif kind == "ins":
            typo = alias[:pos] + rng.choice(alpha) + alias[pos:]
        else:
            typo = alias[:pos] + alias[pos] + alias[pos:]
        typo_rows.append((f"u://{i}", 0, 0, f"We measured {typo} in the assay."))
    sents = spark.createDataFrame(
        typo_rows, "url string, para_idx int, sent_idx int, sentence string"
    )
    known = [a[0] for a in aliases]
    spans = candidate_spans(sents, known)
    got = {
        r["alias"]: r["entry_name"]
        for r in link_fuzzy(spans, alias_df(spark)).collect()
    }
    span_tokens = [r["token"] for r in spans.collect()]
    expected = {
        t: e for t in span_tokens if (e := _exact_top1(t, aliases)) is not None
    }
    assert len(expected) >= 30  # the shard is non-trivial
    linked = {t: g for t, g in got.items() if t in expected}
    recall = len(linked) / len(expected)
    assert recall >= 0.9, (recall, set(expected) - set(linked))
    agree = sum(1 for t, g in linked.items() if g == expected[t])
    assert agree / max(len(linked), 1) >= 0.95, linked


def test_fuzzy_linking_near_misses(spark):
    aliases = [
        ("TP53", "HGNC", "11998", "TP53", 1.0),
        ("AKT1", "HGNC", "391", "AKT1", 1.0),
        ("MAPK14", "HGNC", "6876", "MAPK14", 1.0),
    ]
    adf = spark.createDataFrame(
        aliases, "alias string, db string, id string, entry_name string, prior double"
    )
    rows = [
        # TP53- and MAPK14-like typos; 'Results' is entity-looking but far
        # from every alias and must not link
        ("u://1", 0, 0, "TPp53 and MAPKK14 were assayed; Results follow."),
    ]
    sents = spark.createDataFrame(
        rows, "url string, para_idx int, sent_idx int, sentence string"
    )
    spans = candidate_spans(sents, [a[0] for a in aliases])
    toks = {r["token"] for r in spans.collect()}
    assert "TPp53" in toks and "MAPKK14" in toks

    linked = link_fuzzy(spans, adf)
    got = {r["alias"]: r["entry_name"] for r in linked.collect()}
    assert got.get("TPp53") == "TP53"
    assert got.get("MAPKK14") == "MAPK14"
    assert "Results" not in got


def test_exact_hits_not_respanned(spark):
    adf = alias_df(spark)
    known = [r["alias"] for r in adf.select("alias").collect()]
    a, b = known[0], known[10]
    rows = [("u://1", 0, 0, f"{a} binds to {b}.")]
    sents = spark.createDataFrame(
        rows, "url string, para_idx int, sent_idx int, sentence string"
    )
    spans = candidate_spans(sents, known)
    toks = {r["token"] for r in spans.collect()}
    # exact dictionary hits are excluded from the fuzzy path
    assert a not in toks and b not in toks
