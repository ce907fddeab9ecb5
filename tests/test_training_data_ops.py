"""Training-data pipeline operators: dedup, similarity, textstats, multimodal."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat", "en"),  # near dup
        (3, "completely different content about spark engines", "en"),
        (4, "der hund ist nicht mit der katze und der maus", "de"),
        (5, "le chat est dans la maison pour le moment", "fr"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dedup_exact(docs):
    from llm_text_to_knowledge_graph_spark.operators.dedup import dedup_exact

    groups = dedup_exact(docs).collect()
    assert len(groups) == 5  # 6 docs, one exact pair
    dup = [g for g in groups if g["dup_count"] == 2]
    assert len(dup) == 1 and dup[0]["canonical_id"] == 0


def test_ngram_jaccard_pairs(docs):
    from llm_text_to_knowledge_graph_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    assert (0, 1) in got  # identical
    assert (0, 2) in got and (1, 2) in got  # one word differs
    assert all(3 not in p and 4 not in p and 5 not in p for p in got)


def test_minhash_lsh_pairs(docs):
    from llm_text_to_knowledge_graph_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, n=2, max_jaccard_distance=0.5).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    assert (0, 1) in got


def test_minhash_det_pairs(docs):
    """Deterministic MinHash: identical docs share the full signature,
    near-dups clear the banding; results are invariant to partitioning
    (signatures are a pure function of the text, no model/seed state)."""
    from llm_text_to_knowledge_graph_spark.operators.dedup import (
        minhash_det_pairs,
        minhash_det_signatures,
    )

    # 8 bands of 2: a ~0.78-jaccard pair misses all bands w.p. ~7e-4,
    # vs ~0.16 at 4x4 — banding width is the recall knob
    pairs = minhash_det_pairs(docs, n=2, num_hashes=16, bands=8, min_est=0.5)
    got = {(p["id_a"], p["id_b"]): p["jaccard_est"] for p in pairs.collect()}
    assert got[(0, 1)] == 1.0  # exact dup -> all 16 components equal
    assert (0, 2) in got  # near dup passes a band
    assert all(3 not in p and 4 not in p and 5 not in p for p in got)

    sig1 = minhash_det_signatures(docs, n=2).orderBy("id").collect()
    sig2 = minhash_det_signatures(docs.repartition(7), n=2).orderBy("id").collect()
    assert sig1 == sig2


def test_simhash_pairs(docs):
    from llm_text_to_knowledge_graph_spark.operators.dedup import (
        simhash64,
        simhash_candidate_pairs,
    )

    # pure function determinism
    assert simhash64("hello world") == simhash64("hello world")
    pairs = simhash_candidate_pairs(docs, max_hamming=8).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    assert (0, 1) in got
    h01 = [p["hamming"] for p in pairs if (p["id_a"], p["id_b"]) == (0, 1)][0]
    assert h01 == 0


def test_simhash_native(docs):
    """JVM-native md5 sketch matches a scalar Python reference bit-for-bit,
    and the banded pair pipeline finds the exact dup at hamming 0."""
    import hashlib
    import re

    from llm_text_to_knowledge_graph_spark.operators.dedup import (
        simhash_native_pairs,
        with_simhash_native,
    )

    def ref_sketch(text):
        acc = [0] * 64
        for tok in re.sub(r"\s+", " ", text.strip()).split(" "):
            v = int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
            for k in range(64):
                acc[k] += 1 if (v >> k) & 1 else -1
        out = sum(1 << k for k in range(64) if acc[k] > 0)
        return out - (1 << 64) if out >= (1 << 63) else out

    got = {r["id"]: r["simhash"] for r in with_simhash_native(docs).collect()}
    want = {r["doc_id"]: ref_sketch(r["text"]) for r in docs.collect()}
    assert got == want

    pairs = simhash_native_pairs(docs, max_hamming=8).collect()
    ham = {(p["id_a"], p["id_b"]): p["hamming"] for p in pairs}
    assert ham[(0, 1)] == 0


def test_simhash_vectorized_parity():
    """The numpy-vectorized sketch must be bit-exact with the scalar
    reference definition (order-independent integer sums)."""
    import random
    import string

    from llm_text_to_knowledge_graph_spark.operators.dedup import (
        _simhash64_np,
        simhash64,
    )

    rng = random.Random(7)
    samples = [
        "", "a", "hello world hello", "ünïcode tøkens æøå",
        " ".join(
            "".join(rng.choices(string.ascii_lowercase, k=rng.randint(1, 14)))
            for _ in range(rng.randint(0, 120))
        ),
    ] + [
        " ".join(
            "".join(rng.choices(string.printable.strip(), k=rng.randint(1, 9)))
            for _ in range(rng.randint(1, 40))
        )
        for _ in range(25)
    ]
    for t in samples:
        assert simhash64(t) == _simhash64_np(t), t[:60]


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.RandomState(0)
    base = rng.randn(20, 8).astype("float32")
    base[1] = base[0] + 0.001  # near-dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(embeddings):
    from llm_text_to_knowledge_graph_spark.operators.similarity import brute_force_topk

    res = brute_force_topk(embeddings, query_ids=[0], k=3).collect()
    assert len(res) == 3
    assert res[0]["rank"] == 1 and res[0]["neighbor_id"] == 1
    assert res[0]["cosine"] > 0.999


def test_lsh_topk_contains_near_dup(embeddings):
    from llm_text_to_knowledge_graph_spark.operators.similarity import lsh_topk

    res = lsh_topk(embeddings, query_ids=[0], k=3, bits=4).collect()
    assert any(r["neighbor_id"] == 1 for r in res)


def test_token_count_and_quality(docs):
    from llm_text_to_knowledge_graph_spark.operators.textstats import (
        quality_score,
        token_count,
    )

    tc = {r["doc_id"]: r["n_tokens"] for r in token_count(docs).collect()}
    assert tc[0] == 9
    q = {r["doc_id"]: r for r in quality_score(docs).collect()}
    assert 0.0 <= q[0]["quality"] <= 1.0
    assert q[0]["stop_ratio"] > 0


def test_lang_id(docs):
    from llm_text_to_knowledge_graph_spark.operators.textstats import lang_id

    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert got[0] == "en" and got[4] == "de" and got[5] == "fr"


def test_fingerprint_deterministic(docs):
    from llm_text_to_knowledge_graph_spark.operators.textstats import fingerprint

    a = {r["doc_id"]: (r["md5_fp"], r["rolling_fp"]) for r in fingerprint(docs).collect()}
    b = {r["doc_id"]: (r["md5_fp"], r["rolling_fp"]) for r in fingerprint(docs.repartition(5)).collect()}
    assert a == b
    assert a[0] == a[1]  # exact dups share fingerprints
    assert a[0] != a[2]


def test_multimodal_features(spark):
    from llm_text_to_knowledge_graph_spark.operators.multimodal import (
        MEDIA,
        decode_media,
        extract_features,
    )

    rows = [
        (0, "image", b"imgbytes0", 64, 64, None),
        (1, "image", b"imgbytes1", 32, 32, None),
        (2, "audio", b"audiobytes", None, None, 2500),
        (3, "video", b"videobytes", 640, 480, 3500),
    ]
    media = spark.createDataFrame(rows, MEDIA)
    feats = extract_features(media, fake=True).collect()
    assert len(feats) == 4
    for f in feats:
        assert len(f["feature"]) == 16
        assert abs(sum(x * x for x in f["feature"]) - 1.0) < 1e-3
    # deterministic across partitionings
    feats2 = extract_features(media.repartition(3), fake=True).collect()
    assert {f["media_id"]: f["feature"] for f in feats} == {
        f["media_id"]: f["feature"] for f in feats2
    }
    with pytest.raises(NotImplementedError):
        decode_media(b"x", "image", fake=False)


def test_minhash_recall_vs_exact_jaccard(spark):
    """Pin MinHash-LSH banding quality (VERDICT round-1): against the exact
    inverted-index Jaccard pairs on real sf0.001 documents, the LSH join
    must recover >=95% of pairs at jaccard >= 0.55 (comfortably inside its
    0.5-distance cutoff, where 8 OR-amplified tables give
    P(detect) = 1-(1-j)^8 >= 0.998), and every estimated jaccard must agree
    with the exact value to within the TF-hashing error."""
    import os

    from llm_text_to_knowledge_graph_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    path = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(path):
        pytest.skip("testdata not present")
    docs = spark.read.parquet(path)
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in minhash_lsh_pairs(docs, n=3, max_jaccard_distance=0.5).collect()
    }
    strong = {k: v for k, v in exact.items() if v >= 0.55}
    assert len(strong) >= 20  # the shard is non-trivial
    hit = [k for k in strong if k in approx]
    recall = len(hit) / len(strong)
    assert recall >= 0.95, (recall, len(strong))
    for k in hit:
        assert abs(approx[k] - strong[k]) < 0.05, (k, approx[k], strong[k])


def test_minhash_det_recall_vs_exact_jaccard(spark):
    """Same recall pin for the DETERMINISTIC sketch: with b bands of r rows,
    P(detect) = 1-(1-j^r)^b; at 8 bands of 2 a j>=0.7 pair is caught w.p.
    >= 1-(1-0.49)^8 = 0.995, so demanding >=90% of j>=0.7 pairs leaves slack
    for the finite-sample estimator. The est agreement bound is the
    binomial sd of a 16-component signature (~0.125), looser than ml's
    TF-hashed variant."""
    import os

    from llm_text_to_knowledge_graph_spark.operators.dedup import (
        minhash_det_pairs,
        ngram_jaccard_pairs,
    )

    path = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(path):
        pytest.skip("testdata not present")
    docs = spark.read.parquet(path)
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in minhash_det_pairs(
            docs, n=3, num_hashes=16, bands=8, min_est=0.3
        ).collect()
    }
    strong = {k: v for k, v in exact.items() if v >= 0.7}
    assert len(strong) >= 10
    hit = [k for k in strong if k in approx]
    recall = len(hit) / len(strong)
    assert recall >= 0.9, (recall, len(strong))
    for k in hit:
        assert abs(approx[k] - strong[k]) <= 0.30, (k, approx[k], strong[k])


def test_lsh_ann_recall_vs_brute_force(embeddings):
    """Pin hyperplane-LSH ANN recall against brute force, with the honest
    math: a pair at angle θ shares one hyperplane side with P = 1-θ/π, so a
    4-bit single-probe bucket retains a TRUE near-duplicate (θ≈0) with
    P≈1 but a weak cos≈0.5 neighbor only with (2/3)^4 ≈ 0.2. The
    guarantee LSH makes — and this pins — is high recall on HIGH-cosine
    pairs (the dedup/blocking use case), not on weak top-k tails."""
    from llm_text_to_knowledge_graph_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    exact = brute_force_topk(embeddings, [0], k=5).collect()
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(embeddings, [0], k=5, bits=4, dim=8).collect()
    }
    assert (0, 1) in approx  # planted near-dup shares every signature bit
    # every exact neighbor with cosine >= 0.9 must be recovered
    strong = {(r["query_id"], r["neighbor_id"]) for r in exact if r["cosine"] >= 0.9}
    assert strong and strong <= approx
    # and the weak tail keeps >= the analytic floor
    weak_recall = len({(r["query_id"], r["neighbor_id"]) for r in exact} & approx) / 5
    assert weak_recall >= 0.2, weak_recall


# ---------------------------------------------------------------------------
# round 3: Gopher quality rules + n-gram repetition
# ---------------------------------------------------------------------------


def test_gopher_quality_rules(spark):
    from llm_text_to_knowledge_graph_spark.operators.textstats import (
        gopher_quality,
    )

    good = ("the quick brown fox jumps over the lazy dog and runs to "
            "the river bank with plenty of words that have meaning ") * 3
    short = "too short to pass"
    symbols = "the of and that " + "# " * 40 + "have with words " * 10
    numeric = "the of and that have with " + "12345 " * 60
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols), (4, numeric)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_quality(df).collect()}
    assert got[1]["pass"] is True
    assert got[2]["pass"] is False and got[2]["ok_words"] is False
    assert got[3]["pass"] is False and got[3]["ok_symbols"] is False
    # >50 words but mostly numeric tokens -> alpha rule rejects
    assert got[4]["ok_alpha"] is False and got[4]["pass"] is False
    # rule arithmetic: n_words and mean length on doc 1
    toks = good.split()
    assert got[1]["n_words"] == len(toks)
    expect_mwl = sum(len(t) for t in toks) / len(toks)
    assert abs(got[1]["mean_word_len"] - expect_mwl) < 1e-6


def test_repetition_stats_counts(spark):
    from llm_text_to_knowledge_graph_spark.operators.textstats import (
        repetition_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),       # grams: ab ba ab ba ab -> top 'a b' x3
            (2, "w x y z"),            # all grams unique
            (3, "solo"),               # < n tokens -> no row
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_grams"] == 5
    assert got[1]["top_gram_count"] == 3
    assert got[1]["top_gram_frac"] == 0.6
    assert got[1]["dup_gram_frac"] == 1.0  # every occurrence's gram repeats
    assert got[2]["n_grams"] == 3
    assert got[2]["top_gram_count"] == 1
    assert got[2]["dup_gram_frac"] == 0.0


def test_repetition_stats_trigram(spark):
    from llm_text_to_knowledge_graph_spark.operators.textstats import (
        repetition_stats,
    )

    df = spark.createDataFrame(
        [(1, "p q r p q r p q")], "doc_id long, text string"
    )
    got = repetition_stats(df, n=3).collect()[0].asDict()
    # trigrams: pqr qrp rpq pqr qrp rpq -> 6 grams, top count 2, all dup
    assert got["n_grams"] == 6
    assert got["top_gram_count"] == 2
    assert got["dup_gram_frac"] == 1.0


def test_dup_substring_stats_matches_reference(spark):
    """Char-window repeated-substring stats vs an independent Python
    implementation of the same fixed-window spec."""
    from collections import defaultdict

    from llm_text_to_knowledge_graph_spark.operators.dedup import dup_substring_stats

    A = "the quick brown fox jumps over the lazy dog and keeps on running far away"
    B = "completely different text here with no overlap at all in any window"
    texts = {0: A + " unique tail zero", 1: "prefix one " + A, 2: B, 3: B, 4: "short"}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
        for r in dup_substring_stats(docs, length=20).collect()
    }

    occ = defaultdict(list)
    for d, t in texts.items():
        for i in range(len(t) - 19):
            occ[t[i : i + 20]].append((d, i + 1))
    ndup, ntot = defaultdict(int), defaultdict(int)
    for lst in occ.values():
        k = min(lst)
        for d, p in lst:
            ntot[d] += 1
            if len(lst) > 1 and (d, p) != k:
                ndup[d] += 1
    assert got == {d: (ntot[d], ndup[d]) for d in ntot}
    assert 4 not in got  # shorter than the window -> no grams, no row


def test_dup_substring_winnow_detects_misaligned_spans(spark):
    """Winnowed selection is alignment-robust: the shared span sits at
    offsets that disagree mod W (a fixed-stride subsample would miss it),
    and the guarantee holds for spans >= length + W - 1."""
    from llm_text_to_knowledge_graph_spark.operators.dedup import dup_substring_stats

    span = "shared span of considerable length repeated verbatim across documents"
    for lead in ("", "a ", "ab ", "abc "):  # offsets 0..3 vs 0 (W=4)
        docs = spark.createDataFrame(
            [(0, span + " tail a"), (1, lead + span + " tail b")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["n_dup_grams"] for r in
               dup_substring_stats(docs, length=30, winnow=4).collect()}
        assert out[0] > 0 or out[1] > 0, f"missed at lead={lead!r}"


def test_dup_substring_winnow_selection_is_content_defined(spark):
    """The same text yields the same selected fingerprints regardless of
    surrounding offset — and clean docs stay at zero dup grams."""
    from llm_text_to_knowledge_graph_spark.operators.dedup import dup_substring_stats

    docs = spark.createDataFrame(
        [(0, "entirely unique document number zero with its own words only here"),
         (1, "another fully distinct text with different content throughout it")],
        "doc_id long, text string",
    )
    out = dup_substring_stats(docs, length=25, winnow=5).collect()
    assert all(r["n_dup_grams"] == 0 for r in out)
    assert all(r["n_grams"] >= 1 for r in out)
