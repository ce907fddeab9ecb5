"""Curation operators: decontamination, hash sampling, packing, line dedup."""

import pytest

from llm_text_to_knowledge_graph_spark.operators.curation import (
    blocklist_filter,
    chunk_docs,
    decontaminate,
    hash_sample,
    line_dedup,
    pack_greedy,
    stratified_hash_sample,
)


def test_blocklist_filter(spark):
    docs = spark.createDataFrame(
        [
            (1, "perfectly clean text here", "good.com"),
            (2, "contains one BADWORD in caps", "good.com"),   # term hit (case)
            (3, "badword badword badwords", "good.com"),       # 2 hits, not substring
            (4, "clean text", "evil.com"),                     # key hit
            (5, None, "good.com"),                             # null text, clean
            (6, "embedded notbadword stays clean", "good.com"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["doc_id"]: (r["key_blocked"], r["n_blocked_terms"], r["blocked"])
        for r in blocklist_filter(
            docs, blocked_keys=["evil.com"], blocked_terms=["badword"]
        ).collect()
    }
    assert got == {
        1: (False, 0, False),
        2: (False, 1, True),
        3: (False, 2, True),   # whole-word only: "badwords" does not count
        4: (True, 0, True),
        5: (False, 0, False),
        6: (False, 0, False),
    }


def test_blocklist_filter_is_map_only(spark):
    docs = spark.createDataFrame(
        [(1, "a", "s")], "doc_id long, text string, source string"
    )
    plan = (
        blocklist_filter(docs, ["s"], ["a"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # zero shuffles: one scan-stage projection


def test_decontaminate_flags_shared_ngrams(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # contains bench 3-gram
            (2, "zeta eta theta iota kappa"),        # clean
            (3, "x y alpha beta gamma z"),           # same bench 3-gram, shifted
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in decontaminate(docs, bench, n=3).collect()}
    assert got[1]["contaminated"] is True and got[1]["n_hit_grams"] == 1
    assert got[2]["contaminated"] is False and got[2]["n_hit_grams"] == 0
    assert got[3]["contaminated"] is True


def test_decontaminate_counts_distinct_grams(spark):
    # doc repeats the contaminated gram; count is DISTINCT grams, not hits
    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    row = decontaminate(docs, bench, n=3).collect()[0]
    assert row["n_hit_grams"] == 1


def test_decontaminate_broadcasts_benchmark_side(spark):
    # the eval-gram set must reach the corpus as a broadcast, never a
    # shuffle: at 100 TB the corpus-side grams may not repartition
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma")], "doc_id long, text string"
    )
    plan = (
        decontaminate(docs, bench, n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_hash_sample_deterministic_and_sized(spark):
    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = sorted(r["doc_id"] for r in hash_sample(docs, rate=0.25, seed=7).collect())
    b = sorted(r["doc_id"] for r in hash_sample(docs, rate=0.25, seed=7).collect())
    assert a == b                      # pure function of (id, seed)
    assert 0.18 < len(a) / 2000 < 0.32  # ~rate with md5 uniformity
    c = sorted(r["doc_id"] for r in hash_sample(docs, rate=0.25, seed=8).collect())
    assert a != c                      # seed changes the draw
    # nested property: a lower rate's sample is a subset of a higher rate's
    d = set(r["doc_id"] for r in hash_sample(docs, rate=0.1, seed=7).collect())
    assert d <= set(a)


def test_pack_greedy_respects_budget(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i % 7))) for i in range(40)],
        "doc_id long, text string",
    )
    rows = pack_greedy(docs, budget=30, n_shards=4).collect()
    assert len(rows) == 40
    by_seq = {}
    for r in rows:
        by_seq.setdefault(r["seq_id"], []).append(r)
    for seq, members in by_seq.items():
        total = sum(m["n_tokens"] for m in members)
        # a bin only exceeds budget if it holds a single oversized doc
        assert total <= 30 or len(members) == 1, (seq, total)
        # all members of a bin share a shard and are contiguous in doc_id
        assert len({m["shard"] for m in members}) == 1

    # greedy = close on overflow: within a shard, seq ids are nondecreasing
    for shard in range(4):
        ordered = sorted((r for r in rows if r["shard"] == shard), key=lambda r: r["doc_id"])
        seqs = [r["seq_id"] for r in ordered]
        assert seqs == sorted(seqs)


def test_pack_greedy_oversized_doc_gets_own_bin(spark):
    docs = spark.createDataFrame(
        [(0, " ".join(["w"] * 100)), (4, " ".join(["w"] * 5)), (8, " ".join(["w"] * 5))],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pack_greedy(docs, budget=30, n_shards=4).collect()}
    assert rows[0]["seq_id"] != rows[4]["seq_id"]  # oversized closes alone
    assert rows[4]["seq_id"] == rows[8]["seq_id"]  # small ones pack together


def test_line_dedup_keeps_first_occurrence(spark):
    docs = spark.createDataFrame(
        [
            (1, "keep me\nshared line\nunique one"),
            (2, "shared line\nanother keeper"),
            (3, "shared line"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in line_dedup(docs).collect()}
    # doc 1 keeps everything (it owns the first occurrence of 'shared line')
    assert got[1]["text"] == "keep me\nshared line\nunique one"
    assert got[1]["n_lines_dropped"] == 0
    # doc 2 loses the shared line, keeps order of the rest
    assert got[2]["text"] == "another keeper"
    assert got[2]["n_lines_kept"] == 1 and got[2]["n_lines_dropped"] == 1
    # doc 3 was only the shared line -> fully dropped, no row
    assert 3 not in got


def test_line_dedup_within_doc_repeats(spark):
    docs = spark.createDataFrame(
        [(1, "same\nsame\nsame\nother")], "doc_id long, text string"
    )
    got = line_dedup(docs).collect()[0].asDict()
    assert got["text"] == "same\nother"
    assert got["n_lines_kept"] == 2 and got["n_lines_dropped"] == 2


def test_line_dedup_keeps_non_numeric_ids(spark):
    """String ids are grouped raw (a cast to long fails under ANSI mode)."""
    docs = spark.createDataFrame(
        [("d-a", "keep me\nshared line"), ("d-b", "shared line\nanother keeper")],
        "doc_id string, text string",
    )
    got = sorted(tuple(r) for r in line_dedup(docs).collect())
    assert got == [("d-a", "keep me\nshared line", 2, 0), ("d-b", "another keeper", 1, 1)]


def test_decontaminate_keeps_non_numeric_ids(spark):
    docs = spark.createDataFrame(
        [("d-a", "alpha beta gamma delta"), ("d-b", "zeta eta theta")],
        "doc_id string, text string",
    )
    bench = spark.createDataFrame([("b-1", "alpha beta gamma")], "doc_id string, text string")
    got = sorted(tuple(r) for r in decontaminate(docs, bench, n=3).collect())
    assert got == [("d-a", 1, True), ("d-b", 0, False)]


def test_chunk_docs_and_blocklist_keep_non_numeric_ids(spark):
    docs = spark.createDataFrame(
        [("d-a", "a b c", "s"), ("d-b", "bad d", "s")],
        "doc_id string, text string, source string",
    )
    chunks = sorted((r["doc_id"], r["chunk_text"]) for r in chunk_docs(docs, 2, 1).collect())
    assert chunks == [("d-a", "a b"), ("d-a", "b c"), ("d-b", "bad d")]
    blocked = {r["doc_id"]: r["blocked"] for r in blocklist_filter(docs, [], ["bad"]).collect()}
    assert blocked == {"d-a": False, "d-b": True}


def test_stratified_hash_sample(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "xx") for i in range(2000)],
        "doc_id long, lang string",
    )
    got = stratified_hash_sample(
        docs, rates={"en": 0.5}, default_rate=0.05, seed=42
    ).collect()
    en = [r for r in got if r["lang"] == "en"]
    xx = [r for r in got if r["lang"] == "xx"]
    assert 0.40 < len(en) / 1000 < 0.60
    assert 0.01 < len(xx) / 1000 < 0.10
    # the draw is keyed on id only: an 'en' doc sampled at rate 0.05 is
    # also sampled at rate 0.5 (monotone in the rate, group-independent)
    low = {r["doc_id"] for r in stratified_hash_sample(
        docs, rates={"en": 0.05}, default_rate=0.05, seed=42
    ).collect()}
    hi_ids = {r["doc_id"] for r in got}
    assert {i for i in low if i % 2 == 0} <= hi_ids


def test_chunk_docs_windows(spark):
    text = " ".join(f"t{i}" for i in range(55))
    docs = spark.createDataFrame([(1, text), (2, "a b c")], "doc_id long, text string")
    rows = chunk_docs(docs, size=20, overlap=5).collect()
    d1 = sorted((r for r in rows if r["doc_id"] == 1), key=lambda r: r["chunk_id"])
    d2 = [r for r in rows if r["doc_id"] == 2]
    # doc 2 fits in one window -> single chunk, full text
    assert len(d2) == 1 and d2[0]["chunk_text"] == "a b c"
    # doc 1: stride 15 -> chunks start at 0,15,30,45; 4 chunks
    assert [r["chunk_id"] for r in d1] == [0, 1, 2, 3]
    assert d1[0]["chunk_text"].split()[0] == "t0"
    assert d1[1]["chunk_text"].split()[0] == "t15"
    # consecutive chunks overlap by 5 tokens
    assert d1[0]["chunk_text"].split()[-5:] == d1[1]["chunk_text"].split()[:5]
    # the final window reaches the last token
    assert d1[3]["chunk_text"].split()[-1] == "t54"
    # chunk sizes: first three full 20, last covers 45..54 (10 tokens)
    assert [len(r["chunk_text"].split()) for r in d1] == [20, 20, 20, 10]


def test_chunk_docs_rejects_bad_overlap(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_docs(docs, size=10, overlap=10)


def test_cap_per_key_keeps_n_smallest_draws(spark):
    from llm_text_to_knowledge_graph_spark.operators.curation import cap_per_key

    rows = [(i, "big" if i % 4 else "small") for i in range(200)]
    docs = spark.createDataFrame(rows, ["doc_id", "domain"])
    capped = cap_per_key(docs, n=10, key_col="domain", seed=7)
    out = capped.groupBy("domain").count().collect()
    counts = {r["domain"]: r["count"] for r in out}
    assert counts["big"] == 10
    # 'small' has 50 members (i % 4 == 0), also capped
    assert counts["small"] == 10
    # reference selection: n smallest md5 draws, computed independently
    import hashlib

    def draw(i):
        return hashlib.md5(f"{i}:7".encode()).hexdigest()

    expect_big = sorted((i for i in range(200) if i % 4), key=draw)[:10]
    got_big = sorted(
        r["doc_id"] for r in capped.filter("domain = 'big'").collect()
    )
    assert got_big == sorted(expect_big)


def test_cap_per_key_pre_salt_answer_preserving(spark):
    from llm_text_to_knowledge_graph_spark.operators.curation import cap_per_key

    rows = [(i, f"d{i % 3}") for i in range(300)]
    docs = spark.createDataFrame(rows, ["doc_id", "domain"])
    plain = set(
        map(tuple, cap_per_key(docs, 7, key_col="domain").collect())
    )
    salted = set(
        map(tuple, cap_per_key(docs, 7, key_col="domain", pre_salt=5).collect())
    )
    assert plain == salted and len(plain) == 21


def test_redact_patterns(spark):
    from llm_text_to_knowledge_graph_spark.operators.curation import redact

    cases = [
        ("mail me at bob.smith+x@my-site.co.uk today",
         "mail me at <EMAIL> today"),
        ("see https://a.org/p?q=1&r=2 and http://b.io/x.",
         "see <URL> and <URL>"),
        ("server 10.0.255.3 replied", "server <IP> replied"),
        ("login admin@site.org via https://site.org/l from 192.168.1.1.",
         "login <EMAIL> via <URL> from <IP>."),
        ("no pii here", "no pii here"),
        ("version 1.2 is not an ip", "version 1.2 is not an ip"),
    ]
    df = spark.createDataFrame(cases, ["text", "expected"])
    bad = redact(df).filter("text <> expected").collect()
    assert bad == []


def test_redact_is_jvm_only(spark):
    from llm_text_to_knowledge_graph_spark.operators.curation import redact

    df = redact(spark.createDataFrame([("x",)], ["text"]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_strip_host_boilerplate(spark):
    """Per-host template removal: a line on >max_doc_frac of a HOST's
    docs (and >= min_docs) is stripped from every doc of that host;
    rarer repeated lines and other hosts' identical lines survive."""
    from llm_text_to_knowledge_graph_spark.operators.curation import (
        strip_host_boilerplate,
    )

    rows = []
    for i in range(4):
        rows.append(("a.org", i, f"NAV\nbody a{i}\nFOOT"))
    # the PROMO line appears on 1/4 of a.org docs -> kept
    rows[0] = ("a.org", 0, "NAV\nbody a0\nPROMO\nFOOT")
    # b.org also prints 'NAV' but only on 1 of its 3 docs -> kept there
    rows += [
        ("b.org", 10, "NAV\nbody b0"),
        ("b.org", 11, "body b1"),
        ("b.org", 12, "body b2"),
    ]
    docs = spark.createDataFrame(
        rows, "host string, doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["text"], r["n_lines_kept"], r["n_lines_dropped"])
        for r in strip_host_boilerplate(docs).collect()
    }
    assert out[0] == ("body a0\nPROMO", 2, 2)
    assert out[1] == ("body a1", 1, 2)
    assert out[3] == ("body a3", 1, 2)
    assert out[10] == ("NAV\nbody b0", 2, 0)  # per-HOST statistics
    assert out[11] == ("body b1", 1, 0)


def test_strip_host_boilerplate_keeps_fully_stripped_docs(spark):
    """A doc whose every line is boilerplate comes back empty, with all of
    its lines counted as dropped, instead of vanishing."""
    from llm_text_to_knowledge_graph_spark.operators.curation import (
        strip_host_boilerplate,
    )

    rows = [("a.org", i, f"NAV\nbody a{i}\nFOOT") for i in range(3)]
    rows.append(("a.org", 3, "NAV\nFOOT"))
    docs = spark.createDataFrame(rows, "host string, doc_id long, text string")
    out = {
        r["doc_id"]: (r["text"], r["n_lines_kept"], r["n_lines_dropped"])
        for r in strip_host_boilerplate(docs).collect()
    }
    assert out == {0: ("body a0", 1, 2), 1: ("body a1", 1, 2),
                   2: ("body a2", 1, 2), 3: ("", 0, 2)}


def test_strip_host_boilerplate_keeps_null_text_docs(spark):
    """A doc whose text is NULL comes back with NULL text and no lines kept
    or dropped; its host's other docs are stripped as before."""
    from llm_text_to_knowledge_graph_spark.operators.curation import (
        strip_host_boilerplate,
    )

    rows = [("a.org", i, f"NAV\nbody a{i}") for i in range(2)]
    rows.append(("a.org", 2, None))
    docs = spark.createDataFrame(rows, "host string, doc_id long, text string")
    out = {
        r["doc_id"]: (r["text"], r["n_lines_kept"], r["n_lines_dropped"])
        for r in strip_host_boilerplate(docs).collect()
    }
    assert out == {0: ("body a0", 1, 1), 1: ("body a1", 1, 1), 2: (None, 0, 0)}


def test_strip_host_boilerplate_keeps_non_numeric_ids_apart(spark):
    """Documents are grouped by their raw id: string ids stay one row each
    (a cast to long turned them all into one NULL group)."""
    from llm_text_to_knowledge_graph_spark.operators.curation import (
        strip_host_boilerplate,
    )

    rows = [("a.org", f"doc-{c}", f"NAV\nbody {c}") for c in "xyz"]
    docs = spark.createDataFrame(rows, "host string, doc_id string, text string")
    out = sorted(tuple(r) for r in strip_host_boilerplate(docs).collect())
    assert out == [("a.org", f"doc-{c}", f"body {c}", 1, 1) for c in "xyz"]
