"""Corpus-curation operators for training-data pipelines: benchmark
decontamination, deterministic sampling, greedy sequence packing, and
cross-corpus line dedup.

Everything except the greedy packing loop is built-in column expressions
(JVM, whole-stage codegen); packing is the one genuinely sequential step
and runs as ONE applyInPandas over hash shards. Each operator has a
matching ANSI-SQL oracle in __spark_entry__.oracle_sql().
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _grams


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 8) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C recipe): flag every
    training document that shares at least one word ``n``-gram with an
    evaluation benchmark. Returns one row per doc with the count of
    distinct contaminated grams and a ``contaminated`` boolean — callers
    either drop flagged docs or route them to manual review.

    Scale shape: the benchmark side (eval sets — MBs, not TBs) collapses
    to DISTINCT grams and is BROADCAST, so the 100-TB side is one map-only
    explode + broadcast-hash semi-join + one partial-agg groupBy(doc) —
    the exploded grams never shuffle. The final left join keeps clean docs
    as explicit zero rows (an audit table, not a silent filter).

    Grams are compared by ``xxhash64`` of the gram text, not the string:
    the broadcast table and join keys are 8-byte longs instead of ~50-byte
    n-word strings (~6× smaller broadcast for a 13-gram benchmark set).
    A 64-bit collision can only FLAG an extra doc, never unflag one, and
    at benchmark scale (k grams, odds ~ k²/2⁶⁵) is negligible — the
    DuckDB oracle counts string grams and stays value-identical.
    """
    bench_grams = (
        benchmark.select(F.explode(_grams(F.col("text"), n)).alias("g"))
        .select(F.xxhash64("g").alias("gram"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col("doc_id"),
        F.explode(_grams(F.col("text"), n)).alias("g"),
    ).select("doc_id", F.xxhash64("g").alias("gram"))
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_grams"))
    )
    return (
        docs.select(F.col("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hit_grams"), F.lit(0)).cast("long").alias("n_hit_grams"),
            (F.coalesce(F.col("n_hit_grams"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def blocklist_filter(
    docs: DataFrame,
    blocked_keys: list[str] = (),
    blocked_terms: list[str] = (),
) -> DataFrame:
    """C4-style blocklist pass (Raffel et al. 2020 §2.2): drop documents
    whose source/domain key is on a blocked list OR whose text contains any
    blocked term as a whole lowercased word. Returns one audit row per doc
    (clean keeps positively certified, like :func:`decontaminate`):
    ``(doc_id, key_blocked, n_blocked_terms, blocked)``.

    Scale shape: blocklists are curation artifacts (10²-10⁴ entries), so
    both live as LITERAL arrays inside the scan stage — the whole pass is
    one map-only projection, zero shuffles, zero Python; Catalyst compiles
    ``isin`` to a hash-set probe. Term hits are counted by tokenizing once
    and filtering the token array against the literal set — flat in
    document length, no per-term regex scans. For blocklists past literal
    size (rare), the decontaminate shape applies: explode tokens +
    broadcast semi-join.
    """
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != ""
    )
    blocked_lit = F.array(*[F.lit(t.lower()) for t in blocked_terms])
    n_terms = (
        # coalesce: null text -> null tokens -> count 0, not null
        F.coalesce(
            F.size(F.filter(toks, lambda t: F.array_contains(blocked_lit, t))),
            F.lit(0),
        )
        if blocked_terms
        else F.lit(0)
    )
    key_blocked = (
        F.col("source").isin([k for k in blocked_keys])
        if blocked_keys
        else F.lit(False)
    )
    return docs.select(
        F.col("doc_id"),
        F.coalesce(key_blocked, F.lit(False)).alias("key_blocked"),
        n_terms.cast("long").alias("n_blocked_terms"),
        (
            F.coalesce(key_blocked, F.lit(False)) | (n_terms > 0)
        ).alias("blocked"),
    )


def hash_sample(
    docs: DataFrame,
    rate: float = 0.1,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic ``rate``-fraction sample keyed on the document id:
    keep a doc iff the first 8 hex chars of md5("{id}:{seed}") fall below
    the rate threshold. A pure function of (id, seed) — the same doc is
    sampled identically on every run, every engine, and every shard, which
    is what makes samples reproducible and UNIONABLE across 100-TB crawl
    snapshots (unlike rand(), whose draw depends on partitioning).

    Map-only: the predicate is one md5 + string compare per row, pushed
    into the scan's filter stage; no shuffle, no state.
    """
    threshold = format(int(rate * (1 << 32)), "08x")
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    return docs.filter(F.substring(key, 1, 8) < F.lit(threshold))


def stratified_hash_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Per-group deterministic sampling — the corpus-balancing pass (e.g.
    downsample English to upsample the long tail by ratio). Same md5 draw
    as :func:`hash_sample`, but the threshold is looked up per row from
    the ``rates`` map, so one map-only filter implements the whole mixing
    schedule; groups absent from ``rates`` get ``default_rate``.

    The draw is keyed on (id, seed) only — NOT the group — so re-assigning
    a doc's group (better lang-id model next crawl) changes its threshold
    but never re-rolls its dice: sample membership stays monotone in the
    rate, which keeps longitudinal corpus diffs meaningful.
    """
    mapping = F.create_map(
        *[x for g, r in sorted(rates.items())
          for x in (F.lit(g), F.lit(format(int(r * (1 << 32)), "08x")))]
    )
    default = F.lit(format(int(default_rate * (1 << 32)), "08x"))
    threshold = F.coalesce(mapping[F.col("lang")], default)
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{seed}")))
    return docs.filter(F.substring(key, 1, 8) < threshold)


def chunk_docs(docs: DataFrame, size: int = 128, overlap: int = 32) -> DataFrame:
    """Split documents into overlapping token windows (the RAG/embedding
    chunking pass): chunk ``k`` covers tokens ``[k*stride+1, k*stride+size]``
    with ``stride = size - overlap``; a doc at or under ``size`` tokens is
    one chunk, otherwise enough chunks that the final window reaches the
    last token. Pure column expressions — one map-only explode, no Python,
    no shuffle; chunk ids are dense per doc so (doc_id, chunk_id) is a
    stable global key.
    """
    if overlap >= size:
        raise ValueError("overlap must be < size")
    stride = size - overlap
    toks = F.split(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " ")
    n_tok = F.size(toks)
    n_chunks = F.when(n_tok <= size, F.lit(1)).otherwise(
        F.ceil((n_tok - size) / F.lit(float(stride))).cast("int") + 1
    )
    windows = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.concat_ws(" ", F.slice(toks, k * stride + 1, size)),
    )
    return docs.select(
        F.col("doc_id"),
        n_tok.cast("long").alias("n_tokens"),
        F.posexplode(windows).alias("chunk_id", "chunk_text"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "n_tokens",
        "chunk_text",
    )


_PACK_SCHEMA = "doc_id long, shard long, n_tokens long, seq_id long"


def pack_greedy(docs: DataFrame, budget: int = 512, n_shards: int = 8) -> DataFrame:
    """Greedy sequence packing: assign documents to training sequences of
    at most ``budget`` whitespace tokens. Docs are sharded by
    ``pmod(doc_id, n_shards)`` and packed greedily in doc_id order within
    each shard (a doc that would overflow closes the bin; docs longer than
    the budget get a bin alone). ``seq_id = shard * 1_000_000 + bin`` is
    globally unique and a pure function of the input — rerunnable.
    ``doc_id`` must be integral: it is the ``pmod`` shard key and the
    ``long`` doc_id of the output, so a non-numeric string id fails the
    job under ANSI mode (``CAST_INVALID_INPUT``).

    Packing is inherently sequential (bin state), so it is the one Python
    step here: ONE applyInPandas per shard, receiving only (doc_id,
    n_tokens) pairs — the token counting stays JVM-side and the text never
    crosses to Python. At 100 TB, shards bound both parallelism and skew:
    each shard sees ~1/n_shards of the docs regardless of content, and
    packing quality is unaffected by sharding because any shard's greedy
    fill converges to the same ~budget utilization.
    """
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " "))
        .cast("long")
        .alias("n_tokens"),
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("long").alias("shard"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        shard = int(pdf["shard"].iloc[0])
        bins, b, fill = [], 0, 0
        for t in pdf["n_tokens"]:
            t = int(t)
            if fill > 0 and fill + t > budget:
                b += 1
                fill = 0
            fill += t
            bins.append(shard * 1_000_000 + b)
        pdf["seq_id"] = pd.Series(bins, dtype="int64")
        return pdf[["doc_id", "shard", "n_tokens", "seq_id"]]

    return base.groupBy("shard").applyInPandas(_pack, _PACK_SCHEMA)


def line_dedup(docs: DataFrame) -> DataFrame:
    """C4-style cross-corpus line deduplication: every distinct line keeps
    exactly ONE occurrence across the whole corpus — the lexicographically
    first (min doc_id, then min position), a deterministic rule — and all
    other occurrences are removed. Returns the re-assembled cleaned text
    plus kept/dropped line counts, keyed by the raw ``doc_id`` value; docs
    whose every line was dropped disappear (callers union them back as
    empties if required).

    Two shuffles total at any scale: groupBy(line) picks the keeper via a
    single min(struct(doc_id, pos)) partial agg (map-side combine — the
    heavy duplicate lines collapse before shuffling), then the keeper set
    joins back against the exploded lines on the same key, and one
    groupBy(doc) re-assembles order via array_sort (no window, no global
    sort). Line-key skew IS the workload (that's the duplication being
    removed) and is absorbed by the partial agg, not a salted join.
    """
    lines = docs.select(
        F.col("doc_id"),
        F.size(F.split(F.col("text"), "\n", -1)).cast("long").alias("n_lines"),
        F.posexplode(F.split(F.col("text"), "\n", -1)).alias("pos", "line"),
    )
    keeper = lines.groupBy("line").agg(F.min(F.struct("doc_id", "pos")).alias("k"))
    kept = lines.join(keeper, "line").filter(
        (F.col("doc_id") == F.col("k.doc_id")) & (F.col("pos") == F.col("k.pos"))
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("ls"),
            F.max("n_lines").alias("n_lines"),
        )
        .select(
            "doc_id",
            F.concat_ws("\n", F.transform("ls", lambda s: s["line"])).alias("text"),
            F.size("ls").cast("long").alias("n_lines_kept"),
            (F.col("n_lines") - F.size("ls")).cast("long").alias("n_lines_dropped"),
        )
    )


def strip_host_boilerplate(
    docs: DataFrame,
    host_col: str = "host",
    min_docs: int = 2,
    max_doc_frac: float = 0.5,
) -> DataFrame:
    """CCNet/RefinedWeb-style per-host boilerplate removal: a line that
    appears on more than ``max_doc_frac`` of a HOST's documents (and on
    at least ``min_docs`` of them) is site template — navigation,
    cookie banner, footer — and is stripped from EVERY document of that
    host. Complementary to :func:`line_dedup` (C4's global
    keep-one-occurrence rule): boilerplate is defined by per-host
    document frequency, duplication by global occurrence count, and a
    host's unique-but-repeated footer is exactly the text the C4 rule
    keeps once but this pass deletes everywhere.

    Plan shape at 10^12 docs: one explode; the per-(host, line)
    document frequency is a (host, line, doc) distinct (map-side
    partial agg — the heavy template lines collapse per partition
    before shuffling) + one count groupBy; per-host doc counts are a
    host-sized aggregate joined on host (AQE picks broadcast while it
    fits; at web scale host cardinality ~10^8 makes this a normal
    shuffle join over two already-host-keyed sides); the boilerplate
    set (tiny — template lines per host) LEFT-joins the exploded lines on
    (host, line) to mark them; one groupBy(doc) reassembles the unmarked
    lines' order via array_sort (no window, no global sort). Hot template
    lines ARE the skew and are absorbed by the partial aggs.
    Deterministic; the SQL oracle replays the thresholds exactly.

    Every document comes back, keyed by its raw ``doc_id`` value: one
    whose every line is boilerplate as ``text = ''`` with
    ``n_lines_kept = 0``, and one whose text is NULL with NULL text and 0
    lines kept or dropped."""
    split = F.split(F.col("text"), "\n", -1)
    lines = docs.select(
        F.col(host_col).alias("host"),
        F.col("doc_id"),
        F.when(split.isNull(), 0).otherwise(F.size(split)).cast("long").alias(
            "n_lines"
        ),
        # a NULL text explodes to one (NULL, NULL) row, so its doc keeps a group
        F.posexplode_outer(split).alias("pos", "line"),
    )
    df_line = (
        lines.select("host", "line", "doc_id")
        .distinct()
        .groupBy("host", "line")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    host_docs = docs.groupBy(F.col(host_col).alias("host")).agg(
        F.countDistinct(F.col("doc_id")).alias("_nd")
    )
    boiler = (
        df_line.join(host_docs, "host")
        .filter(
            (F.col("_df") >= min_docs)
            & (F.col("_df") > F.lit(max_doc_frac) * F.col("_nd"))
        )
        .select("host", "line", F.lit(True).alias("_boiler"))
    )
    marked = lines.join(boiler, ["host", "line"], "left")
    return (
        marked.groupBy("host", "doc_id")
        .agg(
            # collect_list skips the NULLs of boilerplate lines (and of a
            # NULL text's placeholder row), so such a doc keeps its row with
            # ls = []
            F.array_sort(F.collect_list(
                F.when(
                    F.col("_boiler").isNull() & F.col("pos").isNotNull(),
                    F.struct("pos", "line"),
                )
            )).alias("ls"),
            F.max("n_lines").alias("n_lines"),
        )
        .select(
            "host",
            "doc_id",
            F.when(
                F.col("n_lines") > 0,
                F.concat_ws("\n", F.transform("ls", lambda s: s["line"])),
            ).alias("text"),
            F.size("ls").cast("long").alias("n_lines_kept"),
            (F.col("n_lines") - F.size("ls")).cast("long").alias(
                "n_lines_dropped"
            ),
        )
    )


def cap_per_key(
    docs: DataFrame,
    n: int,
    key_col: str = "domain",
    seed: int = 42,
    pre_salt: int = 0,
) -> DataFrame:
    """Deterministic per-key cap: keep at most ``n`` docs per key (C4-style
    per-domain limits — without one, the head domains drown the corpus).

    Selection is the ``n`` smallest md5("{id}:{seed}") draws per key (id as
    a tie-break), the same engine-portable dice as :func:`hash_sample`, so
    the kept set is a pure function of (id, key, seed): reproducible across
    runs, engines, and crawl snapshots, and monotone in ``n``.

    Plan: ONE shuffle on key + a running-rank window (no global sort). The
    web's domain distribution is Zipf — a mega-domain would funnel its
    whole slice through one window task, so ``pre_salt=S`` adds a skew-safe
    pre-pass: rank within (key, salt) buckets first (salt = pmod(xxhash64
    (id), S), uniform by construction) and keep ``n`` per bucket, bounding
    the final window's input to S*n rows per key. The pre-pass never
    changes the answer: the global smallest-n per key survive every
    per-bucket smallest-n cut (each bucket keeps its own n smallest, and a
    global winner is by definition among its bucket's n smallest).
    """
    from pyspark.sql import Window

    draw = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{seed}")))
    out = docs.withColumn("_draw", draw)
    if pre_salt:
        salt = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(pre_salt))
        w_pre = Window.partitionBy(key_col, "_salt").orderBy("_draw", "doc_id")
        out = (
            out.withColumn("_salt", salt)
            .withColumn("_rn", F.row_number().over(w_pre))
            .filter(F.col("_rn") <= n)
            .drop("_rn", "_salt")
        )
    w = Window.partitionBy(key_col).orderBy("_draw", "doc_id")
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn", "_draw")
    )


# Frozen scrub patterns (RefinedWeb/CCNet-style pretraining hygiene).
# Constructs are restricted to the RE2/Java-regex common subset so the SQL
# oracle can run the IDENTICAL pattern strings. Order matters: urls first
# (an email inside a url is part of the url), then emails, then bare IPv4.
REDACT_PATTERNS = (
    (r"https?://\S+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def redact(docs: DataFrame) -> DataFrame:
    """Replace urls / emails / IPv4 literals with typed placeholder tokens —
    the standard pre-training scrub pass. Pure chained ``regexp_replace``
    column expressions: JVM codegen, rides inside the scan stage, zero
    shuffles, zero Python."""
    col = F.col("text")
    for pat, rep in REDACT_PATTERNS:
        col = F.regexp_replace(col, pat, rep)
    return docs.withColumn("text", col)
