"""C1 — mention detection + grounding against a broadcast alias dictionary.

Reference parity: grounding_genes.py:13-52 (Gilda annotate per paragraph,
keep each mention's top match (db, id, entry_name)). Here the dictionary is
a Spark broadcast; scanning is a leftmost-longest word-boundary pass
(``AliasMatcher``: one regex whose alternation is the aliases compiled as a
character trie) inside an Arrow-batched pandas UDF (no per-row Python
crossing). Disambiguation of an ambiguous surface form is top-1 by prior
with a stable (db, id) tie-break — the relational equivalent of "keep
Gilda's top match".

At 100TB the dictionary (a few MB) broadcasts once per executor; the scan is
embarrassingly parallel with zero shuffle.
"""

from __future__ import annotations

import hashlib
import re
import sys

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..schemas import MENTION

# per-Python-worker matcher cache of ``WorkerMatcher``, keyed by lexicon digest
_MATCHER_CACHE: dict[str, "AliasMatcher"] = {}

_TOKEN_RE = re.compile(r"[\w-]+")


def lexicon_digest(alias_rows: list) -> str:
    """Content digest of the alias rows: equal rows give equal digests, rows
    that differ anywhere (even in one prior) do not."""
    return hashlib.sha256(repr(list(alias_rows)).encode()).hexdigest()[:16]


def _top1(alias_rows) -> dict[str, tuple[str, str, str, float]]:
    """alias -> (db, id, entry_name, prior): top-1 by prior, stable (db, id)
    tie-break — the relational 'keep Gilda's top match'."""
    best: dict[str, tuple[str, str, str, float]] = {}
    for alias, db, ent_id, entry_name, prior in alias_rows:
        cur = best.get(alias)
        cand = (db, ent_id, entry_name, float(prior))
        if (
            cur is None
            or cand[3] > cur[3]
            or (cand[3] == cur[3] and (cand[0], cand[1]) < (cur[0], cur[1]))
        ):
            best[alias] = cand
    return best


def alias_pattern(aliases) -> str:
    r"""``(?<![\w-])(trie)(?![\w-])``: the aliases as one character trie in
    the word-boundary frame, group 1 the alias.

    Each trie node's children form a non-capturing alternation (their first
    chars differ, so at most one branch can match) and a node where an alias
    ends makes that alternation an optional greedy tail. The text fixes one
    path through the trie per start, and backtracking out of the greedy
    tails tries that path's aliases longest first, so each start yields the
    longest alias whose right boundary holds — the leftmost-longest rule of
    a flat alternation sorted by length, at one char test per trie level
    instead of one attempt per alias. Emitted with an explicit stack; an
    empty dictionary gives a pattern that never matches.
    """
    root: dict = {}
    for alias in aliases:
        node = root
        for ch in alias:
            node = node.setdefault(ch, {})
        node[""] = None  # an alias ends here ("" is never a char key)
    if not root:
        return r"(?!)"
    out = [r"(?<![\w-])("]
    stack: list = [r")(?![\w-])", root]
    while stack:
        item = stack.pop()
        if isinstance(item, str):
            out.append(item)
            continue
        chars = sorted(k for k in item if k)
        ends = "" in item
        items: list = []
        for i, ch in enumerate(chars):
            if i:
                items.append("|")
            items += [re.escape(ch), item[ch]]
        if chars and (ends or len(chars) > 1):
            out.append("(?:")
            items.append(")?" if ends else ")")
        stack.extend(reversed(items))
    return "".join(out)


class AliasMatcher:
    """Leftmost-longest dictionary matcher over word-boundary alias spans:
    one compiled ``alias_pattern`` over the top-1 aliases; at each position
    the longest boundary-valid alias wins, and the scan resumes at its end.

    ``engine`` is always ``"regex"``. A trie nested deeper than the regex
    parser's recursion limit (a chain of a few hundred aliases, each a
    prefix of the next) fails here with a ``ValueError``.
    """

    engine = "regex"

    def __init__(self, alias_rows: list[tuple[str, str, str, str, float]]):
        self.lookup = _top1(alias_rows)
        pattern = alias_pattern(self.lookup)
        try:
            self.rx = re.compile(pattern)
        except RecursionError as err:
            raise ValueError(
                "alias trie nests deeper than the regex parser accepts "
                f"(Python recursion limit {sys.getrecursionlimit()})"
            ) from err

    def find(self, text: str) -> list[tuple]:
        out = []
        for m in self.rx.finditer(text):
            alias = m.group(1)
            db, ent_id, entry_name, prior = self.lookup[alias]
            out.append((m.start(), m.end(), alias, db, ent_id, entry_name, prior))
        return out


class WorkerMatcher:
    """``alias_rows`` broadcast once; calling the instance in a Python worker
    returns that worker's ``AliasMatcher``, built on first use (the
    reference's lru_cache analog, SURVEY.md §4). Cached by
    ``lexicon_digest``, so a worker builds once per lexicon, not once per
    run, and equal content cannot serve a stale dictionary (an
    id(broadcast) key once did: memory addresses are reused after GC). A
    module-level class, so workers share ``_MATCHER_CACHE`` instead of
    unpickling a copy with each task."""

    def __init__(self, spark, alias_rows):
        alias_rows = list(alias_rows)
        self._bc = spark.sparkContext.broadcast(alias_rows)
        self.key = lexicon_digest(alias_rows)

    def __call__(self) -> AliasMatcher:
        matcher = _MATCHER_CACHE.get(self.key)
        if matcher is None:
            if len(_MATCHER_CACHE) >= 8:  # bound worker memory across many runs
                _MATCHER_CACHE.clear()
            matcher = _MATCHER_CACHE[self.key] = AliasMatcher(self._bc.value)
        return matcher


def mention_structs(found: list[tuple]) -> list[dict]:
    """``AliasMatcher.find`` tuples -> MENTION-shaped dicts."""
    return [
        {"begin": b, "end": e, "alias": a, "db": db, "id": i,
         "entry_name": n, "score": p}
        for (b, e, a, db, i, n, p) in found
    ]


def detect_mentions(sentences: DataFrame, alias_rows: list) -> DataFrame:
    """sentences -> MENTIONS schema (sentence + array<mention struct>).

    ``alias_rows``: list of (alias, db, id, entry_name, prior), shipped by
    ``WorkerMatcher``.
    """
    get_matcher = WorkerMatcher(sentences.sparkSession, alias_rows)

    @F.pandas_udf(ArrayType(MENTION))
    def _annotate(sent: pd.Series) -> pd.Series:
        matcher = get_matcher()
        return pd.Series([mention_structs(matcher.find(s)) for s in sent])

    return sentences.withColumn("mentions", _annotate(F.col("sentence")))


def explode_mentions(mentions_df: DataFrame) -> DataFrame:
    """Flat mention rows (url, para_idx, sent_idx, begin, end, db, id,
    entry_name, score) — the relational view of D3 for joins/eval."""
    return mentions_df.select(
        "url",
        "warc_ts",
        "para_idx",
        "sent_idx",
        F.explode("mentions").alias("m"),
    ).select(
        "url",
        "warc_ts",
        "para_idx",
        "sent_idx",
        F.col("m.begin").alias("begin"),
        F.col("m.end").alias("end"),
        F.col("m.alias").alias("alias"),
        F.col("m.db").alias("db"),
        F.col("m.id").alias("id"),
        F.col("m.entry_name").alias("entry_name"),
        F.col("m.score").alias("score"),
    )


def count_mentions_native(sentences: DataFrame, alias_rows: list) -> DataFrame:
    """Pure-counting path: per-entity mention counts with NO Python
    crossing (a pure-JVM deployment option next to the Arrow-batched
    ``AliasMatcher``). Two JVM plans, selected by dictionary shape:

      * ``tokenize`` — when every alias is a single ``[\\w-]+`` token, the
        leftmost-longest boundary scan reduces to token equality: split on
        the boundary class, filter tokens against the dictionary inside the
        array, explode only the hits, broadcast-hash-join to entry names.
        All inside WholeStageCodegen, per-row cost flat in dictionary size.
      * ``regex`` — any other alias shape: ``AliasMatcher``'s trie pattern
        (``alias_pattern``) via ``regexp_extract_all``, with ``(?U)`` so
        Java's ``\\w`` is the Unicode class. Measured over 55,076 synthetic
        sentences (the 3,068-alias seed-1 lexicon, local[4]): 0.8 s, against
        3.3 s for a flat length-sorted alternation and 1.0 s for the
        Python matcher's UDF path.
    """
    spark = sentences.sparkSession
    lookup = _top1(alias_rows)
    if not lookup:
        return spark.createDataFrame([], "entry_name string, n_mentions long")
    amap = spark.createDataFrame(
        [(a, v[2]) for a, v in lookup.items()],
        "alias string, entry_name string",
    )
    if all(_TOKEN_RE.fullmatch(a) for a in lookup):
        # (?U): Java \w must match the Unicode class the Python matcher
        # uses. Tokens are filtered against the dictionary INSIDE the array
        # (literal isin for small dicts) before the explode, so only actual
        # hits are exploded — the explode-everything variant measured slower
        # than the Python matcher because it shuffled every token.
        toks = F.split(F.col("sentence"), r"(?U)[^\w\-]+")
        aliases = list(lookup)
        if len(aliases) <= 1024:
            toks = F.filter(toks, lambda t: t.isin(aliases))
        hits = sentences.select(F.explode(toks).alias("alias"))
    else:
        pattern = "(?U)" + alias_pattern(lookup)
        hits = sentences.select(
            F.explode(
                F.regexp_extract_all(F.col("sentence"), F.lit(pattern), F.lit(1))
            ).alias("alias")
        )
    return (
        hits.join(F.broadcast(amap), "alias")
        .groupBy("entry_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_mentions"))
    )
