"""C1 — mention detection + grounding against a broadcast alias dictionary.

Reference parity: grounding_genes.py:13-52 (Gilda annotate per paragraph,
keep each mention's top match (db, id, entry_name)). Here the dictionary is
a Spark broadcast; scanning is a leftmost-longest word-boundary pass
(``AliasMatcher``) inside an Arrow-batched pandas UDF (no per-row Python
crossing). Disambiguation of an ambiguous surface form is top-1 by prior
with a stable (db, id) tie-break — the relational equivalent of "keep
Gilda's top match".

At 100TB the dictionary (a few MB) broadcasts once per executor; the scan is
embarrassingly parallel with zero shuffle.
"""

from __future__ import annotations

import re
import uuid

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..schemas import MENTION

# per-Python-worker matcher cache of ``WorkerMatcher``, keyed by its token
_MATCHER_CACHE: dict[str, "AliasMatcher"] = {}


# from this many aliases on, the token-index engine replaces the alternation
# regex, whose O(|text| * |alternates|) scan grows with the dictionary; the
# token probe's cost per token does not
_TOK_THRESHOLD = 2048

_TOKEN_RE = re.compile(r"[\w-]+")

_WB_RE = re.compile(r"[\w-]")  # the boundary class of the regex engine
_ASCII_WB = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_-"
)


def _is_wb(ch: str) -> bool:
    """True if ch is in the [\\w-] boundary class (ASCII fast path)."""
    if ch.isascii():
        return ch in _ASCII_WB
    return _WB_RE.match(ch) is not None


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


class AliasMatcher:
    """Leftmost-longest dictionary matcher over word-boundary alias spans.

    Two engines with identical match semantics (pinned by
    tests/test_ac_matcher.py), chosen by dictionary size alone; ``engine``
    names the one built:

      * ``regex`` (below 2048 aliases) — one alternation ordered by length
        desc; at each position the longest boundary-valid alias wins, scan
        resumes at match end.
      * ``tok`` (2048 aliases and up) — token-index scan: tokenize the text
        on the boundary class with one C-level ``finditer`` pass, and look
        each whole token up in a dict that keys every alias's first token
        to the distinct lengths of its aliases. Each length, longest first,
        costs one right-boundary char test and one ``lookup`` probe of the
        text slice, so the work per token is bounded by the number of
        distinct lengths however many aliases share a first token. The
        rare aliases that START with a non-word char (e.g.
        ``(+)-catechin``) are swept by a small zero-width-lookahead
        alternation and merged through the same longest-per-start greedy
        tail, so the output equals ``regex``'s for any dictionary.
    """

    def __init__(self, alias_rows: list[tuple[str, str, str, str, float]]):
        best = _top1(alias_rows)
        self.lookup = best
        self.rx = None
        if len(best) >= _TOK_THRESHOLD:
            self.engine = "tok"
            self._build_tok(list(best))
        else:
            self.engine = "regex"
            ordered = sorted(best, key=len, reverse=True)
            if ordered:
                pattern = "|".join(re.escape(a) for a in ordered)
                self.rx = re.compile(rf"(?<![\w-])({pattern})(?![\w-])")

    # -- token index ----------------------------------------------------------
    def _build_tok(self, patterns: list[str]) -> None:
        lengths: dict[str, set[int]] = {}
        weird: list[str] = []
        for pat in patterns:
            m = _TOKEN_RE.match(pat)
            if m is not None and m.start() == 0:
                lengths.setdefault(m.group(0), set()).add(len(pat))
            else:
                weird.append(pat)  # starts with a non-[\w-] char
        self._by_first = {
            tok: tuple(sorted(lens, reverse=True)) for tok, lens in lengths.items()
        }
        if weird:
            # zero-width lookahead: every start position is probed, the
            # length-desc alternation picks the longest boundary-valid
            # alias AT each start (finditer alone would consume matches
            # and skip overlapping starts the greedy tail may still need)
            ordered = sorted(weird, key=len, reverse=True)
            alt = "|".join(re.escape(a) for a in ordered)
            self._weird_rx = re.compile(rf"(?<![\w-])(?=({alt})(?![\w-]))")
        else:
            self._weird_rx = None

    def _probe(self, text: str, start: int, lens: tuple[int, ...]) -> int:
        """Length of the longest alias at token start ``start`` whose right
        boundary holds, else 0. ``end <= n`` is needed because a slice
        past the text silently truncates: "ab cd" would match as "ab"."""
        n = len(text)
        lookup = self.lookup
        for length in lens:  # longest first
            end = start + length
            if end > n or (end < n and _is_wb(text[end])):
                continue
            if lookup.get(text[start:end]) is not None:
                return length
        return 0

    def _find_tok(self, text: str) -> list[tuple]:
        by_first = self._by_first
        lookup = self.lookup
        is_wb = _is_wb
        n = len(text)
        if self._weird_rx is None:
            # fast path: every candidate start is a token start, so the
            # leftmost-longest greedy runs inline — no by_start dict
            result = []
            pos = 0
            for m in _TOKEN_RE.finditer(text):
                lens = by_first.get(m[0])
                if lens is None:
                    continue  # the overwhelmingly common token: one C probe
                start = m.start()
                if start < pos:
                    continue  # inside the previous match
                # _probe inlined: a call per hit token costs ~8% of find
                for length in lens:  # longest first
                    end = start + length
                    if end > n or (end < n and is_wb(text[end])):
                        continue
                    alias = text[start:end]
                    hit = lookup.get(alias)
                    if hit is not None:
                        db, ent_id, entry_name, prior = hit
                        result.append(
                            (start, end, alias, db, ent_id, entry_name, prior)
                        )
                        pos = end
                        break
            return result
        # weird aliases can start anywhere a token does not: collect the
        # longest valid length per start from BOTH sources, then run the
        # leftmost-longest greedy tail (a token start and a weird start
        # never coincide — first chars are in disjoint classes)
        by_start: dict[int, int] = {}
        for m in _TOKEN_RE.finditer(text):
            lens = by_first.get(m[0])
            if lens is not None:
                length = self._probe(text, m.start(), lens)
                if length:
                    by_start[m.start()] = length
        for m in self._weird_rx.finditer(text):
            by_start[m.start()] = len(m.group(1))
        result = []
        pos = 0
        for start in sorted(by_start):
            if start < pos:
                continue
            end = start + by_start[start]
            alias = text[start:end]
            db, ent_id, entry_name, prior = lookup[alias]
            result.append((start, end, alias, db, ent_id, entry_name, prior))
            pos = end
        return result

    def find(self, text: str) -> list[tuple]:
        if self.engine == "tok":
            return self._find_tok(text)
        if self.rx is None:
            return []
        out = []
        for m in self.rx.finditer(text):
            alias = m.group(1)
            db, ent_id, entry_name, prior = self.lookup[alias]
            out.append((m.start(), m.end(), alias, db, ent_id, entry_name, prior))
        return out


class WorkerMatcher:
    """``alias_rows`` broadcast once; calling the instance in a Python worker
    returns that worker's ``AliasMatcher``, built on first use (the
    reference's lru_cache analog, SURVEY.md §4). Cached per instance token,
    NOT per id(broadcast): memory addresses are reused after GC, which once
    served a stale dictionary to a later run in one session. A module-level
    class, so workers share ``_MATCHER_CACHE`` instead of unpickling a copy
    with each task."""

    def __init__(self, spark, alias_rows):
        self._bc = spark.sparkContext.broadcast(list(alias_rows))
        self._token = uuid.uuid4().hex

    def __call__(self) -> AliasMatcher:
        matcher = _MATCHER_CACHE.get(self._token)
        if matcher is None:
            if len(_MATCHER_CACHE) >= 8:  # bound worker memory across many runs
                _MATCHER_CACHE.clear()
            matcher = _MATCHER_CACHE[self._token] = AliasMatcher(self._bc.value)
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
    ``WorkerMatcher``; ``AliasMatcher`` picks its engine by dictionary size.
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
      * ``regex`` — any other alias shape: the same length-desc ordered
        alternation as ``AliasMatcher`` via ``regexp_extract_all`` with
        ``(?U)`` word-boundary lookarounds. Correct for any alias, but the
        JVM regex engine scans the alternation per character, so it is the
        zero-Python-runtime option, not the fast one.
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
        ordered = sorted(lookup, key=len, reverse=True)
        pattern = (
            r"(?U)(?<![\w-])("
            + "|".join(re.escape(a) for a in ordered)
            + r")(?![\w-])"
        )
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
