"""Seeded benchmark inputs, materialised before any timed window.

The page corpus and its planted gold are written once per (seed, size) to
parquet under the checkout's ``.bench_work/corpus``: the rows of
``corpus.pages_df`` and ``corpus.gold_df`` (same seed), made by the
per-document generator they run (``corpus.gen_doc``) in a pool of plain
Python processes, so no cold Spark job runs before set-up. The smoke mode
checks the written rows against both DataFrames. The program under test
only reads that parquet. Single-process reference outputs, built from the same
public per-page functions the fused operator calls, are cached beside it.
"""

from __future__ import annotations

import glob
import hashlib
import json
import multiprocessing
import os
import shutil
import time
from collections import Counter
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from llm_text_to_knowledge_graph_spark import corpus as kg_corpus
from llm_text_to_knowledge_graph_spark.operators.mentions import AliasMatcher
from llm_text_to_knowledge_graph_spark.operators.statements import (
    extract_parts_from_sentence,
)
from llm_text_to_knowledge_graph_spark.sources.html_extract import (
    extract_paragraphs_text,
    split_sentences,
)


@dataclass(frozen=True)
class Sizes:
    pages: int  # corpus pages (doc ids 0..pages-1 of the seeded generator)
    file_pages: int  # pages per parquet file (= per input partition)
    warm_pages: int = 16  # warm-up input, run during set-up


KEEP_CORPORA = 24  # cached seeded corpora kept in the checkout


def hgnc_rows(alias_rows: list) -> list:
    """The grounding lexicon cut to its HGNC entries (~1k aliases, below
    the matcher's 2048-alias threshold, so ``AliasMatcher`` picks regex)."""
    return [r for r in alias_rows if r[1] == "HGNC"]


def fingerprint(rows) -> list[int]:
    """Order-independent multiset fingerprint: [count, sum of 64-bit row
    digests mod 2**64]. Rows are tuples of strings."""
    n, acc = 0, 0
    for r in rows:
        d = hashlib.blake2b("\x1f".join(r).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(d, "little")) % 2**64
        n += 1
    return [n, acc]


def reference_triples(pages_pdf, matcher: AliasMatcher) -> list[tuple]:
    """Single-process sentence-engine extraction over English pages:
    (url, para_idx, sent_idx, subj, pred, obj, bel_statement, evidence)."""
    out = []
    for url, html, text, lang in zip(
        pages_pdf["url"], pages_pdf["html"], pages_pdf["text"], pages_pdf["lang"]
    ):
        if lang != "en":
            continue
        for pi, para in enumerate(extract_paragraphs_text(html, text)):
            for si, sent in enumerate(split_sentences(para)):
                mentions = [
                    {"begin": b, "end": e, "db": db, "entry_name": n}
                    for (b, e, _a, db, _i, n, _p) in matcher.find(sent)
                ]
                for subj, pred, obj, stmt, ev in extract_parts_from_sentence(
                    sent, mentions
                ):
                    out.append((url, pi, si, subj, pred, obj, stmt, ev))
    return out


def edge_rows(triples) -> list[tuple]:
    """Reference triples in the written-edge shape
    (s_name, t_name, interaction, bel_expression, evidence)."""
    return [
        (subj, obj, pred, f"{subj} {pred} {obj}", ev)
        for (_u, _p, _s, subj, pred, obj, _st, ev) in triples
        if subj is not None and obj is not None
    ]


def _file_reference(path: str, seed: int) -> tuple[list[int], set]:
    rows = edge_rows(reference_triples(
        pq.read_table(path).to_pandas(), AliasMatcher(kg_corpus.build_alias_rows(seed))))
    return fingerprint(rows), {r[0] for r in rows} | {r[1] for r in rows}


def reference_fingerprints(files: list[str], seed: int, procs: int) -> dict:
    """Reference fingerprints of the written edges and of the node names,
    built outside Spark by plain Python processes, one file at a time.
    Edge fingerprints add up across files; node names are unioned."""
    with ProcessPoolExecutor(procs, mp_context=multiprocessing.get_context("fork")) as ex:
        parts = list(ex.map(_file_reference, files, [seed] * len(files)))
    n = sum(fp[0] for fp, _ in parts)
    acc = sum(fp[1] for fp, _ in parts) % 2**64
    names = set().union(*(ns for _, ns in parts))
    return {"edges": [n, acc], "nodes": fingerprint((name,) for name in names)}


def gold_scores(emitted: Counter, gold: Counter) -> tuple[int, int, int]:
    """(matched, emitted, gold) over multisets of comparison keys."""
    matched = sum(min(c, gold[k]) for k, c in emitted.items() if k in gold)
    return matched, sum(emitted.values()), sum(gold.values())


PAGES_ARROW = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
GOLD_ARROW = pa.schema(
    [pa.field("url", pa.string(), nullable=False)]
    + [pa.field(c, pa.int32(), nullable=False) for c in ("para_idx", "sent_idx")]
    + [pa.field(c, pa.string(), nullable=False)
       for c in ("bel_statement", "subj", "pred", "obj", "evidence")]
)


def _write_part(seed: int, bounds: tuple[int, int], out: str) -> None:
    """Doc ids [lo, hi) from ``corpus.gen_doc``, the per-document generator
    ``pages_df`` and ``gold_df`` run, as one pages and one gold file."""
    lo, hi = bounds
    entities = kg_corpus.build_entities(seed)
    docs = [kg_corpus.gen_doc(seed, i, entities) for i in range(lo, hi)]
    name = f"part-{lo:09d}.parquet"
    pq.write_table(pa.Table.from_pylist(
        [{k: d[k] for k in PAGES_ARROW.names} for d in docs], schema=PAGES_ARROW),
        os.path.join(out, "pages", name))
    gold = [dict(zip(("para_idx", "sent_idx", "bel_statement", "subj", "pred", "obj",
                      "evidence"), g), url=d["url"]) for d in docs for g in d["gold"]]
    pq.write_table(pa.Table.from_pylist(gold, schema=GOLD_ARROW),
                   os.path.join(out, "gold", name))


def _row_multiset(pdf) -> Counter:
    """Rows of a pandas frame as a multiset, timestamps as UTC instants."""
    pdf = pdf.copy()
    if "warc_ts" in pdf:
        pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True)
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return Counter(map(tuple, pdf[sorted(pdf.columns)].itertuples(index=False)))


class Corpus:
    """The seeded corpus under ``<work>/corpus/s<seed>-f<file_pages>``.

    Every workload reads a prefix of the same generator output (doc ids
    0..pages-1), so one cached corpus serves any workload that needs no
    more pages than it holds; a larger need regenerates it larger."""

    def __init__(self, work: str, seed: int, sizes: Sizes):
        self.seed = seed
        self.sizes = sizes
        self.root = os.path.join(work, "corpus")
        self.dir = os.path.join(self.root, f"s{seed}-f{sizes.file_pages}")
        self.alias_rows = kg_corpus.build_alias_rows(seed)

    def _cached_pages(self) -> int:
        try:
            with open(os.path.join(self.dir, "DONE"), encoding="utf-8") as f:
                return int(f.read())
        except (FileNotFoundError, ValueError):
            return 0

    # -- materialisation (plain Python processes; outside every timed window)
    def materialise(self, procs: int, warm_files: int) -> float:
        """Write pages, gold and warm-up pages unless a cached corpus of at
        least the needed size exists; returns the seconds spent."""
        if self._cached_pages() >= self.sizes.pages:
            os.utime(self.dir)
            return 0.0
        t0 = time.perf_counter()
        tmp = f"{self.dir}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        s = self.sizes
        for d in ("pages", "gold", "warm"):
            os.makedirs(os.path.join(tmp, d))
        bounds = [(lo, min(lo + s.file_pages, s.pages)) for lo in range(0, s.pages, s.file_pages)]
        with ProcessPoolExecutor(procs, mp_context=multiprocessing.get_context("fork")) as ex:
            list(ex.map(_write_part, [self.seed] * len(bounds), bounds, [tmp] * len(bounds)))
        # warm-up input: the first pages of the corpus, one file per Spark
        # core so set-up warms every Python worker
        head = pq.ParquetDataset(os.path.join(tmp, "pages")).read().slice(0, s.warm_pages)
        n_warm = min(s.warm_pages, warm_files)
        for k in range(n_warm):
            lo, hi = k * s.warm_pages // n_warm, (k + 1) * s.warm_pages // n_warm
            pq.write_table(head.slice(lo, hi - lo),
                           os.path.join(tmp, "warm", f"part-{k:05d}.parquet"))
        with open(os.path.join(tmp, "DONE"), "w", encoding="utf-8") as f:
            f.write(str(s.pages))
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)
        self._evict()
        return time.perf_counter() - t0

    def check_generator(self, spark) -> None:
        """The written pages and gold hold exactly the rows of
        ``corpus.pages_df`` / ``corpus.gold_df`` for this seed and size."""
        s = self.sizes
        parts = s.pages // s.file_pages
        spark_pages = kg_corpus.pages_df(spark, s.pages, self.seed, partitions=parts).toPandas()
        spark_gold = kg_corpus.gold_df(spark, s.pages, self.seed, partitions=parts).toPandas()
        gold = pq.read_table(os.path.join(self.dir, "gold")).to_pandas()
        for name, want, got in (
            ("pages", spark_pages, self.read_pages(self.page_files())),
            ("gold", spark_gold, gold[gold["url"] < self._url_bound()]),
        ):
            if _row_multiset(want) != _row_multiset(got):
                raise RuntimeError(f"written {name} differ from corpus.{name}_df")

    def _evict(self) -> None:
        dirs = sorted(
            (d for d in glob.glob(os.path.join(self.root, "s*-f*")) if ".tmp-" not in d),
            key=os.path.getmtime,
        )
        for d in dirs[:-KEEP_CORPORA]:
            shutil.rmtree(d, ignore_errors=True)

    # -- paths --------------------------------------------------------------
    def page_files(self) -> list[str]:
        """The files holding doc ids 0..pages-1 (one file per partition of
        the generator's contiguous id ranges)."""
        files = sorted(glob.glob(os.path.join(self.dir, "pages", "part-*.parquet")))
        if len(files) * self.sizes.file_pages != self._cached_pages():
            raise RuntimeError(f"corpus {self.dir} is incomplete")
        return files[: self.sizes.pages // self.sizes.file_pages]

    def warm_dir(self) -> str:
        return os.path.join(self.dir, "warm")

    # -- in-process reads (pyarrow; no Spark involved) -----------------------
    def read_pages(self, files: list[str]):
        return pq.ParquetDataset(files).read().to_pandas()

    def gold(self, urls=None) -> "list[tuple]":
        """Gold rows (url, para_idx, sent_idx, bel_statement, evidence) of
        this corpus's pages, or of ``urls`` only."""
        pdf = pq.read_table(os.path.join(self.dir, "gold")).to_pandas()
        pdf = pdf[pdf["url"] < self._url_bound()]
        if urls is not None:
            pdf = pdf[pdf["url"].isin(set(urls))]
        return list(
            zip(pdf["url"], pdf["para_idx"], pdf["sent_idx"],
                pdf["bel_statement"], pdf["evidence"])
        )

    def _url_bound(self) -> str:
        """urls carry zero-padded doc ids, so this corpus's prefix of the
        generator output is the string range below this url"""
        return f"https://corpus.test/doc/{self.sizes.pages:012d}"

    def cached_json(self, name: str, build):
        """``build()`` once per corpus and size; the JSON result is cached
        beside the corpus."""
        path = os.path.join(self.dir, f"{name}-n{self.sizes.pages}.json")
        try:
            with open(path, encoding="utf-8") as f:
                return json.load(f)
        except FileNotFoundError:
            pass
        value = build()
        with open(f"{path}.tmp", "w", encoding="utf-8") as f:
            json.dump(value, f)
        os.replace(f"{path}.tmp", path)
        return value
