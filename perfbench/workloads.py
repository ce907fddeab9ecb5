"""The two workloads: one timed operation each, its correctness check,
its planted-gold score and its traced-run extras.

Every call into the program under test goes through the package's public
functions; the benchmark times and checks them from outside.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from llm_text_to_knowledge_graph_spark.export.cx2 import to_cx2
from llm_text_to_knowledge_graph_spark.operators.fused import extract_triples_fused
from llm_text_to_knowledge_graph_spark.operators.graph import (
    build_edges,
    build_nodes,
    nodes_from_edges,
)
from llm_text_to_knowledge_graph_spark.operators.mentions import AliasMatcher
from llm_text_to_knowledge_graph_spark.plans.pipeline import run_pipeline

from host import cpu_count
from inputs import (
    Corpus,
    Sizes,
    edge_rows,
    fingerprint,
    gold_scores,
    hgnc_rows,
    reference_fingerprints,
    reference_triples,
)

CHECKPOINT_STAGES = (
    "paragraphs", "sentences", "mentions", "flat_mentions",
    "statements_block", "triples", "nodes", "edges",
)


class CheckFailed(Exception):
    """An operation's output disagreed with its reference."""


@dataclass
class OpResult:
    pages: int
    triples: int = 0
    cpu_s: float = 0.0  # CPU time of the process tree while it ran
    peak_mb: float = 0.0  # peak PSS of the process tree while it ran
    detail: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    corpus: Corpus
    run_dir: str
    spans: object

    def group(self, name: str) -> str:
        self.spark.sparkContext.setJobGroup(name, name)
        return name

    def jobs_in(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def warm_up(ctx: Ctx, k: int) -> None:
    """Set-up work shared by every workload: two small jobs (fused
    extraction, hash edges, parquet sink; then the node distinct over the
    written edges) over the warm-up pages, so the Python workers, codegen,
    the shuffle and the parquet writer are warm. staged_block times its
    first job, so its shuffle path must be warm before it."""
    out = os.path.join(ctx.run_dir, f"warm{k}")
    pages = ctx.spark.read.parquet(ctx.corpus.warm_dir())
    build_edges(
        extract_triples_fused(pages, ctx.corpus.alias_rows),
        id_strategy="hash", carry_names=True,
    ).write.parquet(os.path.join(out, "edges"))
    nodes_from_edges(ctx.spark.read.parquet(os.path.join(out, "edges"))).write.parquet(
        os.path.join(out, "nodes"))
    shutil.rmtree(out, ignore_errors=True)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class Workload:
    name = ""
    engine = "sentence"  # which extraction the traced loop shadows
    min_ops = 1  # operations per run, however long --seconds is
    # leading operations checked but left out of the medians and of the
    # --seconds of measured time
    cold_ops = 0
    sizes: Sizes
    smoke_sizes: Sizes
    pages: object  # the input DataFrame, read by prepare()

    def __init__(self):
        self.gold_counts = [0, 0, 0]  # matched, emitted, gold

    def lexicon(self, ctx: Ctx) -> list:
        """Grounding lexicon the workload's extraction runs with."""
        return ctx.corpus.alias_rows

    def prepare(self, ctx: Ctx) -> None:
        """Untimed: references and gold for the checks."""

    def op(self, ctx: Ctx, i: int) -> OpResult:
        raise NotImplementedError

    def check(self, ctx: Ctx, i: int, res: OpResult) -> None:
        raise NotImplementedError

    def layers(self, ctx: Ctx, results: list[OpResult]) -> dict[str, float]:
        """Workload-specific per-layer metrics (traced run only)."""
        return {}

    def gold(self) -> tuple[float, float]:
        matched, emitted, gold = self.gold_counts
        return _ratio(matched, gold), _ratio(matched, emitted)

    def _add_gold(self, emitted: Counter, gold: Counter) -> None:
        for j, v in enumerate(gold_scores(emitted, gold)):
            self.gold_counts[j] += v


def _time_id_strategies(ctx: Ctx, triples) -> dict[str, float]:
    """build_nodes + build_edges executed to a no-op sink, dense ids
    against hash ids, over the same already-materialised triples."""
    out = {}
    for strategy in ("dense", "hash"):
        ctx.group(f"ids:{strategy}")
        t0 = time.perf_counter()
        nodes = build_nodes(triples, id_strategy=strategy)
        edges = build_edges(triples, nodes, id_strategy=strategy)
        nodes.write.format("noop").mode("overwrite").save()
        edges.write.format("noop").mode("overwrite").save()
        out[f"ids.{strategy}_s"] = time.perf_counter() - t0
    return out


EDGE_COLS = ["s", "t", "s_name", "t_name", "interaction", "bel_expression", "evidence"]


class BulkCrawl(Workload):
    """Parquet pages -> fused extraction -> hash-id edges (parquet) ->
    nodes_from_edges over the written edges (parquet)."""

    name = "bulk_crawl"
    # later jobs keep getting faster while the JVM compiles hot code: the
    # first two jobs run cold and are only checked, the medians are over
    # at least three more
    min_ops = 5
    cold_ops = 2
    sizes = Sizes(pages=3000, file_pages=500)
    smoke_sizes = Sizes(pages=64, file_pages=16, warm_pages=8)

    def prepare(self, ctx: Ctx) -> None:
        files = ctx.corpus.page_files()
        self.ref = ctx.corpus.cached_json(
            "ref_bulk", lambda: reference_fingerprints(files, ctx.corpus.seed, cpu_count()))
        self.gold_rows = Counter((st, ev) for _u, _p, _s, st, ev in ctx.corpus.gold())
        self.pages = ctx.spark.read.parquet(*files)
        self.plan = []

    def op(self, ctx: Ctx, i: int) -> OpResult:
        out = os.path.join(ctx.run_dir, f"op{i}")
        sp = ctx.spans
        g = ctx.group(f"op{i}:plan")
        edges = sp.run("pipeline.plan", g, lambda: build_edges(
            extract_triples_fused(self.pages, ctx.corpus.alias_rows),
            id_strategy="hash", carry_names=True,
        ))
        self.plan.append(ctx.jobs_in(g))
        g = ctx.group(f"op{i}:edges")
        sp.run("graph.edges_write", g,
               lambda: edges.write.parquet(os.path.join(out, "edges")))
        g = ctx.group(f"op{i}:nodes")
        sp.run("graph.nodes", g, lambda: nodes_from_edges(
            ctx.spark.read.parquet(os.path.join(out, "edges"))
        ).write.parquet(os.path.join(out, "nodes")))
        return OpResult(pages=ctx.corpus.sizes.pages, detail={"dir": out})

    def check(self, ctx: Ctx, i: int, res: OpResult) -> None:
        """Every job's edges and nodes, read back with pyarrow outside
        Spark, are compared in full with the single-process reference."""
        d = res.detail["dir"]
        e = pq.read_table(os.path.join(d, "edges"), columns=EDGE_COLS).to_pandas()
        n = pq.read_table(os.path.join(d, "nodes"), columns=["node_id", "name"]).to_pandas()
        res.triples = len(e)
        rows = list(zip(e["s_name"], e["t_name"], e["interaction"],
                        e["bel_expression"], e["evidence"]))
        if fingerprint(rows) != self.ref["edges"]:
            raise CheckFailed(f"op{i}: written edges differ from the reference")
        endpoints = set(zip(e["s"], e["s_name"])) | set(zip(e["t"], e["t_name"]))
        node_rows = list(zip(n["node_id"], n["name"]))
        if len(node_rows) != len(set(node_rows)) or set(node_rows) != endpoints:
            raise CheckFailed(f"op{i}: node table != distinct edge endpoints")
        if fingerprint((name,) for _nid, name in node_rows) != self.ref["nodes"]:
            raise CheckFailed(f"op{i}: node names differ from the reference")
        if i == 0:
            self._add_gold(Counter(zip(e["bel_expression"], e["evidence"])), self.gold_rows)

    def layers(self, ctx, results):
        st = ctx.spans.self_times()
        n = len(results)
        return {
            "graph.edges_write_s": st.get("graph.edges_write", 0.0) / n,
            "graph.nodes_s": st.get("graph.nodes", 0.0) / n,
            "pipeline.plan_s": st.get("pipeline.plan", 0.0) / n,
            "pipeline.plan_jobs": sum(self.plan) / n,
        }


def _manifest(wd: str, stage: str) -> dict:
    with open(os.path.join(wd, stage, "manifest.json"), encoding="utf-8") as f:
        return json.load(f)


def _read_table(ctx: Ctx, wd: str, stage: str):
    """A committed checkpoint table, read straight from its parquet."""
    return ctx.spark.read.parquet(os.path.join(wd, stage, _manifest(wd, stage)["data_dir"]))


class StagedBlock(Workload):
    """Checkpointed run_pipeline(extractor="block") into a fresh workdir,
    dense ids, HGNC-only lexicon (regex matcher engine). Its traced run
    also times one per-article CX2 export request."""

    name = "staged_block"
    engine = "block"
    sizes = Sizes(pages=1000, file_pages=250)
    smoke_sizes = Sizes(pages=32, file_pages=16, warm_pages=8)
    article_pages = 3  # pages per CX2 export request (about one article)

    def lexicon(self, ctx):
        return hgnc_rows(ctx.corpus.alias_rows)

    def prepare(self, ctx: Ctx) -> None:
        if AliasMatcher(self.lexicon(ctx)).engine != "regex":
            raise RuntimeError("HGNC lexicon no longer selects the regex engine")
        self.gold_rows = Counter((u, p, st) for u, p, _s, st, _ev in ctx.corpus.gold())
        self.pages = ctx.spark.read.parquet(*ctx.corpus.page_files())

    def _run(self, ctx: Ctx, workdir: str, run_id: str) -> dict:
        return run_pipeline(
            ctx.spark, self.pages, self.lexicon(ctx), workdir=workdir,
            input_token=f"seed{ctx.corpus.seed}", run_id=run_id, extractor="block",
        )

    def op(self, ctx: Ctx, i: int) -> OpResult:
        wd = os.path.join(ctx.run_dir, f"op{i}")
        g = ctx.group(f"op{i}:pipeline")
        out = ctx.spans.run("checkpoint.pipeline", g, lambda: self._run(ctx, wd, f"op{i}"))
        rows = {m["stage"]: m["rows"] for m in out["metrics"]}
        return OpResult(
            pages=ctx.corpus.sizes.pages, triples=rows.get("triples", 0),
            detail={"dir": wd, "metrics": out["metrics"]},
        )

    def check(self, ctx: Ctx, i: int, res: OpResult) -> None:
        wd, metrics = res.detail["dir"], res.detail["metrics"]
        if [m["stage"] for m in metrics] != list(CHECKPOINT_STAGES):
            raise CheckFailed(f"op{i}: stages {[m['stage'] for m in metrics]}")
        for m in metrics:
            if m["resumed"]:
                raise CheckFailed(f"op{i}: stage {m['stage']} resumed in a fresh workdir")
            manifest = _manifest(wd, m["stage"])
            committed = manifest["rows"]
            # row counts from the committed files' parquet footers
            back = ds.dataset(os.path.join(wd, m["stage"], manifest["data_dir"]),
                              format="parquet", partitioning="hive").count_rows()
            if not committed == m["rows"] == back:
                raise CheckFailed(
                    f"op{i}: {m['stage']} manifest {committed} / metrics "
                    f"{m['rows']} / read back {back}")
        if i == 0:
            t = _read_table(ctx, wd, "triples").select(
                "url", "para_idx", "bel_statement").toPandas()
            self._add_gold(Counter(zip(t["url"], t["para_idx"], t["bel_statement"])),
                           self.gold_rows)

    def layers(self, ctx, results):
        out = {}
        for stage in CHECKPOINT_STAGES:
            walls = [m["wall_ms"] / 1000 for r in results for m in r.detail["metrics"]
                     if m["stage"] == stage]
            out[f"checkpoint.{stage}_s"] = statistics.mean(walls)
        wd = results[-1].detail["dir"]
        ctx.group("resume")
        t0 = time.perf_counter()
        again = self._run(ctx, wd, "resume")
        out["checkpoint.resume_s"] = time.perf_counter() - t0
        if not all(m["resumed"] for m in again["metrics"]):
            raise CheckFailed("resumed re-run recomputed a stage")
        out.update(_time_id_strategies(ctx, _read_table(ctx, wd, "triples")))
        out.update(self._export_article(ctx))
        return out

    def _export_article(self, ctx: Ctx) -> dict[str, float]:
        """One per-article request as the reference uses the system: lazy
        run_pipeline with its defaults (full lexicon, dense ids) over a few
        pages, to_cx2, json.dumps. Checked against the single-process
        reference: every edge endpoint resolves and the edges match."""
        first = random.Random(ctx.corpus.seed).randrange(
            ctx.corpus.sizes.file_pages // self.article_pages) * self.article_pages
        urls = [f"https://corpus.test/doc/{d:012d}"
                for d in range(first, first + self.article_pages)]
        pages = ctx.spark.read.parquet(ctx.corpus.page_files()[0]).filter(F.col("url").isin(urls))
        g = ctx.group("article:plan")
        t0 = time.perf_counter()
        out = run_pipeline(ctx.spark, pages, ctx.corpus.alias_rows)
        plan_s = time.perf_counter() - t0
        plan_jobs = ctx.jobs_in(g)
        ctx.group("article:cx2")
        t0 = time.perf_counter()
        cx = to_cx2(out["nodes"], out["edges"])
        cx2_s = time.perf_counter() - t0
        json.dumps(cx)
        aspects = {k: v for a in cx for k, v in a.items()}
        nodes, edges = aspects["nodes"], aspects["edges"]
        pdf = ctx.corpus.read_pages(ctx.corpus.page_files()[:1])
        ref = edge_rows(reference_triples(pdf[pdf["url"].isin(urls)],
                                          AliasMatcher(ctx.corpus.alias_rows)))
        ids = {n["id"] for n in nodes}
        if len(ids) != len(nodes) or any(e["s"] not in ids or e["t"] not in ids for e in edges):
            raise CheckFailed("CX2 export: an edge endpoint does not resolve to one node")
        got = Counter((e["v"]["bel_expression"], e["v"]["evidence"]) for e in edges)
        if got != Counter((r[3], r[4]) for r in ref):
            raise CheckFailed("CX2 export: edges differ from the reference")
        return {"pipeline.plan_s": plan_s, "pipeline.plan_jobs": plan_jobs,
                "cx2.to_cx2_s": cx2_s, "cx2.elements": len(nodes) + len(edges)}


WORKLOADS = {w.name: w for w in (BulkCrawl, StagedBlock)}
