"""Benchmark harness — one JSON line on stdout.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. The KG pipeline runs on
the deterministic synthetic page corpus sized to the scale factor (the
driver's documents table has no planted relations, so pipeline throughput
is measured on the corpus the extraction semantics target).

Output: {"metric": "total_bench_sec", "value": N, "unit": "sec",
         "queries": {name: sec, ...}, "queries_cold": {name: sec, ...},
         "loadavg": {name: [before, after]}, "loadavg_cold": {...},
         "sf": X, "kg_triples_per_sec": ..., "kg_pages_per_sec": ...}

TWO-PASS METHODOLOGY (round 3). The whole suite runs twice in one session:

  * pass 0 ("queries_cold") — each query's FIRST evaluation, the round-1/2
    methodology, kept so per-query numbers stay comparable across rounds.
    A first call pays whole-stage-codegen compile, Python-worker spawn and
    cold page cache: one-time costs that amortize to zero on a long-lived
    cluster but are 20-100%% of a 1-3s query here, which is why round-2's
    cold-only numbers swung +/-2x run-to-run (the -12%% fused "regression"
    and the 2x mention-engine flip-flop were both this noise).
  * pass 1 ("queries", the headline; feeds "value" and the *_per_sec
    extras) — the same queries re-run warm. Steady-state plan cost, the
    number that scales to a 1000-executor job. Warm interleaved A/B at
    sf0.1 reproduces within ~5%% where cold single-shots swung 2x.

Every timed block (both passes) records [loadavg_before, loadavg_after,
busy_cores, own_cores, neighbor_cores, iowait_cores] — the last four are
EXACT /proc/stat integrals over the query's own window (machine-wide busy
cores, this process tree's cores, their difference, and iowait), so a slow
query is attributable even when the burst is shorter than the 1-min
loadavg EMA can resolve (round-2 lesson: the -12%% fused "regression" was
unattributable without this). neighbor_cores high -> neighbor-sandbox CPU;
iowait_cores high with busy low -> shared-disk stall; all low -> the plan
itself. Measured example (2026-08-18): two back-to-back runs under
neighbor load read warm fused 21s; the attributed rerun on a quiet window
read 1.65s with nbr=0.2 — the instrument, not the code, explains 12x.

NOTE on cross-round totals: the query set GROWS each round (round 2 added
minhash_pairs_det, simhash_pairs_native, ivf_index_build, ann_brute_32q,
ann_ivf_32q, eval_match_statements; round 3 adds kg_extract_fused_block,
decontam_docs, line_dedup_docs, pack_sequences, gopher_quality,
repetition_stats, kcore_graph, quantize_build, ann_quantized_32q,
ivf_sq8_build, ann_ivf_sq8_32q, pq_build, ann_brute_l2_32q, ann_pq_32q,
ivf_pq_build, ann_ivfpq_32q, and late-r3 rag_context_docs,
edge_evidence_rollup, hybrid_rrf_docs, url_normalize_dedup,
entity_resolution_parts; round 4 adds the clustered-corpus ANN rows
ann_brute_clustered_32q, ann_ivf_clustered_32q,
ann_ivf_sq8_clustered_32q, ann_brute_l2_clustered_32q,
ann_pq_clustered_32q, ann_ivfpq_clustered_32q with their
*_recall_clustered_32q extras — recall on a 32-cluster gaussian mixture
at the sf table's row count/dim, next to the isotropic floor),
so compare per-query timings across rounds, not the total — and compare
r1/r2 numbers against "queries_cold", not the warm headline.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from llm_text_to_knowledge_graph_spark import get_spark  # noqa: E402
from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, pages_df  # noqa: E402
from llm_text_to_knowledge_graph_spark.plans.pipeline import run_pipeline  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# synthetic corpus size scales with the sf dir (sf0.1 -> 3000 pages)
_SF_GUESS = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1
N_DOCS = max(200, int(30000 * _SF_GUESS))


def _loadavg() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _busy_jiffies() -> tuple[int, int, int]:
    """Machine-wide (non-idle, iowait, steal) jiffies. Non-idle is
    user+nice+system+irq+softirq+steal; iowait is separate — a query that
    is slow while busy_cores is low and iowait_cores is high stalled on
    the shared disk (neighbor I/O pressure), not on CPU. Steal (field 8)
    is the hypervisor channel: on this Firecracker microVM it is the ONLY
    way neighbor-sandbox CPU can appear inside a timed window, so it is
    the starvation signal (the r4 scaling work showed loadavg-vs-busy
    comparisons misfire — the 1-min EMA carries the bench's own earlier
    queries into short windows)."""
    with open("/proc/stat") as f:
        p = f.readline().split()[1:]
    return sum(int(x) for x in p[:3] + p[5:8]), int(p[4]), int(p[7])


def _tree_jiffies() -> int:
    """utime+stime jiffies of THIS process and every live descendant (the
    driver JVM and its pooled Python workers are all descendants). Dead
    children are credited via the reaped-children counters (cutime/cstime)
    of their live ancestors, so short-lived workers aren't lost."""
    me = os.getpid()
    children: dict[int, list[int]] = {}
    stats: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid, ppid = int(d), int(parts[1])
        # fields after comm/state: utime=11, stime=12, cutime=13, cstime=14
        stats[pid] = int(parts[11]) + int(parts[12]) + int(parts[13]) + int(parts[14])
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [me]
    while stack:
        p = stack.pop()
        total += stats.get(p, 0)
        stack.extend(children.get(p, []))
    return total


def main() -> int:
    from pyspark import StorageLevel

    from llm_text_to_knowledge_graph_spark.operators.fused import (
        extract_fused,
        extract_triples_fused,
    )

    spark = get_spark(
        "kg-bench", master=f"local[{CPUS}]", shuffle_partitions=max(CPUS, 16)
    )
    cold_timings: dict[str, float] = {}
    cold_loads: dict[str, list] = {}
    warm_timings: dict[str, float] = {}
    warm_loads: dict[str, list] = {}
    extras: dict[str, float] = {}

    # pass-local recording targets; rebound between the cold and warm pass
    timings = cold_timings
    loads = cold_loads

    def timed(name: str, thunk):
        la0 = _loadavg()
        (b0, w0, s0), o0 = _busy_jiffies(), _tree_jiffies()
        t0 = time.monotonic()
        out = thunk()
        dt = time.monotonic() - t0
        b1, w1, s1 = _busy_jiffies()
        busy = (b1 - b0) / _CLK_TCK / max(dt, 1e-9)
        iow = (w1 - w0) / _CLK_TCK / max(dt, 1e-9)
        steal = (s1 - s0) / _CLK_TCK / max(dt, 1e-9)
        own = (_tree_jiffies() - o0) / _CLK_TCK / max(dt, 1e-9)
        timings[name] = round(dt, 3)
        # [load_before, load_after, busy_cores, own_cores, neighbor_cores,
        # iowait_cores, steal_cores]: busy/own/iowait/steal integrate
        # EXACTLY over this query's window (vs the 1-min loadavg EMA), so a
        # slow query is attributable: steal -> hypervisor-level neighbor
        # pressure (the only neighbor channel on this microVM); busy - own
        # -> CPU of OUR other processes; high iowait with low busy ->
        # shared-disk stall. (Negative own can appear when a pooled Python
        # worker dies mid-window and its jiffies leave the tree — treat as 0.)
        loads[name] = [
            la0,
            _loadavg(),
            round(busy, 2),
            round(own, 2),
            round(max(0.0, busy - own), 2),
            round(iow, 2),
            round(steal, 2),
        ]
        return out, dt

    # --- warmup (untimed): spin up Python workers for every UDF eval node ---
    # cold-start of the Arrow worker pool costs tens of seconds on a fresh
    # JVM and amortizes to zero at scale; the bench measures steady state.
    alias_rows = build_alias_rows()
    wpages = pages_df(spark, 40, seed=1, partitions=8)
    run_pipeline(spark, wpages, alias_rows)["edges"].count()
    extract_triples_fused(wpages, alias_rows).count()
    extract_fused(wpages, alias_rows, engine="block").count()

    pages = pages_df(spark, N_DOCS, seed=42, partitions=CPUS * 2)

    def run_suite():
        # --- headline 1a: fused extraction (one Python crossing) ------------
        n_triples, dt = timed(
            "kg_extract_fused", lambda: extract_triples_fused(pages, alias_rows).count()
        )
        extras["kg_fused_triples_per_sec"] = round(n_triples / dt, 1)
        extras["kg_fused_pages_per_sec"] = round(N_DOCS / dt, 1)

        # --- headline 1a': fused EXTENDED block engine (pages -> triples, one
        # Python crossing over whole paragraphs) — the engine that earns the
        # real-gold recall; benched against the sentence engine above so the
        # default choice is evidence-based (VERDICT r2 #2)
        n_triples_b, dt = timed(
            "kg_extract_fused_block",
            lambda: extract_fused(pages, alias_rows, engine="block").count(),
        )
        extras["kg_fused_block_triples_per_sec"] = round(n_triples_b / dt, 1)
        extras["kg_fused_block_pages_per_sec"] = round(N_DOCS / dt, 1)

        # --- headline 1b: modular five-stage pipeline ----------------------------
        # the triples are cached here and released after the last row that
        # reuses this run (eval_match_statements); the edges are built from
        # them, so they read the cache too
        def _pipeline():
            res = run_pipeline(spark, pages, alias_rows)
            res["triples"].persist(StorageLevel.MEMORY_AND_DISK)
            return res, res["triples"].count()

        (res, n_triples), dt = timed("kg_pipeline", _pipeline)
        extras["kg_triples_per_sec"] = round(n_triples / dt, 1)
        extras["kg_pages_per_sec"] = round(N_DOCS / dt, 1)
        extras["kg_triples"] = n_triples

        # --- headline 2: graph materialization (nodes+edges) --------------------
        n_edges, _ = timed("kg_graph_materialize", lambda: res["edges"].count())
        extras["kg_edges"] = n_edges

        # --- headline 2b: hash-id (content-addressed) graph build — the 100TB
        # scale path: join-free edges + one-distinct nodes over cached triples
        from llm_text_to_knowledge_graph_spark.operators.graph import (
            build_edges,
            build_nodes,
        )

        def _hash_graph():
            n = build_edges(res["triples"]).count()
            build_nodes(res["triples"]).count()
            return n

        n_edges_h, _ = timed("kg_graph_hash", _hash_graph)
        assert n_edges_h == n_edges

        # --- oracle-contract queries over the sf dir -----------------------------
        qs = entrymod.queries()
        bench_queries = [
            "q1_pricing",
            "top_customers",
            "edge_materialization",
            "jaccard_pairs",
            "dedup_exact",
            "token_count",
            "quality_score",
            "lang_id",
            "embedding_topk",
            "ivf_ann_topk",
            "mention_counts",
            "mention_counts_native",
            "connected_components_graph",
            "minhash_pairs",
            "minhash_pairs_det",
            "simhash_pairs",
            "simhash_pairs_native",
            # round 3: curation family (decontamination explodes grams on
            # the corpus side; line dedup is the two-shuffle skew case;
            # packing is the one sequential applyInPandas)
            "decontam_docs",
            "line_dedup_docs",
            "pack_sequences",
            "gopher_quality",
            "repetition_stats",
            # round 3 cont.: model-based quality (LM scoring = explode +
            # 2 broadcast joins + one partial-agg groupBy; classifier =
            # map-only frozen-weight sigmoid) and the Bloom frontier probe
            "lm_perplexity_docs",
            "quality_model_score",
            "bloom_seen_urls",
            # winnowed repeated-substring scan: the char-gram explode is the
            # heaviest map stage in the suite; winnowing keeps the shuffle
            # at ~1/8 of it
            "dup_substring_winnowed",
            # round 3 cont.: constant-state sketches (HLL registers /
            # Count-Min cells never outgrow their fixed layout — the
            # distinct/frequency plan at trillion-key scale) and
            # degree-oriented triangle counting (hubs as wedge sinks)
            "hll_partkey_distinct",
            "cms_token_hitters",
            "triangle_counts",
            # BM25 (vocabulary-pruned explode + broadcast stats) and the
            # histogram-quantile sketch (two partial-aggs, nbins state)
            "bm25_topical_docs",
            "doclen_quantiles",
            # DSIR importance weights: one corpus explode + 4 broadcast
            # joins (two sample-trained LMs) + one partial-agg groupBy
            "dsir_weights",
            # Adamic-Adar link prediction: wedge join + open-pair anti-join
            "link_prediction_pairs",
            # SemDeDup: map-only cell assignment + within-cell self-join
            "semdedup_embeddings",
            # k-core peel: ~10 shrinking degree-agg + anti-join rounds —
            # the iterative-graph cost profile alongside CC/pagerank
            "kcore_graph",
            # GraphRAG composite: 3 PPR rounds over the entity graph +
            # broadcast top-entity mass fold + vocabulary-pruned BM25 —
            # the consumption-layer query shape (graph x lexical)
            "rag_context_docs",
            # round 3 cont. 9: KG-quality rollups (single-shuffle partial
            # aggs on the edge identity), hybrid RRF fusion (top-k-sized
            # inputs), map-only URL canonicalization + its dedup groupBy,
            # and alias-clustering entity resolution (shingle inverted
            # index + CC loop over the entity-sized surface-form table)
            "edge_evidence_rollup",
            "hybrid_rrf_docs",
            "url_normalize_dedup",
            "entity_resolution_parts",
        ]
        for name in bench_queries:
            # count() forces full evaluation without driver-side collect
            timed(name, lambda name=name: qs[name](spark, SF_DIR).count())

        # --- ANN in its amortized regime: index built once (kmeans), then a
        # 32-query batch over the cached index vs brute force over the same
        # batch. One-shot IVF (ivf_ann_topk above) pays K cosines per corpus
        # vector at index-build time and only wins when |queries| > K; the
        # prebuilt index is the 100TB shape (corpus written partitioned by
        # cell, probed many times).
        from llm_text_to_knowledge_graph_spark.operators.similarity import (
            brute_force_topk,
            ivf_index,
            ivf_topk_indexed,
        )

        # K=8, nprobe=4: the sf embeddings table is ISOTROPIC (same-label mean
        # cosine 0.03), so IVF recall there is scan-fraction-bound for any
        # quantizer — 4/8 cells ~ 0.75 recall at half the scan. On genuinely
        # clustered data the same index reaches >=0.9 recall at a 25% scan
        # (pinned in tests/test_ivf.py).
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        qids = list(range(32))

        def _build_index():
            corpus, cents = ivf_index(emb, n_centroids=8, method="kmeans")
            corpus = corpus.persist()
            corpus.count()
            return corpus, cents

        (corpus, cents), _ = timed("ivf_index_build", _build_index)

        # production build variant: quantizer FIT on a deterministic 25%
        # hash-sample (FAISS-style bounded training set — K centroids need
        # O(K) statistics, not the corpus; at 10^12 vectors the full-corpus
        # fit is k-means|| passes over the whole table per iteration). The
        # assignment pass still covers every vector; recall recorded below
        # so the trade is visible per-run.
        def _build_index_sampled():
            c2, k2 = ivf_index(
                emb, n_centroids=8, method="kmeans", fit_sample=0.25
            )
            c2 = c2.persist()
            c2.count()
            return c2, k2

        (corpus_s, cents_s), _ = timed("ivf_index_build_sampled", _build_index_sampled)
        ex, _ = timed(
            "ann_brute_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in brute_force_topk(emb, qids, k=10).collect()
            },
        )
        ap, _ = timed(
            "ann_ivf_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in ivf_topk_indexed(corpus, cents, qids, k=10, nprobe=4).collect()
            },
        )
        extras["ivf_recall_32q"] = round(len(ex & ap) / max(len(ex), 1), 4)
        ap_s, _ = timed(
            "ann_ivf_sampled_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in ivf_topk_indexed(
                    corpus_s, cents_s, qids, k=10, nprobe=4
                ).collect()
            },
        )
        extras["ivf_recall_sampled_32q"] = round(len(ex & ap_s) / max(len(ex), 1), 4)
        corpus_s.unpersist()

        # --- int8-quantized exact scan over the same 32-query batch: the
        # storage-tier plan (4x fewer bytes at rest AND through the scan;
        # integer multiply-adds in the distance). Build is one map-only pass,
        # timed like ivf_index_build; recall vs float32 recorded per-run.
        from llm_text_to_knowledge_graph_spark.operators.similarity import (
            quantize_int8,
            quantized_topk,
        )

        def _build_quant():
            qt = quantize_int8(emb).persist()
            qt.count()
            return qt

        qt, _ = timed("quantize_build", _build_quant)
        aq, _ = timed(
            "ann_quantized_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in quantized_topk(qt, qids, k=10).collect()
            },
        )
        extras["quantized_recall_32q"] = round(len(ex & aq) / max(len(ex), 1), 4)
        qt.unpersist()

        # --- IVF-SQ8: the composed plan (cell pruning x int8 scan) over the
        # same 32-query batch — the actual 100-TB ANN shape. Reads the
        # still-persisted float index; the quantize pass carries `cell`
        # through, so the build adds one map-only projection.
        from llm_text_to_knowledge_graph_spark.operators.similarity import (
            ivf_topk_quantized,
        )

        def _build_ivf_sq8():
            cq = quantize_int8(corpus, extra_cols=("cell",)).persist()
            cq.count()
            return cq

        cq, _ = timed("ivf_sq8_build", _build_ivf_sq8)
        asq, _ = timed(
            "ann_ivf_sq8_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in ivf_topk_quantized(
                    cq, cents, qids, k=10, nprobe=4
                ).collect()
            },
        )
        extras["ivf_sq8_recall_32q"] = round(len(ex & asq) / max(len(ex), 1), 4)
        cq.unpersist()
        corpus.unpersist()

        # --- PQ/ADC over the same 32-query batch: 8-byte codes (32x at
        # rest), codebooks FIT on a deterministic 25% sample (same bounded
        # fit as ivf_index_build_sampled), search = codes-only LUT scan +
        # exact re-rank of the Q*R shortlist (FAISS IndexRefineFlat shape).
        # Recall is scored against exact L2 (PQ's metric), not cosine.
        from llm_text_to_knowledge_graph_spark.operators.similarity import (
            brute_force_l2_topk,
            pq_codebooks,
            pq_encode,
            pq_topk,
        )

        def _build_pq():
            books = pq_codebooks(
                emb, m=8, ksub=16, method="kmeans", fit_sample=0.25
            )
            pc = pq_encode(emb, books).persist()
            pc.count()
            return books, pc

        (books, pcodes), _ = timed("pq_build", _build_pq)
        exl2, _ = timed(
            "ann_brute_l2_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in brute_force_l2_topk(emb, qids, k=10).collect()
            },
        )
        apq, _ = timed(
            "ann_pq_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in pq_topk(
                    pcodes, books, emb, qids, k=10, rerank=300
                ).collect()
            },
        )
        extras["pq_recall_32q"] = round(len(exl2 & apq) / max(len(exl2), 1), 4)
        pcodes.unpersist()

        # --- IVF-PQ composed: L2 cells prune the scan AND the payload is
        # 8-byte residual codes — the billion-scale shape. Same 32 queries,
        # nprobe=8/16 cells, rerank=300 exact tail; recall vs exact L2.
        # The isotropic sf table is PQ's worst case (no cluster structure,
        # near-tied top-10 distance gaps below 32-bit code resolution), so
        # recall here is shortlist-fraction-bound by construction — the
        # >=0.9 capability is pinned on clustered data in tests/test_ivfpq.
        from llm_text_to_knowledge_graph_spark.operators.similarity import (
            ivf_pq_index,
            ivf_pq_topk,
        )

        def _build_ivf_pq():
            cd, ce, bk = ivf_pq_index(
                emb, n_cells=16, m=8, ksub=16, method="kmeans",
                fit_sample=0.25,
            )
            cd = cd.persist()
            cd.count()
            return cd, ce, bk

        (ipq_codes, ipq_cents, ipq_books), _ = timed(
            "ivf_pq_build", _build_ivf_pq
        )
        aipq, _ = timed(
            "ann_ivfpq_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in ivf_pq_topk(
                    ipq_codes, ipq_cents, ipq_books, emb, qids,
                    k=10, nprobe=8, rerank=300,
                ).collect()
            },
        )
        extras["ivfpq_recall_32q"] = round(
            len(exl2 & aipq) / max(len(exl2), 1), 4
        )
        ipq_codes.unpersist()

        # --- CLUSTERED-corpus ANN rows (VERDICT r3 #6): the sf table is
        # isotropic by construction (same-label mean cosine 0.03), which is
        # every quantizer's worst case — recall there is scan-fraction-bound
        # for ANY index. Production embedding tables are clustered by topic,
        # so BENCH also reports each family's recall on a deterministic
        # 32-cluster gaussian mixture at the SAME row count and dim as the
        # sf table. These are the numbers a real deployment would see; the
        # isotropic rows above stay as the adversarial floor.
        import numpy as _np

        _dim = len(emb.select("embedding").first()[0])
        _n = int(emb.count())
        _rng = _np.random.RandomState(20240819)
        _centers = _rng.randn(32, _dim) * 4.0
        _mat = _centers[_np.arange(_n) % 32] + _rng.randn(_n, _dim) * 0.5
        cemb = spark.createDataFrame(
            [(i, [float(x) for x in _mat[i]]) for i in range(_n)],
            "vec_id long, embedding array<double>",
        ).persist()
        cemb.count()

        exc, _ = timed(
            "ann_brute_clustered_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in brute_force_topk(cemb, qids, k=10).collect()
            },
        )
        c_corpus, c_cents = ivf_index(cemb, n_centroids=8, method="kmeans")
        c_corpus = c_corpus.persist()
        c_corpus.count()
        apc, _ = timed(
            "ann_ivf_clustered_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in ivf_topk_indexed(
                    c_corpus, c_cents, qids, k=10, nprobe=4
                ).collect()
            },
        )
        extras["ivf_recall_clustered_32q"] = round(
            len(exc & apc) / max(len(exc), 1), 4
        )
        ccq = quantize_int8(c_corpus, extra_cols=("cell",)).persist()
        ccq.count()
        asqc, _ = timed(
            "ann_ivf_sq8_clustered_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in ivf_topk_quantized(
                    ccq, c_cents, qids, k=10, nprobe=4
                ).collect()
            },
        )
        extras["ivf_sq8_recall_clustered_32q"] = round(
            len(exc & asqc) / max(len(exc), 1), 4
        )
        ccq.unpersist()
        c_corpus.unpersist()

        exl2c, _ = timed(
            "ann_brute_l2_clustered_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in brute_force_l2_topk(cemb, qids, k=10).collect()
            },
        )
        c_books = pq_codebooks(cemb, m=8, ksub=16, method="kmeans",
                               fit_sample=0.25)
        c_pcodes = pq_encode(cemb, c_books).persist()
        c_pcodes.count()
        apqc, _ = timed(
            "ann_pq_clustered_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in pq_topk(
                    c_pcodes, c_books, cemb, qids, k=10, rerank=300
                ).collect()
            },
        )
        extras["pq_recall_clustered_32q"] = round(
            len(exl2c & apqc) / max(len(exl2c), 1), 4
        )
        c_pcodes.unpersist()

        ci_codes, ci_cents, ci_books = ivf_pq_index(
            cemb, n_cells=16, m=8, ksub=16, method="kmeans", fit_sample=0.25
        )
        ci_codes = ci_codes.persist()
        ci_codes.count()
        aipqc, _ = timed(
            "ann_ivfpq_clustered_32q",
            lambda: {
                (r["query_id"], r["neighbor_id"])
                for r in ivf_pq_topk(
                    ci_codes, ci_cents, ci_books, cemb, qids,
                    k=10, nprobe=8, rerank=300,
                ).collect()
            },
        )
        extras["ivfpq_recall_clustered_32q"] = round(
            len(exl2c & aipqc) / max(len(exl2c), 1), 4
        )
        ci_codes.unpersist()
        cemb.unpersist()

        # --- eval harness at bench scale: grouped bipartite matching (E4) over
        # the synthetic pipeline's predictions vs planted gold. Shuffle key is
        # (url, evidence): group sizes are bounded by statements-per-sentence
        # (small, near-uniform), so no skew handling is needed here — see
        # PLANS.md §eval for the 10^9-statement shuffle note.
        from llm_text_to_knowledge_graph_spark.corpus import gold_df
        from llm_text_to_knowledge_graph_spark.eval.spark_eval import match_statements

        pred = res["triples"].select("url", "evidence", "bel_statement")
        gold = gold_df(spark, N_DOCS, seed=42).select("url", "evidence", "bel_statement")
        n_match, _ = timed(
            "eval_match_statements", lambda: match_statements(pred, gold).count()
        )
        extras["eval_match_rows"] = n_match
        res["triples"].unpersist()

    # pass 0: cold (first evaluation of every plan — the r1/r2 numbers)
    run_suite()
    # drop every cache entry the cold pass left behind: Spark's CacheManager
    # dedupes by canonicalized plan, so without this the warm pass's
    # identical plans would silently READ the cold pass's persisted results
    # instead of re-executing them.
    spark.catalog.clearCache()
    # pass 1: warm (codegen compiled, workers pooled, page cache hot) — the
    # steady-state numbers; extras (*_per_sec) overwrite with warm values.
    timings = warm_timings
    loads = warm_loads
    run_suite()

    # charset-decode default (r5 decision): auto sniffing is the crawl-path
    # default; this row is the measured cost vs the reference's blind utf-8
    # decode on the same warm pages (positive pct = auto slower). Expected
    # ~flat-to-6% of the PARAGRAPHS stage only — the strict-decode fast
    # path. Timed OUTSIDE warm_timings: these are informational A/B rows,
    # not suite queries — adding them to the total would bias
    # total_bench_sec against every pre-r5 round's capture.
    from llm_text_to_knowledge_graph_spark.operators.paragraphs import (
        extract_paragraphs,
    )

    # alternating 2x2 with best-per-mode: a single ordered pair puts all
    # the first-evaluation warmup cost on whichever mode runs first and
    # read as a fake 12% overhead on an A/B that is actually flat
    dts = {"auto": [], "utf-8": []}
    for mode in ("auto", "utf-8", "utf-8", "auto"):
        t0 = time.monotonic()
        extract_paragraphs(pages, charset=mode).count()
        dts[mode].append(time.monotonic() - t0)
    extras["charset_auto_sec"] = round(min(dts["auto"]), 3)
    extras["charset_utf8_sec"] = round(min(dts["utf-8"]), 3)
    extras["charset_auto_overhead_pct"] = round(
        100.0 * (min(dts["auto"]) - min(dts["utf-8"]))
        / max(min(dts["utf-8"]), 1e-9), 1
    )

    # Starvation flags (purely load-based, pre-registered): this sandbox is
    # a VM whose host sometimes starves it — observed signature is loadavg
    # >> machine-busy-cores (runnable tasks pile up while almost no jiffies
    # retire; steal accounting does NOT capture it here). A query timed in
    # such a window measures the host, not the plan: flag it when the
    # window's MIN loadavg exceeds its measured busy_cores by > 4 cores.
    # min, not max: genuine starvation holds loadavg high at BOTH edges of
    # the window (measured 2026-08-18: mention_counts warm 16.3s at
    # loadavg 12.7->10.1 / busy 1.4 vs 1.6s on a quiet window), while a
    # decaying 1-min EMA from our own just-finished heavy query inflates
    # only the leading edge and must not flag the sub-second queries after
    # it.
    def _noisy(loadrec: dict[str, list]) -> list[str]:
        # steal is the starvation signal (see _busy_jiffies). The old
        # loadavg-minus-busy rule flagged ~half the suite on a QUIET box:
        # the 1-min EMA carries the bench's own earlier heavy queries
        # into the next short query's window, so "load >> busy" mostly
        # measured the bench's own history, not starvation. Records with
        # 7 fields use steal; legacy 6-field records keep the old rule.
        return sorted(
            n for n, la in loadrec.items()
            if (la[6] > 1.0 if len(la) >= 7
                else len(la) >= 6 and min(la[0], la[1]) - la[2] > 4.0)
        )

    total = round(sum(warm_timings.values()), 3)
    starved_warm = _noisy(warm_loads)
    # Validity bit, TOP-LEVEL so a contended official capture can never
    # masquerade as a regression (round-4 lesson: the driver's capture
    # ran at loadavg 18-26 and recorded a 17x-low fused headline with
    # the evidence buried in starved_queries). headline_valid=False
    # means the headline throughput numbers in THIS file measured the
    # host, not the plan — cross-round comparisons must use the most
    # recent BENCH/last_run.json with headline_valid=True instead.
    # Explicit set, NOT a kg_ prefix match: the informational charset
    # A/B rows are kg_-prefixed but not headlines.
    _HEADLINES = {
        "kg_extract_fused", "kg_extract_fused_block", "kg_pipeline",
        "kg_graph_materialize", "kg_graph_hash",
    }
    headline_valid = not (_HEADLINES & set(starved_warm))
    out = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "headline_valid": headline_valid,
        "queries": warm_timings,
        "queries_cold": cold_timings,
        "total_cold_sec": round(sum(cold_timings.values()), 3),
        "loadavg": warm_loads,
        "loadavg_cold": cold_loads,
        "starved_queries": starved_warm,
        "starved_queries_cold": _noisy(cold_loads),
        "sf": _SF_GUESS,
        **extras,
    }
    print(json.dumps(out))
    # Persist the COMPLETE record in-repo: the driver's BENCH_r{N}.json
    # capture truncates stdout to a ~2,000-char tail, which dropped the
    # per-query dicts from the round-3 official record. This file is the
    # durable copy cross-round comparisons read.
    try:
        os.makedirs(os.path.join(os.path.dirname(__file__), "BENCH"),
                    exist_ok=True)
        with open(
            os.path.join(os.path.dirname(__file__), "BENCH", "last_run.json"),
            "w",
        ) as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # a read-only checkout must not fail the bench
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
