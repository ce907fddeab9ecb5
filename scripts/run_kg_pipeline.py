"""Drive the KG pipeline end-to-end from the public package surface.

Usage (local or cluster):
  spark-submit --py-files kgspark.zip scripts/run_kg_pipeline.py \
      --n-docs 200 --workdir /tmp/kg_run

Generates the deterministic synthetic page corpus, runs the full pipeline
(with per-stage checkpoint snapshots when --workdir is given), and prints
stage row-counts plus sample nodes/edges.
"""

import argparse
import json
import sys
import time

from llm_text_to_knowledge_graph_spark import get_spark
from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, pages_df
from llm_text_to_knowledge_graph_spark.plans.pipeline import run_pipeline


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=200)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--workdir", default=None)
    ap.add_argument(
        "--extractor",
        choices=["sentence", "block"],
        default="sentence",
        help="C2 engine: per-sentence exact-phrase (default) or the extended "
        "paragraph-level pattern engine (coordination/passives/"
        "nominalizations/synergy; fused C1+C2 crossing)",
    )
    ap.add_argument("--explain", action="store_true")
    args = ap.parse_args()

    spark = get_spark("kg-pipeline-run")
    t0 = time.monotonic()
    pages = pages_df(spark, args.n_docs, seed=args.seed)
    result = run_pipeline(
        spark,
        pages,
        build_alias_rows(args.seed),
        workdir=args.workdir,
        input_token=f"synthetic-{args.seed}-{args.n_docs}",
        run_id=f"run-{int(t0)}",
        extractor=args.extractor,
    )

    if result["metrics"]:
        # checkpointed: every stage's manifest already carries its row count
        counts = {m["stage"]: m["rows"] for m in result["metrics"]}
    else:
        counts = {
            name: result[name].count()
            for name in ("paragraphs", "sentences", "statements", "triples", "nodes", "edges")
        }
    wall = time.monotonic() - t0

    print("== stage row counts ==")
    print(json.dumps(counts, indent=1))
    print(f"== wall: {wall:.1f}s  triples/sec: {counts['triples']/wall:.1f} ==")
    if result["metrics"]:
        print("== stage metrics (resumed?) ==")
        for m in result["metrics"]:
            print(f"  {m['stage']:<14} rows={m['rows']:<8} wall_ms={m['wall_ms']:<8} resumed={m['resumed']}")
    print("== sample edges ==")
    result["edges"].show(5, truncate=80)
    print("== sample nodes ==")
    result["nodes"].show(5, truncate=60)
    if args.explain:
        result["triples"].explain("formatted")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
