"""Profile the extraction kernel WITHOUT Spark.

The kernel's per-document body (``operators.fused.extract_document``:
html -> paragraphs -> sentences | block -> mentions -> statements ->
parts) is pure Python; Spark only schedules it. Profiling it driver-side
over a synthetic page sample therefore shows the exact per-function cost
structure the executors see, with zero scheduler noise. Run:

    python scripts/profile_fused.py [n_docs] [engine]

engine: sentence (default) | block
"""

import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    engine = sys.argv[2] if len(sys.argv) > 2 else "sentence"

    # Generate pages without a SparkSession: corpus.py's row synthesis is
    # pure; reuse its per-doc builder directly.
    from llm_text_to_knowledge_graph_spark.corpus import (
        build_alias_rows,
        build_entities,
        gen_doc,
    )

    entities = build_entities(seed=42)
    alias_rows = build_alias_rows(seed=42)
    rows = [
        r
        for i in range(n_docs)
        for r in [gen_doc(42, i, entities)]
        if r["lang"] == "en"
    ]

    from llm_text_to_knowledge_graph_spark.operators.fused import extract_document
    from llm_text_to_knowledge_graph_spark.operators.mentions import AliasMatcher

    matcher = AliasMatcher(alias_rows)
    n_triples = 0

    def work() -> None:
        # the triples shape of operators.fused.extract_fused, minus the
        # pandas frame: the rows it would ship are the full-part results
        nonlocal n_triples
        for r in rows:
            for _pi, _para, _sents, results in extract_document(
                r["html"], r["text"], matcher, engine, sentences=False
            ):
                n_triples += sum(1 for x in results if x[1] and x[2] and x[3])

    t0 = time.perf_counter()
    prof = cProfile.Profile()
    prof.enable()
    work()
    prof.disable()
    wall = time.perf_counter() - t0

    buf = io.StringIO()
    stats = pstats.Stats(prof, stream=buf)
    stats.sort_stats("cumulative").print_stats(30)
    print(buf.getvalue())
    print(
        f"engine={engine} matcher={matcher.engine} "
        f"docs={n_docs} triples={n_triples} wall={wall:.2f}s "
        f"({n_triples / wall:.0f} triples/s single-core)"
    )


if __name__ == "__main__":
    main()
