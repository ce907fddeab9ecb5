#!/usr/bin/env python3
"""Layered KG-construction benchmark.

    python3 perfbench/run.py --workload bulk_crawl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json):

  bulk_crawl    parquet pages -> fused extraction -> hash-id edges ->
                nodes_from_edges, parquet sinks, full synthetic lexicon
  staged_block  checkpointed run_pipeline(extractor="block"), dense ids,
                HGNC-only lexicon, fresh workdir per operation; its traced
                run adds one per-article lazy run_pipeline -> to_cx2 request

One run: materialise the seeded corpus (cached per seed and size, outside
every timed window), start Spark on local[<half the cpus>] (set-up, done
several times, median reported), then run operations back to back until
--seconds of operation time is measured after the workload's cold
operations. Every operation's output is checked against a single-process
reference after its window closes; a failed check counts in ``failed``.
With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 a traced run follows the same operations with Spark's event log
on, the benchmark's own traced per-page loop and per-layer extras, and
carries the per-layer metrics. --smoke uses tiny inputs and also checks
the written corpus against corpus.pages_df / corpus.gold_df. A full
per-run report (spans, host attribution, probes, every metric) is written
under .bench_work/reports.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = "llm_text_to_knowledge_graph_spark"

SETUPS = 3  # session starts per run; setup_s is their median

END_TO_END = {
    "setup_s": "s",
    "pages_per_cpu_s": "pages/cpu-s",
    "triples_per_cpu_s": "triples/cpu-s",
    "peak_pss_mb": "MB",
    "gold_recall": "ratio",
    "gold_precision": "ratio",
}

PER_LAYER = [
    "textnorm.decode_s", "html_extract.paragraphs_s", "html_extract.paragraphs",
    "html_extract.split_s", "html_extract.sentences",
    "mentions.build_s", "mentions.builds", "mentions.find_s", "mentions.mentions",
    "mentions.hit_ratio",
    "statements.extract_s", "statements.statements", "statements.yield_ratio",
    "extraction.block_s", "bel.split_s",
    "fused.stage_s", "fused.task_s", "fused.python_s", "fused.glue_s", "fused.crossing_s",
    "fused.worker_s",
    "graph.edges_write_s", "graph.nodes_s", "graph.shuffle_bytes",
    "ids.dense_s", "ids.hash_s",
    *(f"checkpoint.{s}_s" for s in (
        "paragraphs", "sentences", "mentions", "flat_mentions",
        "statements_block", "triples", "nodes", "edges", "resume")),
    "pipeline.plan_s", "pipeline.plan_jobs",
    "cx2.to_cx2_s", "cx2.elements",
    "spark.task_s", "spark.gc_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "host.py_probe_s", "host.jvm_probe_s", "host.steal_cores", "host.own_cores",
    "trace.overhead_frac", "trace.coverage_frac",
    "op.wall_s", "op.pages_per_s",
]


def layer_unit(name: str) -> str:
    for suffix, unit in (("pages_per_s", "pages/s"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_frac", "ratio"), ("_ratio", "ratio"), ("_cores", "cores")):
        if name.endswith(suffix):
            return unit
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one operation")
    return ap.parse_args(argv)


def prepare_env(cpus: int) -> None:
    """Workers must import the package and these modules; keep every
    scratch file of Spark, the JVM and Python inside the checkout."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the spark-submit launcher JVM takes its options from here
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    )


def start_session(cpus: int, extra: dict):
    from llm_text_to_knowledge_graph_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the whole heap is committed and touched at launch, so peak memory
        # does not follow the collector's heap sizing from run to run
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
            " -Xms2g -XX:+AlwaysPreTouch",
        **extra,
    }
    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all(spark) -> None:
    """Stop Spark, close the JVM gateway and wait for every descendant."""
    from pyspark import SparkContext

    from host import descendants, reap_tree

    pids = descendants()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - reap_tree kills what is left
            pass
    reap_tree(pids)


def traced_loop(wl, ctx):
    """The shadow per-page loop, traced and untraced, over the workload's
    pages: per-layer self times of the traced job, and each traced task's
    UDF start time (epoch ms) by task id."""
    from tracing import run_loop

    args = (ctx.spark, wl.pages, wl.lexicon(ctx), wl.engine)
    # untraced, traced, untraced: the first pass only warms the workers for
    # this loop, the overhead compares the last two
    run_loop(*args, False, "warm")
    traced, c, starts = run_loop(*args, True, "trace")
    plain = run_loop(*args, False, "plain")[0]
    s = {k: v / 1e9 for k, v in c.items() if k.endswith("_ns")}
    layer = s["para_ns"] + s["split_ns"] + s["find_ns"] + s["extract_ns"] \
        + s["block_ns"] + s["bel_ns"]
    return {
        "textnorm.decode_s": s["decode_ns"],
        "html_extract.paragraphs_s": s["para_ns"] - s["decode_ns"],
        "html_extract.paragraphs": c["paras"],
        "html_extract.split_s": s["split_ns"],
        "html_extract.sentences": c["sentences"],
        "mentions.build_s": s["build_ns"],
        "mentions.builds": c["builds"],
        "mentions.find_s": s["find_ns"],
        "mentions.mentions": c["mentions"],
        "mentions.hit_ratio": c["hit"] / max(c["sentences"], 1),
        "statements.extract_s": s["extract_ns"],
        "statements.statements": c["statements"],
        "statements.yield_ratio": c["statements"] / max(c["multi"], 1),
        "extraction.block_s": s["block_ns"],
        "bel.split_s": s["bel_ns"],
        "fused.stage_s": traced,
        "fused.python_s": s["loop_ns"] + s["build_ns"],
        "fused.glue_s": s["loop_ns"] - layer,
        "fused.crossing_s": s["in_ns"] + s["frame_ns"] + s["out_ns"],
        "trace.overhead_frac": traced / plain - 1,
    }, starts


def summary(attempted: int, failures: list, metrics: dict) -> dict:
    return {"correct": not failures, "attempted": attempted,
            "failed": len(failures), "metrics": metrics}


def run(args) -> tuple[dict, dict]:
    import host
    import workloads as W
    from inputs import Corpus
    from tracing import Spans, eventlog_conf, read_eventlog, sum_groups

    t_launch = time.perf_counter()
    cpus = host.spark_cores()
    wl = W.WORKLOADS[args.workload]()
    sizes = wl.smoke_sizes if args.smoke else wl.sizes
    corpus = Corpus(WORK, args.seed, sizes)
    tag = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", tag)
    log_dir = os.path.join(run_dir, "eventlog")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    report: dict = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
                    "cpus": cpus, "smoke": args.smoke}
    spark = ctx = None
    try:
        # corpus generation is the benchmark's, not set-up
        report["corpus_gen_s"] = corpus.materialise(host.cpu_count(), cpus)
        # -- set-up: session start + warm-up job, SETUPS times -------------
        setups = []
        for k in range(SETUPS):
            extra = eventlog_conf(log_dir) if args.trace and k == SETUPS - 1 else {}
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(cpus, extra)
            t_session = time.perf_counter() - t0
            if k == 0 and args.smoke:
                corpus.check_generator(spark)
            ctx = W.Ctx(spark, corpus, run_dir, Spans())
            t0 = time.perf_counter()
            W.warm_up(ctx, k)
            setups.append(t_session + time.perf_counter() - t0)
        report["setups_s"] = setups

        t0 = time.perf_counter()
        wl.prepare(ctx)
        report["prepare_s"] = time.perf_counter() - t0
        probes = {"host.py_probe_s": host.py_probe(), "host.jvm_probe_s": host.jvm_probe(spark)}

        # -- timed window: operations back to back ---------------------------
        meter = host.WindowMeter()
        results, walls, failures = [], [], []
        attempted = 0
        try:
            while (sum(walls[wl.cold_ops:]) < args.seconds or len(walls) < wl.min_ops) and not (
                args.smoke and attempted
            ):
                i = attempted
                attempted += 1
                try:
                    res, win = meter.window(lambda: wl.op(ctx, i))
                    wall, res.cpu_s, res.peak_mb = win["wall_s"], win["cpu_s"], win["peak_mb"]
                    wl.check(ctx, i, res)
                except Exception as exc:  # noqa: BLE001 - a failed op is counted
                    failures.append(f"op{i}: {exc!r}\n{traceback.format_exc()}")
                    if len(failures) >= 3:
                        break
                    continue
                results.append(res)
                walls.append(wall)
                if len(results) > 1:  # outside the window: only the last output is kept
                    shutil.rmtree(results[-2].detail["dir"], ignore_errors=True)
        finally:
            meter.close()
        hostrep = meter.report()
        report.update(ops_s=walls, failures=failures, host=hostrep, probes=probes)
        if not results:
            raise RuntimeError("no operation succeeded:\n" + "\n".join(failures))

        recall, precision = wl.gold()
        timed = list(zip(results, walls))[wl.cold_ops:] or list(zip(results, walls))
        e2e = {
            "setup_s": statistics.median(setups),
            "pages_per_cpu_s": statistics.median(r.pages / r.cpu_s for r, _w in timed),
            "triples_per_cpu_s": statistics.median(r.triples / r.cpu_s for r, _w in timed),
            "peak_pss_mb": statistics.median(r.peak_mb for r, _w in timed),
            "gold_recall": recall,
            "gold_precision": precision,
        }
        report["end_to_end"] = e2e
        if not args.trace:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
            return summary(attempted, failures, metrics), report

        # -- traced run: per-layer metrics -----------------------------------
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(probes)
        layers["host.steal_cores"] = hostrep["steal_cores"]
        layers["host.own_cores"] = hostrep["own_cores"]
        layers["op.wall_s"] = statistics.median(w for _r, w in timed)
        layers["op.pages_per_s"] = statistics.median(r.pages / w for r, w in timed)
        attempted += 1  # the traced extras are checked like an operation
        try:
            layers.update(wl.layers(ctx, results))
        except W.CheckFailed as exc:
            failures.append(f"traced extras: {exc!r}")
        loop_layers, starts = traced_loop(wl, ctx)
        layers.update(loop_layers)
        spark.stop()
        spark = None
        ev, launch = read_eventlog(log_dir)
        n_ops = len(results)
        ops = sum_groups(ev, lambda g: g.startswith("op"))
        for k in ("task_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            layers[f"spark.{k}"] = ops[k] / n_ops
        nodes = sum_groups(ev, lambda g: g.startswith("op") and g.endswith(":nodes"))
        layers["graph.shuffle_bytes"] = nodes["shuffle_write_bytes"] / n_ops
        traced = sum_groups(ev, lambda g: g == "trace")
        layers["fused.task_s"] = traced["task_s"]
        layers["fused.worker_s"] = sum(
            max(0.0, (t0 - launch[tid]) / 1000) for tid, t0 in starts.items())
        named = layers["fused.python_s"] + layers["fused.crossing_s"] + layers["fused.worker_s"]
        layers["trace.coverage_frac"] = named / max(layers["fused.task_s"], 1e-9)
        report["per_layer"] = layers
        report["eventlog_groups"] = ev
        metrics = {k: {"value": layers[k], "unit": layer_unit(k)} for k in PER_LAYER}
        return summary(attempted, failures, metrics), report
    finally:
        stop_all(spark)
        if ctx is not None:
            report["spans"] = ctx.spans.rows
        report["wall_s"] = time.perf_counter() - t_launch
        os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
        with open(os.path.join(WORK, "reports", f"{tag}.json"), "w", encoding="utf-8") as f:
            json.dump(report, f, indent=1, default=str)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    import host

    prepare_env(host.spark_cores())
    sys.path.insert(0, ROOT)
    result, report = run(args)
    for f in report.get("failures", []):
        print(f"FAILED {f}", file=sys.stderr)
    for k, m in result["metrics"].items():
        print(f"{k:32s} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
