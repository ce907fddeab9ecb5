"""Benchmark-side tracing: spans, the traced per-page loop, event logs.

Nothing here edits or wraps the package. The traced loop is the
benchmark's own ``mapInPandas`` over the same pages and partitioning as
the operator it shadows; it calls the same public per-page functions and
times each call with ``perf_counter_ns``. Each task returns its counters
as one extra row; the triple rows cross back to the JVM exactly as the
package's fused operator's do, so the Arrow crossing is exercised too.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from llm_text_to_knowledge_graph_spark.functions.bel import split_statement
from llm_text_to_knowledge_graph_spark.operators import textnorm
from llm_text_to_knowledge_graph_spark.operators.extraction import (
    extract_from_block,
    normalize_block_text,
)
from llm_text_to_knowledge_graph_spark.operators.mentions import AliasMatcher
from llm_text_to_knowledge_graph_spark.operators.statements import (
    extract_parts_from_sentence,
)
from llm_text_to_knowledge_graph_spark.sources.html_extract import (
    extract_paragraphs_text,
    split_sentences,
)


class Spans:
    """In-memory spans (name, start, end, parent, op id), written once at
    the end of the run. Self time = duration minus the children's."""

    def __init__(self):
        self.rows: list[dict] = []
        self._stack: list[int] = []

    def run(self, name: str, op: str, thunk):
        idx = len(self.rows)
        parent = self._stack[-1] if self._stack else None
        self.rows.append({"name": name, "op": op, "parent": parent,
                          "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            return thunk()
        finally:
            self._stack.pop()
            self.rows[idx]["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        child: dict[int, float] = {}
        for r in self.rows:
            if r["parent"] is not None and r["end"] is not None:
                child[r["parent"]] = child.get(r["parent"], 0.0) + r["end"] - r["start"]
        out: dict[str, float] = {}
        for i, r in enumerate(self.rows):
            if r["end"] is not None:
                out[r["name"]] = out.get(r["name"], 0.0) + (
                    r["end"] - r["start"] - child.get(i, 0.0)
                )
        return out


# -- traced per-page loop ------------------------------------------------------

TRACE_OUT = StructType(
    [
        StructField("url", StringType()),
        StructField("para_idx", IntegerType()),
        StructField("sent_idx", IntegerType()),
        StructField("subj", StringType()),
        StructField("pred", StringType()),
        StructField("obj", StringType()),
        StructField("bel_statement", StringType()),
        StructField("evidence", StringType()),
        StructField("_trace", StringType()),
    ]
)

_COLS = ("url", "para_idx", "sent_idx", "subj", "pred", "obj", "bel_statement", "evidence")

# per-worker matcher cache, keyed like the package's: one build per worker
# per job token
_MATCHERS: dict[str, AliasMatcher] = {}


def _zero() -> int:
    return 0


def make_loop(alias_bc, engine: str, traced: bool):
    """mapInPandas function shadowing the package's extraction.

    ``engine="sentence"`` mirrors ``operators.fused.extract_triples_fused``
    (html -> paragraphs -> sentences -> find -> parts). ``engine="block"``
    mirrors the checkpointed modular chain with ``extractor="block"``: the
    mentions stage's per-sentence find plus the block engine's per-
    paragraph normalise -> find -> ``extract_from_block`` ->
    ``split_statement``. With ``traced=False`` the clock reads are no-ops;
    comparing the two gives the tracing overhead.
    """
    token = uuid.uuid4().hex

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tick = time.perf_counter_ns if traced else _zero
        c = dict.fromkeys(
            ("paras", "sentences", "mentions", "hit", "multi",
             "statements", "builds", "decode_ns", "para_ns", "split_ns",
             "build_ns", "find_ns", "extract_ns", "block_ns", "bel_ns",
             "loop_ns", "in_ns", "frame_ns", "out_ns"), 0)
        # wall-clock start, matched to the task's launch time in the event
        # log: the gap is task set-up plus Python worker hand-off
        c["task_id"] = TaskContext.get().taskAttemptId()
        c["start_ms"] = time.time() * 1000
        real_decode = textnorm.decode_page_bytes

        def timed_decode(raw):
            t = tick()
            try:
                return real_decode(raw)
            finally:
                c["decode_ns"] += tick() - t

        # extract_paragraphs_text looks decode_page_bytes up on the module at
        # call time, so this times the decode as a child of the html layer
        if traced:
            textnorm.decode_page_bytes = timed_decode
        try:
            matcher = _MATCHERS.get(token)
            if matcher is None:
                t = tick()
                _MATCHERS.clear()
                matcher = _MATCHERS[token] = AliasMatcher(alias_bc.value)
                c["build_ns"] += tick() - t
                c["builds"] += 1
            it = iter(batches)
            while True:
                t = tick()
                pdf = next(it, None)
                c["in_ns"] += tick() - t
                if pdf is None:
                    break
                t_loop = tick()
                out = {k: [] for k in _COLS}
                for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                    t = tick()
                    paras = extract_paragraphs_text(html, text)
                    c["para_ns"] += tick() - t
                    c["paras"] += len(paras)
                    for pi, para in enumerate(paras):
                        t = tick()
                        sents = split_sentences(para)
                        c["split_ns"] += tick() - t
                        for si, sent in enumerate(sents):
                            t = tick()
                            found = matcher.find(sent)
                            c["find_ns"] += tick() - t
                            c["sentences"] += 1
                            c["mentions"] += len(found)
                            c["hit"] += bool(found)
                            c["multi"] += len(found) >= 2
                            if engine != "sentence":
                                continue
                            ms = [
                                {"begin": b, "end": e, "db": db, "entry_name": n}
                                for (b, e, _a, db, _i, n, _p) in found
                            ]
                            t = tick()
                            parts = extract_parts_from_sentence(sent, ms)
                            c["extract_ns"] += tick() - t
                            c["statements"] += len(parts)
                            for subj, pred, obj, stmt, ev in parts:
                                for k, v in zip(_COLS, (url, pi, si, subj, pred, obj, stmt, ev)):
                                    out[k].append(v)
                        if engine != "block":
                            continue
                        t = tick()
                        block = normalize_block_text(para)
                        c["block_ns"] += tick() - t
                        t = tick()
                        found = matcher.find(block)
                        c["find_ns"] += tick() - t
                        ms = [
                            {"begin": b, "end": e, "alias": a, "db": db, "id": i,
                             "entry_name": n, "score": p}
                            for (b, e, a, db, i, n, p) in found
                        ]
                        t = tick()
                        stmts = extract_from_block(block, ms)
                        c["block_ns"] += tick() - t
                        c["statements"] += len(stmts)
                        for stmt, ev in stmts:
                            t = tick()
                            subj, pred, obj = split_statement(stmt)
                            c["bel_ns"] += tick() - t
                            for k, v in zip(_COLS, (url, pi, 0, subj, pred, obj, stmt, ev)):
                                out[k].append(v)
                c["loop_ns"] += tick() - t_loop
                t = tick()
                frame = pd.DataFrame(out, columns=list(_COLS)).astype(
                    {"para_idx": "Int32", "sent_idx": "Int32"}
                )
                frame["_trace"] = None
                c["frame_ns"] += tick() - t
                t = tick()
                yield frame
                c["out_ns"] += tick() - t
        finally:
            textnorm.decode_page_bytes = real_decode
        row = {k: [None] for k in _COLS}
        row["_trace"] = [json.dumps(c)]
        yield pd.DataFrame(row).astype({"para_idx": "Int32", "sent_idx": "Int32"})

    return run


def run_loop(spark, pages, alias_rows, engine: str, traced: bool, group: str):
    """One job of the shadow loop over ``pages``; returns (wall_s, summed
    counters, per-task counters)."""
    bc = spark.sparkContext.broadcast(list(alias_rows))
    df = pages.filter("lang = 'en'").mapInPandas(
        make_loop(bc, engine, traced), schema=TRACE_OUT
    )
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    rows = df.filter(F.col("_trace").isNotNull()).select("_trace").collect()
    wall = time.perf_counter() - t0
    bc.unpersist()
    tasks = [json.loads(r["_trace"]) for r in rows]
    total = {k: sum(t[k] for t in tasks) for k in tasks[0]
             if k not in ("task_id", "start_ms")} if tasks else {}
    return wall, total, {t["task_id"]: t["start_ms"] for t in tasks}


# -- Spark event log -----------------------------------------------------------


def eventlog_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


_TASK_SUMS = ("task_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "tasks", "jobs")


def read_eventlog(log_dir: str) -> tuple[dict[str, dict[str, float]], dict[int, int]]:
    """Task metrics summed per job group from the (single) finished event
    log in ``log_dir`` (task_s, gc_s, shuffle_read_bytes,
    shuffle_write_bytes, spill_bytes, tasks, jobs), and each task's launch
    time (epoch ms) by task id."""
    files = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    stage_group: dict[int, str] = {}
    launch: dict[int, int] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(_TASK_SUMS, 0.0))

    with open(os.path.join(log_dir, files[0]), encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                acc(group)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                a = acc(stage_group.get(ev.get("Stage ID"), ""))
                a["tasks"] += 1
                info = ev.get("Task Info") or {}
                launch[info.get("Task ID")] = info.get("Launch Time", 0)
                a["task_s"] += m.get("Executor Run Time", 0) / 1000
                a["gc_s"] += m.get("JVM GC Time", 0) / 1000
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return out, launch


def sum_groups(groups: dict[str, dict[str, float]], pred) -> dict[str, float]:
    tot = dict.fromkeys(_TASK_SUMS, 0.0)
    for g, m in groups.items():
        if pred(g):
            for k in _TASK_SUMS:
                tot[k] += m[k]
    return tot
