"""One scaling-bench level: the identical KG job at a given core count.

Reads the shared pre-generated pages corpus (same bytes at every level),
warms the Python worker pool untimed, then times N trials of:
  (a) fused extraction (pages -> triples, one Arrow crossing)
  (b) full job (extraction + graph canonicalization -> edges)
and prints one JSON line with the best trial of each (best-of to shed
neighbor-load noise on this shared box).
"""

import argparse
import json
import os
import sys
import threading
import time


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies machine-wide from /proc/stat. Unlike 1-min
    loadavg — an EMA too sluggish to see a 10-second burst inside a
    10-second trial — the jiffy counters integrate exactly over the timed
    window.

    This sandbox is a Firecracker microVM (kernel *-fc-*, pid-1 namespace,
    kernel threads visible), so the VM's user+system time is ALL OURS and
    the neighbor sandboxes — other microVMs on the physical host — show up
    exclusively as STEAL time (vCPU runnable but not scheduled by the
    hypervisor). busy = user+nice+system+irq+softirq+steal+guest
    (everything minus idle+iowait); steal is field 8."""
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:]))
    return sum(v) - v[3] - v[4], v[7]


_CLK_TCK = os.sysconf("SC_CLK_TCK")


class SectionMeter:
    """Times a section AND attributes machine CPU exactly over its window.

    Three numbers per section (average cores, integrated — not sampled):

    - ``steal``: hypervisor steal — on this Firecracker box the ONLY
      channel through which neighbor-sandbox CPU appears (see
      _cpu_jiffies), so it is the primary contamination signal.
    - ``own_excess``: (busy - steal)/wall - level_cores — how far the
      VM-local (i.e. our own) CPU ran ABOVE the level's advertised core
      count. A saturated mapInPandas stage legitimately exceeds local[N]
      by ~1 core (N Python workers at full tilt plus the JVM threads
      feeding/draining their Arrow streams), so a small positive value is
      the job itself, NOT contamination; a large one means some OTHER
      process of ours ran during the window.
    - ``neighbor`` (legacy): busy/wall - level_cores — the old estimator
      that conflated the two above. Kept so old records stay comparable;
      it systematically over-reads by the own-excess amount (the r4
      instrument failure: three quiet-box runs invalidated because the
      2x-faster fused section's own Arrow-serving overhead tripped a gate
      meant for neighbors).
    """

    def __init__(self, own_cores: int):
        self.own = own_cores

    def run(self, thunk):
        (b0, s0), t0 = _cpu_jiffies(), time.monotonic()
        out = thunk()
        wall = time.monotonic() - t0
        b1, s1 = _cpu_jiffies()
        busy = (b1 - b0) / _CLK_TCK / max(wall, 1e-9)
        steal = (s1 - s0) / _CLK_TCK / max(wall, 1e-9)
        attr = {
            "steal": round(steal, 2),
            "own_excess": round(max(0.0, busy - steal - self.own), 2),
            "neighbor": round(max(0.0, busy - self.own), 2),
        }
        return out, wall, attr


class LoadSampler:
    """Samples /proc/loadavg every few seconds for the life of the level.

    The level's OWN contribution to 1-min loadavg is ~``cores`` once warm,
    so ``max_neighbor_load = max(samples) - cores`` estimates the worst
    background (neighbor-sandbox) pressure DURING the trials — sampling
    only at trial start misses bursts that arrive mid-trial, which is
    exactly what corrupts a level ratio on this shared box."""

    def __init__(self, period_s: float = 5.0):
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._t = threading.Thread(
            target=self._run, args=(period_s,), daemon=True
        )

    def _run(self, period_s: float) -> None:
        while not self._stop.is_set():
            with open("/proc/loadavg") as f:
                self.samples.append(float(f.read().split()[0]))
            self._stop.wait(period_s)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=10)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from llm_text_to_knowledge_graph_spark import get_spark  # noqa: E402
from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows  # noqa: E402
from llm_text_to_knowledge_graph_spark.operators.fused import extract_triples_fused  # noqa: E402
from llm_text_to_knowledge_graph_spark.operators.graph import (  # noqa: E402
    build_edges,
    nodes_from_edges,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--pages", required=True, help="parquet dir of the shared corpus")
    ap.add_argument("--trials", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark(
        f"kg-scaling-{args.cores}",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores * 2,
        extra_conf={
            # identical fine-grained splits at every level
            "spark.sql.files.maxPartitionBytes": "1m",
            "spark.sql.files.openCostInBytes": "262144",
            # FileOutputCommitter v2: task outputs move to the final
            # location at task commit instead of a second serial
            # driver-side rename pass at job commit. The v1 job-commit
            # rename is a data-invariant serial constant (~1-2s here) paid
            # per write; at a ~15s high-level window that is ~10% of the
            # measurement and depresses the N->4N ratio without measuring
            # the job. (Production note: v2 trades atomic job commit for
            # speed — correct for this bench and for any store with its
            # own atomic publish, e.g. the engine's TableStore manifest or
            # Iceberg snapshot commit, which is exactly how the pipeline
            # writes at 100 TB.)
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        },
    )
    alias_rows = build_alias_rows()
    pages = spark.read.parquet(args.pages)

    # untimed warmup
    extract_triples_fused(pages.limit(200), alias_rows).count()

    sampler = LoadSampler()
    sampler.__enter__()
    meter = SectionMeter(args.cores)
    # per section: (best wall, CPU attribution of that best instance)
    _z = {"steal": 0.0, "own_excess": 0.0, "neighbor": 0.0}
    best = {"fused": (1e18, _z), "full": (1e18, _z)}

    def record(name: str, wall: float, nb: dict) -> None:
        if wall < best[name][0]:
            best[name] = (wall, nb)

    n_triples = 0
    for _ in range(args.trials):
        n_triples, wall, nb = meter.run(
            lambda: extract_triples_fused(pages, alias_rows).count()
        )
        record("fused", wall, nb)

        # full job, hash-id scale path (production shape): ONE extraction
        # pass writes the name-carrying edge table to parquet; the node
        # table derives from the WRITTEN edges (nodes_from_edges) — no
        # triples cache, no second extraction. The edge write is the
        # checkpoint the north_rule requires anyway.
        def _full_job():
            triples = extract_triples_fused(pages, alias_rows)
            edges = build_edges(triples, carry_names=True)
        # Output files are sized to the DATA, not the core count: without
        # the coalesce, the map-only edge projection inherits one output
        # file per 1MB input split (hundreds of tiny files), so the write
        # is fixed-overhead-bound — the small-file anti-pattern — and its
        # wall time tracks disk contention the load gate cannot see (r3:
        # a 33% full-path outlier trial with peak_neighbor_load 0.0).
        # A fixed file count at BOTH levels keeps the I/O work identical
        # while task parallelism still exceeds the core count (32 >= 8).
        # coalesce (not repartition): merges partitions in-stage, no
        # shuffle; extraction still runs in every task.
            edges.coalesce(32).write.mode("overwrite").parquet(
                "/tmp/kg_scaling_edges"
            )
            # The 1MB maxPartitionBytes override exists ONLY to pin
            # identical INPUT (pages) splits at both levels; applying it to
            # the intermediate edge read would shred a ~150MB table into
            # ~150 scheduling-bound tasks — per-task dispatch is a
            # driver-serial constant, i.e. fixed latency that penalizes the
            # high level's ratio without measuring the job. But the first
            # fix (32m) over-corrected: ~166MB / 32m = ~6 read tasks, which
            # UNDER-parallelizes the node-derive scan at the 8-core level
            # (6 tasks on 8 cores = a hard 75% utilization cap on that
            # stage — a ratio penalty that measures the split choice, not
            # the job). 8m gives ~21 tasks: >=2 waves per core at the high
            # level, still negligible dispatch. Restore 1m before the next
            # trial's pages scan.
            spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
            nodes_from_edges(
                spark.read.parquet("/tmp/kg_scaling_edges")
            ).coalesce(8).write.mode("overwrite").parquet("/tmp/kg_scaling_nodes")
            spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")

        _, wall, nb = meter.run(_full_job)
        record("full", wall, nb)

    sampler.__exit__()
    best_fused, best_full = best["fused"][0], best["full"][0]
    peak = max(sampler.samples, default=0.0)
    print(
        json.dumps(
            {
                "cores": args.cores,
                "n_triples": n_triples,
                "fused_sec": round(best_fused, 3),
                "fused_triples_per_sec": round(n_triples / best_fused, 1),
                "full_sec": round(best_full, 3),
                "full_triples_per_sec": round(n_triples / best_full, 1),
                # worst background pressure observed DURING the trials
                "peak_load": round(peak, 2),
                "peak_neighbor_load": round(max(0.0, peak - args.cores), 2),
                # exact /proc/stat CPU attribution for the CHOSEN (best)
                # instance of each section (loadavg above is an EMA too
                # slow for 10-60s sections). steal_cores is the primary
                # neighbor signal on this Firecracker box; own_excess is
                # our own CPU above the level's core count (~1 core of
                # JVM Arrow-serving alongside saturated Python workers is
                # the job's normal shape, not contamination).
                "steal_cores": {k: v[1]["steal"] for k, v in best.items()},
                "own_excess_cores": {
                    k: v[1]["own_excess"] for k, v in best.items()
                },
                # legacy estimator (busy - level cores): conflates the two
                "neighbor_cores": {
                    k: v[1]["neighbor"] for k, v in best.items()
                },
                "max_neighbor_cores": max(
                    v[1]["neighbor"] for v in best.values()
                ),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
