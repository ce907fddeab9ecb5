"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100TB design point and verified locally:
Arrow for every Python boundary, AQE on (coalescing + skew-join splitting),
and a shuffle-partition count sized to the local core count (on a real
cluster this is ``2-3x total executor cores`` — overridable via env).

On a local master whose Python workers can import this package, the Python
daemon is ``worker_daemon``: workers then import the installed, compiled
pyspark instead of compiling ``$SPARK_HOME/python/lib/pyspark.zip`` in every
new session, and no task re-reads a zip directory. Measured on a 4-core host
(local[2]): a trivial ``mapInPandas`` task costs its worker 0.04-0.05 CPU-s
instead of 0.18-0.38, and a new session's first Python job (16 pages
through the extraction kernel) takes 1.4-1.7 s instead of 2.6-3.5.
Other masters keep Spark's default daemon: a cluster worker that receives
the package through ``--py-files`` gets it only after the daemon started.
"""

from __future__ import annotations

import os
import re
import site

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def worker_daemon_conf(master: str) -> dict:
    """``spark.python.daemon.module`` set to ``worker_daemon`` when ``master``
    is local and a fresh worker can import this package: its parent directory
    is the working directory (the worker's ``sys.path[0]``), is on
    ``PYTHONPATH`` or is a site directory. Otherwise ``{}``, Spark's daemon."""
    if not re.fullmatch(r"local(\[.*\])?", master):
        return {}
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages(), site.getusersitepackages()]
    if not any(r and os.path.realpath(r) == os.path.realpath(parent) for r in roots):
        return {}
    return {"spark.python.daemon.module": f"{__package__}.worker_daemon"}


def get_spark(
    app_name: str = "kg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the KG pipeline.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; under
    spark-submit on a cluster leave it None so the submit-time master wins.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow: every pandas UDF / toPandas crossing is columnar-batched.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE: runtime re-planning, post-shuffle coalescing, skew-join split.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Keep scans splittable at 100TB: default 128m per input split.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet timestamps as INT64 micros, not the INT96 default: INT96
        # columns carry no footer min/max, and checkpoint commits read each
        # file's warc_ts watermark from those footers (plans/checkpoint.py).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Generated-code cache: one checkpointed run_pipeline compiles about
        # 100 classes, as many as Spark's default cache holds, so every
        # later run in the same session recompiled about half of them (and
        # the JIT re-warmed the new copies). Static: set before first use.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Managed-table home for bucketed stores (plans/bucketing.py);
        # kept out of the repo tree, overridable for real deployments.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/kg_spark_warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    for k, v in {**worker_daemon_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
