"""TableStore snapshot history (time travel to retained snapshots), commit
lineage (manifest rows from parquet footers, one job per commit) and
resume (no job)."""

import datetime as dt
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, pages_df
from llm_text_to_knowledge_graph_spark.plans.checkpoint import TableStore, resume_or_compute
from llm_text_to_knowledge_graph_spark.plans.pipeline import EXTRACT_STAGES, run_pipeline

_RESCAN = TableStore._lineage  # the groupBy(input_file_name()) reference


def _recording_rescan(calls: list):
    """A ``_lineage`` that records each commit taking the re-scan fallback."""

    def spy(committed):
        calls.append(committed)
        return _RESCAN(committed)

    return staticmethod(spy)


@pytest.fixture
def rescans(monkeypatch):
    calls = []
    monkeypatch.setattr(TableStore, "_lineage", _recording_rescan(calls))
    return calls


def test_time_travel(spark, tmp_path):
    store = TableStore(str(tmp_path / "tbl"), retain=2)
    df1 = spark.range(0, 10).withColumnRenamed("id", "v")
    store.commit(df1, "t", fingerprint="f1", run_id="r1")
    df2 = spark.range(0, 25).withColumnRenamed("id", "v")
    store.commit(df2, "t", fingerprint="f2", run_id="r2")

    snaps = store.snapshots("t")
    assert len(snaps) == 2
    assert [s["rows"] for s in snaps] == [10, 25]

    assert store.read(spark, "t").count() == 25
    old = store.read(spark, "t", snapshot_id=snaps[0]["snapshot_id"])
    assert old.count() == 10

    # third commit evicts the oldest snapshot (retain=2)
    df3 = spark.range(0, 7).withColumnRenamed("id", "v")
    store.commit(df3, "t", fingerprint="f3", run_id="r3")
    snaps3 = store.snapshots("t")
    assert [s["rows"] for s in snaps3] == [25, 7]
    assert store.read(spark, "t").count() == 7
    assert store.read(spark, "t", snapshot_id=snaps3[0]["snapshot_id"]).count() == 25
    try:
        store.read(spark, "t", snapshot_id=snaps[0]["snapshot_id"])
        raise AssertionError("evicted snapshot must not be readable")
    except FileNotFoundError:
        pass


def test_iceberg_store_manifest_contract(spark, tmp_path):
    """Both stores must return the manifest keys run_pipeline consumes
    ('rows' especially — pipeline.py reads m["rows"] after every stage) and
    expose write_metrics. Regression test for the contract break where the
    Iceberg manifest lacked 'rows' and _write_metrics assumed store.root.
    The shared resume rule drives the Iceberg store too: the committed
    fingerprint reads the table without computing, another one commits."""
    from pyspark.sql import Row

    from llm_text_to_knowledge_graph_spark.plans.checkpoint import IcebergTableStore

    class FakeResult:
        def __init__(self, rows):
            self.rows = rows

        def collect(self):
            return self.rows

    calls = []

    class FakeWriter:
        """``df.writeTo(t)`` chain; records the properties it commits."""

        def __init__(self, table):
            self.table, self.props = table, {}

        def using(self, fmt):
            assert fmt == "iceberg"
            return self

        def tableProperty(self, k, v):
            self.props[k] = v
            return self

        def createOrReplace(self):
            calls.append(("commit", self.table, self.props))

    class FakeReader:
        def format(self, fmt):
            assert fmt == "iceberg"
            return self

        def table(self, t):
            calls.append(("read", t))
            return f"table {t}"

    class FakeFrame:
        def __init__(self, session):
            self.sparkSession = session

        def writeTo(self, t):
            return FakeWriter(t)

    class FakeSpark:
        read = FakeReader()

        def sql(self, q):
            if q.startswith("SHOW TBLPROPERTIES"):
                return FakeResult(
                    [
                        Row(key="kg.fingerprint", value="f1"),
                        Row(key="kg.run_id", value="r1"),
                    ]
                )
            if ".snapshots" in q:
                return FakeResult([Row(n="42")])
            raise AssertionError(f"unexpected sql: {q}")

    ice = IcebergTableStore.__new__(IcebergTableStore)
    ice.spark = FakeSpark()
    ice.catalog, ice.ns = "demo", "kg"
    m = ice.manifest("t")
    assert m == {"table": "t", "fingerprint": "f1", "run_id": "r1", "rows": 42}

    def must_not_compute():
        raise AssertionError("a current snapshot must not be recomputed")

    df, resumed = resume_or_compute(ice, ice.spark, "t", "f1", "r2", must_not_compute)
    assert (df, resumed) == ("table demo.kg.t", True)
    assert calls == [("read", "demo.kg.t")]
    calls.clear()
    df, resumed = resume_or_compute(
        ice, ice.spark, "t", "f2", "r2", lambda: FakeFrame(ice.spark)
    )
    assert (df, resumed) == ("table demo.kg.t", False)
    assert calls == [
        ("commit", "demo.kg.t", {"kg.fingerprint": "f2", "kg.run_id": "r2"}),
        ("read", "demo.kg.t"),
    ]

    shim = TableStore(str(tmp_path / "contract"))
    shim.commit(spark.range(0, 5).withColumnRenamed("id", "v"), "t", "f1", "r1")
    sm = shim.manifest("t")
    # every key the pipeline reads from a manifest exists in both stores
    assert set(m) <= set(sm)
    assert callable(getattr(ice, "write_metrics"))
    assert callable(getattr(shim, "write_metrics"))


def test_make_table_store_picks_shim_without_catalog(spark, tmp_path):
    """In this jar-less sandbox no Iceberg catalog is configured, so the
    factory must return the parquet shim; when a SparkCatalog conf appears,
    detection finds it by name (selection logic only — constructing the
    real store needs the runtime jar)."""
    from llm_text_to_knowledge_graph_spark.plans.checkpoint import (
        TableStore,
        find_iceberg_catalog,
        make_table_store,
    )

    assert find_iceberg_catalog(spark) is None
    store = make_table_store(spark, str(tmp_path / "ts"))
    assert isinstance(store, TableStore)

    spark.conf.set(
        "spark.sql.catalog.demo", "org.apache.iceberg.spark.SparkCatalog"
    )
    try:
        assert find_iceberg_catalog(spark) == "demo"
    finally:
        spark.conf.unset("spark.sql.catalog.demo")
    assert find_iceberg_catalog(spark) is None


# -- commit lineage -----------------------------------------------------------

_PAGE = "url string, warc_ts timestamp, v int"
_TS = dt.datetime(2024, 3, 1, 12, 30, 15, 250000)


def _commit_and_rescan(spark, tmp_path, df):
    store = TableStore(str(tmp_path / "lin"))
    committed = store.commit(df, "t", "f", "r")
    return store.manifest("t"), _RESCAN(committed)


def test_footer_lineage_matches_rescan(spark, tmp_path, rescans):
    """Fast path across row groups, null urls, a row group with no
    warc_ts, and a file with no warc_ts at all."""
    rows = [("u0", None, 1), ("u9", None, 2),
            ("u5", _TS - dt.timedelta(days=3), 3), (None, _TS, 4), ("u1", None, 5)]
    # two slices, two files; row groups of two rows split the second file
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), _PAGE)
    spark.conf.set("parquet.block.row.count.limit", "2")
    try:
        m, ref = _commit_and_rescan(spark, tmp_path, df)
    finally:
        spark.conf.unset("parquet.block.row.count.limit")
    assert not rescans
    assert m["partitions"] == ref and m["rows"] == 5
    assert ref == [
        {"partition_id": 0, "rows": 2, "url_min": "u0", "url_max": "u9"},
        {"partition_id": 1, "rows": 3, "url_min": "u1", "url_max": "u5",
         "warc_ts_max": _TS.isoformat()},
    ]


def test_long_url_pair_falls_back(spark, tmp_path, rescans):
    """parquet-mr drops string stats once a file's min+max reach 4 KB."""
    urls = ["https://a.test/" + "x" * 2100, "https://b.test/" + "y" * 2100]
    df = spark.createDataFrame(
        [(u, _TS, i) for i, u in enumerate(urls)] + [(None, _TS, 2)], _PAGE
    ).coalesce(1)
    m, ref = _commit_and_rescan(spark, tmp_path, df)
    assert len(rescans) == 1
    assert m["partitions"] == ref and m["rows"] == 3
    assert ref[0]["url_min"] == urls[0] and ref[0]["url_max"] == urls[1]


def test_int96_timestamps_fall_back(spark, tmp_path, rescans):
    """INT96 (Spark's own default) stores no warc_ts min/max."""
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        df = spark.createDataFrame(
            [("u1", _TS, 1), ("u2", None, 2)], _PAGE
        ).coalesce(1)
        m, ref = _commit_and_rescan(spark, tmp_path, df)
    finally:
        spark.conf.set(key, prev)
    assert len(rescans) == 1
    assert m["partitions"] == ref and m["rows"] == 2
    assert ref[0]["warc_ts_max"] == _TS.isoformat()


def test_empty_commit(spark, tmp_path, rescans):
    m, ref = _commit_and_rescan(
        spark, tmp_path, spark.createDataFrame([], _PAGE)
    )
    assert not rescans
    assert m["rows"] == 0 and m["partitions"] == [] == ref


def test_session_writes_int64_timestamps_with_footer_bounds(spark, tmp_path):
    """get_spark's parquet timestamp default keeps commits on the footer
    path: warc_ts is INT64 micros with min/max in every footer."""
    out = str(tmp_path / "ts")
    spark.createDataFrame([("u1", _TS, 1)], _PAGE).coalesce(1).write.parquet(out)
    (name,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
    md = pq.ParquetFile(os.path.join(out, name)).metadata
    col = md.row_group(0).column(md.schema.names.index("warc_ts"))
    assert col.physical_type == "INT64"
    assert col.statistics.has_min_max
    assert col.statistics.max_raw == TimestampType().toInternal(_TS)


_VIEW_STAGES = {"sentences", "mentions", "flat_mentions", "statements",
                "statements_block", "triples"}


@pytest.fixture(scope="module", params=sorted(EXTRACT_STAGES))
def checkpointed_run(spark, tmp_path_factory, request):
    """One checkpointed run_pipeline per extractor, with each commit in its
    own job group and every re-scan fallback recorded, plus ``run`` to
    repeat it with the same input."""
    extractor = request.param
    sc = spark.sparkContext
    commit, rescans = TableStore.commit, []

    def grouped(self, df, name, fingerprint, run_id):
        sc.setJobGroup(f"commit:{extractor}:{name}", name)
        try:
            return commit(self, df, name, fingerprint, run_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    write_metrics = TableStore.write_metrics

    def grouped_metrics(self, metrics):
        sc.setJobGroup(f"commit:{extractor}:metrics_log", "metrics_log")
        try:
            return write_metrics(self, metrics)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    wd = str(tmp_path_factory.mktemp(f"ckpt-{extractor}"))

    def run(run_id, workdir=wd):
        return run_pipeline(
            spark, pages_df(spark, 20, seed=8), build_alias_rows(8),
            workdir=workdir, input_token=f"lin-{extractor}", run_id=run_id,
            extractor=extractor,
        )

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(TableStore, "commit", grouped)
        mp.setattr(TableStore, "write_metrics", grouped_metrics)
        mp.setattr(TableStore, "_lineage", _recording_rescan(rescans))
        out = run("r")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = {
        m["stage"]: len(sc.statusTracker().getJobIdsForGroup(
            f"commit:{extractor}:{m['stage']}"))
        for m in out["metrics"] + [{"stage": "metrics_log"}]
    }
    return wd, out, jobs, rescans, run


def test_pipeline_manifests_equal_rescan(spark, checkpointed_run):
    """Every stage's manifest rows/partitions equal the re-scan aggregate,
    and every commit took the footer path to get them."""
    wd, out, _jobs, rescans, _run = checkpointed_run
    metrics = out["metrics"]
    assert not rescans
    store = TableStore(wd)
    for m in metrics:
        man = store.manifest(m["stage"])
        ref = _RESCAN(store.read(spark, m["stage"]))
        assert man["partitions"] == ref, m["stage"]
        assert man["rows"] == m["rows"] == sum(p["rows"] for p in ref)
    assert any(m["rows"] for m in metrics)


def test_view_stage_commits_run_one_job(checkpointed_run):
    """A view over the persisted kernel output commits in one Spark job:
    the write (no schema inference, no lineage re-scan)."""
    _wd, _out, jobs, _rescans, _run = checkpointed_run
    views = {s: n for s, n in jobs.items() if s in _VIEW_STAGES}
    assert len(views) == 5
    assert views == {s: 1 for s in views}


def test_metrics_log_written_without_a_job(spark, checkpointed_run):
    """The run's metrics rows land in metrics_log as one driver-written
    parquet file that Spark reads back with the declared types."""
    wd, out, jobs, _rescans, _run = checkpointed_run
    metrics = out["metrics"]
    assert jobs["metrics_log"] == 0
    log = spark.read.parquet(os.path.join(wd, "metrics_log"))
    assert log.schema.simpleString() == (
        "struct<run_id:string,stage:string,rows:bigint,wall_ms:bigint>"
    )
    assert sorted(tuple(r) for r in log.collect()) == sorted(
        (m["run_id"], m["stage"], m["rows"], m["wall_ms"]) for m in metrics
    )


def _sorted_rows(df):
    return sorted(map(repr, df.collect()))


def test_resumed_run_runs_no_job(spark, checkpointed_run, tmp_path):
    """A fully resumed run reads each stage with the schema its manifest
    recorded: no Spark job (inferring the schemas ran one per stage), and
    the same tables and schemas as the fresh run."""
    wd, fresh, _jobs, _rescans, run = checkpointed_run
    copy = str(tmp_path / "wd")  # the resumed run's metrics_log file lands here
    shutil.copytree(wd, copy)
    sc = spark.sparkContext
    group = f"resume:{copy}"
    sc.setJobGroup(group, "resume")
    try:
        again = run("resume", workdir=copy)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert [m["stage"] for m in again["metrics"]] == [
        m["stage"] for m in fresh["metrics"]
    ]
    assert all(m["resumed"] for m in again["metrics"])
    tables = [k for k in fresh if k != "metrics"]
    assert len(tables) == 8
    for key in tables:
        assert again[key].schema == fresh[key].schema, key
        assert _sorted_rows(again[key]) == _sorted_rows(fresh[key]), key


def _run_t(spark, workdir, extractor="sentence", lexicon=None):
    """A checkpointed run of the 20 seed-8 pages, always under input_token
    "t": only the extractor and the lexicon vary."""
    return run_pipeline(
        spark, pages_df(spark, 20, seed=8),
        build_alias_rows(8) if lexicon is None else lexicon,
        workdir=workdir, input_token="t", run_id=extractor, extractor=extractor,
    )


def _assert_recomputed_as_fresh(again, fresh):
    assert [m["stage"] for m in again["metrics"]] == [
        m["stage"] for m in fresh["metrics"]
    ]
    assert not any(m["resumed"] for m in again["metrics"])
    for key in [k for k in fresh if k != "metrics"]:
        assert _sorted_rows(again[key]) == _sorted_rows(fresh[key]), key


def test_other_extractor_over_one_workdir_recomputes_every_stage(spark, tmp_path):
    """A block run over a sentence run's workdir, under the same
    input_token, recomputes every stage and gives a fresh block run's
    nodes and edges, not the sentence run's."""
    wd = str(tmp_path / "wd")
    first = _sorted_rows(_run_t(spark, wd, "sentence")["edges"])
    again = _run_t(spark, wd, "block")
    fresh = _run_t(spark, str(tmp_path / "fresh"), "block")
    _assert_recomputed_as_fresh(again, fresh)
    assert _sorted_rows(fresh["edges"]) != first


def test_other_lexicon_recomputes_every_stage(spark, tmp_path):
    """A rerun with half the lexicon (passed as a generator, which the run
    reads once for its digest and once for the kernel) recomputes every
    stage and equals a fresh run with that lexicon."""
    lexicon = build_alias_rows(8)
    half = lexicon[: len(lexicon) // 2]
    wd = str(tmp_path / "wd")
    first = _sorted_rows(_run_t(spark, wd, lexicon=lexicon)["edges"])
    again = _run_t(spark, wd, lexicon=iter(half))
    fresh = _run_t(spark, str(tmp_path / "fresh"), lexicon=half)
    _assert_recomputed_as_fresh(again, fresh)
    assert _sorted_rows(fresh["edges"]) != first


def test_failed_commit_unpersists_kernel_output(spark, tmp_path, monkeypatch):
    """A checkpointed run whose triples commit raises still unpersists the
    kernel output it cached: the session's cache is left empty."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    commit = TableStore.commit

    def failing(self, df, name, fingerprint, run_id):
        if name == "triples":
            raise RuntimeError("triples commit failed")
        return commit(self, df, name, fingerprint, run_id)

    monkeypatch.setattr(TableStore, "commit", failing)
    with pytest.raises(RuntimeError, match="triples commit failed"):
        _run_t(spark, str(tmp_path / "wd"))
    assert cache.isEmpty()


def test_metrics_log_appends(spark, tmp_path):
    store = TableStore(str(tmp_path / "ml"))
    store.write_metrics([{"run_id": "a", "stage": "s", "rows": 3, "wall_ms": 7}])
    store.write_metrics([{"run_id": "b", "stage": "s", "rows": 0, "wall_ms": 1,
                          "resumed": True}])
    log = spark.read.parquet(os.path.join(store.root, "metrics_log"))
    assert sorted(tuple(r) for r in log.collect()) == [("a", "s", 3, 7), ("b", "s", 0, 1)]


def test_repeated_run_reuses_generated_code(spark, tmp_path):
    """get_spark's generated-code cache holds a whole checkpointed run, so
    a second identical run in the session compiles almost nothing; with
    Spark's 100-entry default it recompiled dozens of classes every run."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    pages, lexicon = pages_df(spark, 20, seed=8), build_alias_rows(8)
    counts = []
    for k in range(2):
        before = compiles.getCount()
        run_pipeline(spark, pages, lexicon, workdir=str(tmp_path / f"run{k}"),
                     input_token="codegen", run_id=f"r{k}", extractor="block")
        counts.append(compiles.getCount() - before)
    assert counts[1] <= 5, counts
