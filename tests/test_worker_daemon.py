"""Local Python workers import the installed pyspark, not Spark's zips."""

import json
import os
import subprocess
import sys
import zipfile

from llm_text_to_knowledge_graph_spark import session
from llm_text_to_knowledge_graph_spark.worker_daemon import worker_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = {"spark.python.daemon.module": "llm_text_to_knowledge_graph_spark.worker_daemon"}


def _spark_path(tmp_path, pyspark_version="4.1.2"):
    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/version.py", f"__version__: str = '{pyspark_version}'\n")
    return [
        "/work",
        str(lib / "pyspark.zip"),
        str(lib / "py4j-0.10.9.9-src.zip"),
        "/spark/jars/spark-core_2.13-4.1.2.jar",
        "/py/lib/python3.11",
        "/py/lib/python3.11/site-packages",
    ]


def test_worker_path_drops_spark_archives_on_equal_versions(tmp_path):
    path = _spark_path(tmp_path)
    assert worker_path(path, "4.1.2", "0.10.9.9") == [
        "/work", "/py/lib/python3.11", "/py/lib/python3.11/site-packages"]


def test_worker_path_keeps_spark_path_on_mismatch_or_missing_install(tmp_path):
    path = _spark_path(tmp_path)
    assert worker_path(path, "4.1.1", "0.10.9.9") == path
    assert worker_path(path, "4.1.2", "0.10.9.7") == path
    assert worker_path(path, None, "0.10.9.9") == path
    assert worker_path(path, "4.1.2", None) == path


def test_worker_path_keeps_spark_path_when_zip_has_no_version(tmp_path):
    path = _spark_path(tmp_path, pyspark_version="")
    assert worker_path(path, "4.1.2", "0.10.9.9") == path


def test_package_import_does_not_import_pyspark():
    code = ("import sys, llm_text_to_knowledge_graph_spark as p; "
            "assert 'pyspark' not in sys.modules; "
            "from llm_text_to_knowledge_graph_spark import get_spark; "
            "assert get_spark is p.get_spark")
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)


def test_daemon_only_for_local_masters_that_can_import_the_package(tmp_path, monkeypatch):
    monkeypatch.chdir(ROOT)
    for master in ("local", "local[4]", "local[*]", "local[2,3]"):
        assert session.worker_daemon_conf(master) == DAEMON
    for master in ("yarn", "spark://h:7077", "k8s://https://h:443", "local-cluster[2,1,1024]"):
        assert session.worker_daemon_conf(master) == {}
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert session.worker_daemon_conf("local[4]") == {}
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/elsewhere", ROOT]))
    assert session.worker_daemon_conf("local[4]") == DAEMON


def test_local_workers_import_installed_pyspark(spark):
    def worker_imports(it):
        import zipimport

        import pandas as pd
        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        for _ in it:
            yield pd.DataFrame({"r": [json.dumps(
                {"file": pyspark.__file__, "version": pyspark.__version__, "zips": zips})]})

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON["spark.python.daemon.module"]
    rows = spark.range(2, numPartitions=2).mapInPandas(worker_imports, "r string").collect()
    assert len(rows) == 2
    for row in rows:
        got = json.loads(row.r)
        assert ".zip" not in got["file"]
        assert got["version"] == spark.version
        assert got["zips"] == []
