"""spark-submit --py-files packaging test (north rule).

Runs the real spark-submit CLI from a directory OUTSIDE the repo with only
the built zip on --py-files: driver AND executor Python workers must resolve
htmlparser_spark from the zip. Also pins the confs each way of starting
the job puts on its session."""
import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from htmlparser_spark.pipeline import cds, job
from scripts.make_pyfiles import build


class _Builder:
    """A session builder that records what it is given; ``getOrCreate``
    hands back the builder itself."""

    def __init__(self):
        self.app = self.master_url = None
        self.conf = {}

    def appName(self, name):
        self.app = name
        return self

    def master(self, url):
        self.master_url = url
        return self

    def config(self, key=None, value=None, *, map=None):
        self.conf.update(map or {key: value})
        return self

    def getOrCreate(self):
        return self


def test_build_session_conf_is_unchanged(monkeypatch, tmp_path):
    """The confs of a first session in a process with no gateway running
    and an empty class-archive cache: the archive options ask for a dump
    (which the stub session cannot take)."""
    b = _Builder()
    monkeypatch.setattr(job, "SparkSession", SimpleNamespace(
        builder=b, getActiveSession=lambda: None))
    monkeypatch.setattr(job, "SparkContext", SimpleNamespace(_gateway=None))
    monkeypatch.setattr(job, "_ARCHIVE", None)
    monkeypatch.setattr(cds.Launch, "dump", lambda self, spark: None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "conf"))
    for name in ("SPARK_DRIVER_MEMORY", "PYSPARK_GATEWAY_PORT",
                 *cds.CLASSPATH_ENV):
        monkeypatch.delenv(name, raising=False)
    assert job.build_session(cpus=4) is b
    assert (b.app, b.master_url) == ("htmlparser-spark", "local[4]")
    assert b.conf.pop("spark.driver.defaultJavaOptions") == (
        "-XX:TieredStopAtLevel=1 -XX:+RecordDynamicDumpInfo -Xlog:cds*=off")
    assert b.conf == {
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
        "spark.sql.execution.arrow.maxBytesPerBatch": "67108864",
        "spark.python.worker.reuse": "true",
        "spark.driver.memory": "8g",
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.ui.enabled": "false",
    }


def test_submitted_job_runs_with_the_pipeline_session_conf():
    """``run_job.py`` applies the same runtime confs as ``build_session``
    and leaves the master, shuffle partitions and driver JVM options to
    spark-submit."""
    from scripts.run_job import job_session
    b = job_session(_Builder())
    assert b.app == "htmlparser-extract" and b.master_url is None
    assert b.conf == job.SESSION_CONF
    assert b.conf["spark.sql.execution.arrow.maxRecordsPerBatch"] == "512"
    assert not {"spark.sql.shuffle.partitions", "spark.driver.memory",
                "spark.driver.defaultJavaOptions"} & set(b.conf)


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    zip_path = build(str(tmp_path / "htmlparser_spark.zip"))
    out = str(tmp_path / "out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    def submit(*extra):
        return subprocess.run(
            ["spark-submit", "--master", "local[2]",
             "--conf", "spark.ui.enabled=false",
             "--conf", "spark.sql.shuffle.partitions=4",
             "--py-files", zip_path,
             os.path.join(REPO, "scripts", "run_job.py"), *extra],
            cwd=str(tmp_path), env=env, capture_output=True, text=True,
            timeout=600)

    # default path first: pruned kernel (no link columns) under --py-files
    out_plain = str(tmp_path / "out_plain")
    res0 = submit("--synth", "40", "--out", out_plain)
    assert res0.returncode == 0, res0.stderr[-3000:]
    assert os.path.exists(os.path.join(out_plain, "parsed"))
    assert not os.path.exists(os.path.join(out_plain, "links"))

    # --transcode exercises the fused charset stage under the zip: the
    # codegen sniff columns plus executor-side resolution of
    # htmlparser_spark.sources.charset from --py-files (synth pages are
    # utf-8, so the stage is a pure sniff-passthrough here)
    res = submit("--synth", "60", "--out", out,
                 "--wet-out", str(tmp_path / "wet"),
                 "--jsonl-out", str(tmp_path / "shards"), "--emit-links",
                 "--transcode")
    assert res.returncode == 0, res.stderr[-3000:]
    metrics = json.loads(
        [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1])
    assert metrics["pages"] >= 60
    assert metrics["ok_pages"] > 0
    assert os.path.exists(os.path.join(out, "parsed"))
    assert os.path.exists(os.path.join(out, "_lineage"))
    assert metrics["wet_segments"] >= 1
    assert metrics["wet_records"] > 0
    assert metrics["jsonl_shards"] >= 1
    assert metrics["jsonl_records"] == metrics["pages"]
    # --emit-links: the same submit also produced the web-graph sink
    assert os.path.exists(os.path.join(out, "links"))
