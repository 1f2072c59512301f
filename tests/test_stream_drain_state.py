"""Stream drains report their sink totals from the rows they observe plus a
per-sink state file, and re-read the sink only to recover: every reported
total must equal a full count of the sink, through crashes between the sink
commit and the state write, lost state, replayed batches and lost progress.
Also: the drop-directory listing stays on the driver, the commit-log
listing resolves its py4j classes once, build_session captures no call
sites, and the Bloom drain folds only files the sink committed."""
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from htmlparser_spark.pipeline.job import build_session, jvm_class
from htmlparser_spark.pipeline.schema import PARSED_SCHEMA
from htmlparser_spark.streaming import job
from htmlparser_spark.synth import gen_rows
from perfbench.inputs import write_pages


@pytest.fixture(scope="module")
def spark():
    s = build_session(app="stream-drain-state-tests", cpus=2, extra_conf={
        "spark.executorEnv.PYTHONPATH": REPO,
        "spark.sql.streaming.schemaInference": "false"})
    yield s
    s.stop()


@pytest.fixture
def recounts(monkeypatch):
    """Sinks the drains re-read in full, in call order."""
    seen = []
    recount = job._recount

    def spy(spark, sink_dir, schema, totals):
        seen.append(os.path.basename(sink_dir))
        return recount(spark, sink_dir, schema, totals)

    monkeypatch.setattr(job, "_recount", spy)
    return seen


def _drop(src, d, n=6, seed=13):
    """Drop d: one parquet file of n seeded pages in its own directory."""
    write_pages(gen_rows(seed, range(d * n, (d + 1) * n)),
                os.path.join(src, f"drop-{d}"), 1)


def _full(spark, out, sink="parsed"):
    """Totals from a full read of the sink, keyed like the drains' dicts."""
    df = spark.read.parquet(os.path.join(out, sink))
    if sink == "links":
        return {"links_total": df.count()}
    if "maybe_dup" not in df.columns:
        return {"rows_total": df.count()}
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum("maybe_dup").alias("d")).collect()[0]
    return {"rows_total": row.n, "maybe_dup_total": row.d}


def _drain(spark, kind, src, out, history=None):
    if kind == "plain":
        return job.run_stream_once(spark, src, out)
    return job.run_bloom_stream_once(spark, src, out, history)


def test_drop_dir_listing_launches_no_job(spark, tmp_path):
    """Above 32 paths Spark lists directories with a parallel job, one task
    each (spark.sql.sources.parallelPartitionDiscovery.threshold); a stream
    of drop dirs paid it on every scan. build_session lists on the driver."""
    src = str(tmp_path / "src")
    for d in range(40):
        _drop(src, d, n=1)
    sc = spark.sparkContext
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"

    def jobs_of(group):
        sc.setJobGroup(group, "read_page_stream over 40 drop dirs")
        try:
            before = len(sc.statusTracker().getJobIdsForGroup(group))
            job.read_page_stream(spark, src)
            return len(sc.statusTracker().getJobIdsForGroup(group)) - before
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    assert jobs_of("listing-session") == 0
    # the default threshold shows the cliff, so the probe can see a job
    configured = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        assert jobs_of("listing-default") == 1
    finally:
        spark.conf.set(key, configured)


def test_commit_log_listing_resolves_jvm_classes_once(spark, tmp_path,
                                                     monkeypatch):
    """``spark._jvm.a.b.C`` sends one lookup per name segment; jvm_class
    resolves each class once per gateway view, so a second listing sends
    none."""
    log = tmp_path / "sink" / "_spark_metadata"
    log.mkdir(parents=True)
    for name in ("0", "1", "2.compact", "3.tmp"):
        (log / name).touch()
    client = spark._jvm._gateway_client
    send, sent = client.send_command, []
    monkeypatch.setattr(client, "send_command", lambda c, *a, **k:
                        sent.append(c) or send(c, *a, **k))
    jvm_class.cache_clear()
    lookups = []
    for _ in range(2):
        sent.clear()
        assert job._last_committed_batch(spark, str(tmp_path / "sink")) == 2
        lookups.append(sum(c.startswith("r\nu\n") for c in sent))
    assert lookups[1] == 0 < lookups[0]


def test_build_session_captures_no_call_site():
    """build_session turns off DataFrame call-site capture. The conf is
    static, so it holds only in a driver whose session build_session
    creates: the probe runs in a fresh interpreter, where a Column function
    then sends no ``PySparkCurrentOrigin`` update."""
    probe = """
from pyspark.sql import functions as F
from htmlparser_spark.pipeline.job import build_session
spark = build_session(cpus=1)
client = spark._jvm._gateway_client
send, sent = client.send_command, []
client.send_command = lambda c, *a, **k: sent.append(c) or send(c, *a, **k)
F.col("x") + F.lit(1)
print(len(sent), sum("PySparkCurrentOrigin" in c for c in sent))
spark.stop()
"""
    out = subprocess.run([sys.executable, "-c", probe], cwd=REPO, env={
        **os.environ, "PYTHONPATH": REPO}, capture_output=True, text=True,
        timeout=300, check=True).stdout
    n_sent, n_origin = map(int, out.split()[-2:])
    assert n_sent > 0 and n_origin == 0


def test_twelve_drains_report_full_counts_without_rereading(
        spark, tmp_path, recounts):
    src = str(tmp_path / "src")
    out_p, out_b = str(tmp_path / "out_p"), str(tmp_path / "out_b")
    history = os.path.join(out_p, "parsed")
    for d in range(12):
        _drop(src, d)
        assert job.run_stream_once(spark, src, out_p) == _full(spark, out_p)
        assert (job.run_links_stream_once(spark, src, out_p)
                == _full(spark, out_p, "links"))
        got = job.run_bloom_stream_once(spark, src, out_b, history)
        assert got == _full(spark, out_b)
    # drop 0 is the Bloom history, so its rows read maybe_dup = 1
    assert got["maybe_dup_total"] >= 6
    assert recounts == []
    for sink in ("parsed", "links"):
        with open(os.path.join(out_p, f"_{sink}_totals.json")) as f:
            assert json.load(f)["last_batch"] == 11


@pytest.mark.parametrize("kind", ["plain", "bloom"])
def test_crash_before_totals_write_recovers(spark, tmp_path, monkeypatch,
                                            recounts, kind):
    """The sink commits, then the state write fails: the next drain finds
    the sink one batch past the state and re-reads it once."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    history = str(tmp_path / "hist")
    _drop(str(tmp_path / "hsrc"), 0)
    job.run_stream_once(spark, str(tmp_path / "hsrc"), history)
    history = os.path.join(history, "parsed")
    del recounts[:]

    _drop(src, 0)
    assert _drain(spark, kind, src, out, history) == _full(spark, out)

    write = job._atomic_json_write
    crashed = []

    def crash_once(path, obj):
        if path.endswith("_parsed_totals.json") and not crashed:
            crashed.append(path)
            raise OSError("injected crash after the sink commit")
        return write(path, obj)

    monkeypatch.setattr(job, "_atomic_json_write", crash_once)
    _drop(src, 1)
    with pytest.raises(OSError, match="injected"):
        _drain(spark, kind, src, out, history)
    assert recounts == []

    _drop(src, 2)
    assert _drain(spark, kind, src, out, history) == _full(spark, out)
    assert recounts == ["parsed"]
    _drop(src, 3)
    assert _drain(spark, kind, src, out, history) == _full(spark, out)
    assert recounts == ["parsed"]  # back on the counted path


def test_lost_state_and_lost_progress_recover(spark, tmp_path, recounts):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    for d in range(2):
        _drop(src, d)
        job.run_stream_once(spark, src, out)
        job.run_links_stream_once(spark, src, out)
    os.remove(os.path.join(out, "_parsed_totals.json"))
    os.remove(os.path.join(out, "_links_totals.json"))
    # no new drop: the drain still cannot vouch for a sink it has no state of
    assert job.run_stream_once(spark, src, out) == _full(spark, out)
    _drop(src, 2)
    assert (job.run_links_stream_once(spark, src, out)
            == _full(spark, out, "links"))
    assert recounts == ["parsed", "links"]

    # a drain whose progress history no longer holds its batches (more
    # batches than spark.sql.streaming.numRecentProgressUpdates keeps)
    key = "spark.sql.streaming.numRecentProgressUpdates"
    spark.conf.set(key, "1")
    try:
        assert job.run_stream_once(spark, src, out) == _full(spark, out)
    finally:
        spark.conf.unset(key)
    assert recounts == ["parsed", "links", "parsed"]


def test_replayed_batch_is_recounted(spark, tmp_path, recounts):
    """A crash after the sink commit but before the checkpoint commit makes
    the next drain replay that batch; the file sink skips the write, so the
    drain observes 0 rows for it and must not trust its own count."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _drop(src, 0)
    job.run_stream_once(spark, src, out)
    state_path = os.path.join(out, "_parsed_totals.json")
    with open(state_path) as f:
        after_first = json.load(f)
    _drop(src, 1)
    job.run_stream_once(spark, src, out)
    # rewind to "batch 1 in the sink, not in the checkpoint or the state"
    commits = os.path.join(out, "_checkpoint", "commits")
    for name in ("1", ".1.crc"):
        os.remove(os.path.join(commits, name))
    with open(state_path, "w") as f:
        json.dump(after_first, f)

    _drop(src, 2)
    assert job.run_stream_once(spark, src, out) == _full(spark, out)
    assert recounts == ["parsed"]


def test_bloom_fold_skips_uncommitted_files(spark, tmp_path):
    """A part file in the sink directory that the sink's commit log never
    recorded (a failed or retried task's output) is not folded into the
    Bloom filter: the bits equal those of history plus committed rows."""
    from htmlparser_spark.streaming.job import bloom_history_bits

    hsrc, src = str(tmp_path / "hsrc"), str(tmp_path / "src")
    hist_out, out = str(tmp_path / "hist"), str(tmp_path / "out")
    _drop(hsrc, 0)
    job.run_stream_once(spark, hsrc, hist_out)
    history = os.path.join(hist_out, "parsed")
    _drop(src, 0)
    job.run_bloom_stream_once(spark, src, out, history)

    orphan_dir = str(tmp_path / "orphan")
    orphans = (spark.read.parquet(history).limit(1).crossJoin(
        spark.range(1, 201).select(F.col("id").alias("h")))
        .withColumn("content_hash", F.col("h") * 7919 + 104729)
        .drop("h").withColumn("maybe_dup", F.lit(0)))
    orphans.coalesce(1).write.parquet(orphan_dir)
    (part,) = [f for f in os.listdir(orphan_dir) if f.endswith(".parquet")]
    orphan_name = "part-99999-orphan.c000.snappy.parquet"
    shutil.copy(os.path.join(orphan_dir, part),
                os.path.join(out, "parsed", orphan_name))

    _drop(src, 1)
    got = job.run_bloom_stream_once(spark, src, out, history)
    assert got == _full(spark, out)
    with open(os.path.join(out, "_bloom_state.json")) as f:
        state = json.load(f)
    assert orphan_name not in state["folded"]
    bits = {r.pos for r in spark.read.parquet(
        os.path.join(out, "_bloom_bits", f"v{state['version']}")).collect()}
    committed = spark.read.schema(PARSED_SCHEMA).parquet(
        os.path.join(out, "parsed"))
    hist = spark.read.schema(PARSED_SCHEMA).parquet(history)
    want = {r.pos for r in bloom_history_bits(
        hist.unionByName(committed)).collect()}
    assert bits == want
    orphan_bits = {r.pos for r in bloom_history_bits(
        spark.read.parquet(orphan_dir)).collect()}
    assert orphan_bits - want  # the orphan would have set new bits
