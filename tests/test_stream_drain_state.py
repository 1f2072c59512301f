"""Stream drains report their sink totals from the rows they observe plus
one fixed-size state file per sink, and re-read the sink only to recover:
every reported total (and the Bloom drain's bit set) must equal a full
aggregate of the sink, through crashes between the sink commit and the
state write, lost state, replayed batches and lost progress. Also: the
drop-directory listing stays on the driver, the commit-log listing resolves
its py4j classes once, build_session captures no call sites, runs the
driver JVM C1-only and refuses a running session it did not configure, a
Bloom drain after the first launches no job outside its query, a degenerate
Bloom seed is refused, the Bloom recount reads only files the sink
committed, and a drain into a file: sink runs its checkpoint logs on the
FileSystem manager without leaving that conf in the session."""
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from htmlparser_spark.ops import BLOOM_M, bloom_bits
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

    def spy(spark, sink_dir, metrics):
        seen.append(os.path.basename(sink_dir))
        return recount(spark, sink_dir, metrics)

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


def _state(out, sink="parsed"):
    with open(os.path.join(out, f"_{sink}_state.json")) as f:
        return json.load(f)


def _state_bits(out):
    """Bit positions set in the Bloom drain's state bitmap."""
    bits = int(_state(out)["bits"], 16)
    return {p for p in range(BLOOM_M) if bits >> p & 1}


def _rebuilt_bits(spark, *sinks):
    """Bit positions of a filter rebuilt from scratch over parsed sinks."""
    rows = [spark.read.schema(PARSED_SCHEMA).parquet(d).select("content_hash")
            for d in sinks]
    for r in rows[1:]:
        rows[0] = rows[0].union(r)
    return set(rows[0].agg(bloom_bits("content_hash")).first()[0])


def _jobs_in_group(sc, group, fn):
    """Spark jobs ``fn()`` launches in the caller's job group ``group``."""
    sc.setJobGroup(group, group)
    try:
        before = len(sc.statusTracker().getJobIdsForGroup(group))
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group)) - before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


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
        return _jobs_in_group(sc, group,
                              lambda: job.read_page_stream(spark, src))

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


@pytest.mark.parametrize("extra_conf, c1_only", [
    (None, True), ({"spark.driver.defaultJavaOptions": ""}, False)])
def test_build_session_runs_the_driver_jvm_c1_only(extra_conf, c1_only):
    """build_session launches the driver JVM with C2 off; an extra_conf
    naming ``spark.driver.defaultJavaOptions`` replaces it. The JVM starts
    once per interpreter, so each case runs in a fresh one."""
    probe = f"""
from htmlparser_spark.pipeline.job import build_session
spark = build_session(cpus=1, extra_conf={extra_conf!r})
print("\\n".join(spark._jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments()))
spark.stop()
"""
    out = subprocess.run([sys.executable, "-c", probe], cwd=REPO, env={
        **os.environ, "PYTHONPATH": REPO}, capture_output=True, text=True,
        timeout=300, check=True).stdout
    assert ("-XX:TieredStopAtLevel=1" in out.splitlines()) is c1_only


def test_build_session_refuses_a_session_it_did_not_configure(spark):
    """getOrCreate hands back a running session and drops static confs, so
    build_session refuses a running session whose master or static confs
    differ from the ones it asks for, and leaves that session as it was."""
    assert build_session(cpus=2, extra_conf={
        "spark.executorEnv.PYTHONPATH": REPO}) is spark
    with pytest.raises(ValueError, match=r"spark\.stop\(\)"):
        build_session(cpus=3)
    key = "spark.python.sql.dataFrameDebugging.enabled"
    with pytest.raises(ValueError, match=key.replace(".", r"\.")):
        build_session(cpus=2, extra_conf={key: "true"})
    assert spark.sparkContext.master == "local[2]"
    assert spark.conf.get(key) == "false"


def _size_less_counters(path):
    """A state file's byte size less the decimal digits of its counters
    (last_batch and totals), the only part of it that may grow."""
    with open(path) as f:
        st = json.load(f)
    return os.path.getsize(path) - sum(
        len(str(v)) for v in (st["last_batch"], *st["totals"].values()))


def test_twelve_drains_report_full_counts_without_rereading(
        spark, tmp_path, recounts):
    src = str(tmp_path / "src")
    out_p, out_b = str(tmp_path / "out_p"), str(tmp_path / "out_b")
    history = os.path.join(out_p, "parsed")
    states = [os.path.join(out_p, "_parsed_state.json"),
              os.path.join(out_p, "_links_state.json"),
              os.path.join(out_b, "_parsed_state.json")]
    sizes = []
    for d in range(12):
        _drop(src, d)
        assert job.run_stream_once(spark, src, out_p) == _full(spark, out_p)
        assert (job.run_links_stream_once(spark, src, out_p)
                == _full(spark, out_p, "links"))
        got = job.run_bloom_stream_once(spark, src, out_b, history)
        assert got == _full(spark, out_b)
        if d:  # drains 2-12: no state file grows but for counter digits
            sizes.append([_size_less_counters(p) for p in states])
    assert all(s == sizes[0] for s in sizes), sizes
    # drop 0 is the Bloom history, so its rows read maybe_dup = 1
    assert got["maybe_dup_total"] >= 6
    assert recounts == []
    for sink in ("parsed", "links"):
        assert _state(out_p, sink)["last_batch"] == 11
    st = _state(out_b)
    assert len(st["bits"]) == len(st["seed_bits"]) == BLOOM_M // 4
    # the observed bit positions fold to the filter a rebuild reads
    assert _state_bits(out_b) == _rebuilt_bits(
        spark, history, os.path.join(out_b, "parsed"))
    # nothing accumulates beside the sinks, their checkpoints and states
    assert sorted(os.listdir(out_p)) == [
        "_checkpoint", "_links_checkpoint", "_links_state.json",
        "_parsed_state.json", "links", "parsed"]
    assert sorted(os.listdir(out_b)) == [
        "_checkpoint", "_parsed_state.json", "parsed"]


def test_bloom_drain_after_the_first_launches_no_job(spark, tmp_path,
                                                     recounts):
    """After its first drain (which reads the history once), a Bloom drain
    runs no Spark job outside its streaming query, whose jobs run in the
    query's own job group: the filter is folded from the query's observed
    metrics and probed from a driver-side table."""
    hsrc, src = str(tmp_path / "hsrc"), str(tmp_path / "src")
    hist_out, out = str(tmp_path / "hist"), str(tmp_path / "out")
    _drop(hsrc, 0)
    job.run_stream_once(spark, hsrc, hist_out)
    history = os.path.join(hist_out, "parsed")
    _drop(src, 0)
    job.run_bloom_stream_once(spark, src, out, history)
    _drop(src, 1)
    got = []

    def drain():
        got.append(job.run_bloom_stream_once(spark, src, out, history))

    assert _jobs_in_group(spark.sparkContext, "bloom-drain", drain) == 0
    assert got == [_full(spark, out)] and _state(out)["last_batch"] == 1
    assert recounts == []


def test_bloom_seed_with_all_zero_hashes_is_refused(spark, tmp_path):
    """A history whose content_hash is 0 on every row (a sink written before
    the stream computed the hash) would make every page read maybe_dup = 1;
    the first Bloom drain refuses it and leaves out_dir untouched."""
    hsrc, src = str(tmp_path / "hsrc"), str(tmp_path / "src")
    hist_out, out = str(tmp_path / "hist"), str(tmp_path / "out")
    _drop(hsrc, 0)
    job.run_stream_once(spark, hsrc, hist_out)
    zeroed = str(tmp_path / "zeroed")
    (spark.read.parquet(os.path.join(hist_out, "parsed"))
     .withColumn("content_hash", F.lit(0).cast("long"))
     .write.parquet(zeroed))
    _drop(src, 0)
    with pytest.raises(ValueError, match=r"content_hash 0.*resume=False"):
        job.run_bloom_stream_once(spark, src, out, zeroed)
    assert not os.path.exists(out)


@pytest.mark.parametrize("kind", ["plain", "bloom"])
def test_crash_before_totals_write_recovers(spark, tmp_path, monkeypatch,
                                            recounts, kind):
    """The sink commits, then the state write fails: the next drain finds
    the sink one batch past the state and re-reads it once, and the Bloom
    drain's recovered bits are those of history ∪ the committed sink."""
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
        if path.endswith("_parsed_state.json") and not crashed:
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
    sink = os.path.join(out, "parsed")
    if kind == "bloom":
        assert _state_bits(out) == _rebuilt_bits(spark, history, sink)
    _drop(src, 3)
    assert _drain(spark, kind, src, out, history) == _full(spark, out)
    assert recounts == ["parsed"]  # back on the counted path
    if kind == "bloom":
        assert _state_bits(out) == _rebuilt_bits(spark, history, sink)


def test_lost_state_and_lost_progress_recover(spark, tmp_path, recounts):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    for d in range(2):
        _drop(src, d)
        job.run_stream_once(spark, src, out)
        job.run_links_stream_once(spark, src, out)
    os.remove(os.path.join(out, "_parsed_state.json"))
    os.remove(os.path.join(out, "_links_state.json"))
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
    drain observes 0 rows for it and must not count it. The entry recount
    already covers it, so the sink is read once."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _drop(src, 0)
    job.run_stream_once(spark, src, out)
    state_path = os.path.join(out, "_parsed_state.json")
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
    # once on entry (the sink's log ends past the state); the replayed
    # batch 1, observed at 0 rows, is ≤ the recounted last_batch
    assert recounts == ["parsed"]


def test_bloom_fold_skips_uncommitted_files(spark, tmp_path, recounts):
    """A part file in the sink directory that the sink's commit log never
    recorded (a failed or retried task's output) is not folded into the
    Bloom filter by the recovery recount: the bits equal those of history
    plus committed rows."""
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
    # rewind the state, so the next drain recounts with the orphan present
    st = _state(out)
    job._atomic_json_write(os.path.join(out, "_parsed_state.json"),
                           {**st, "last_batch": -1})

    _drop(src, 1)
    got = job.run_bloom_stream_once(spark, src, out, history)
    assert got == _full(spark, out)
    assert recounts == ["parsed"]
    assert os.path.exists(os.path.join(out, "parsed", orphan_name))
    want = _rebuilt_bits(spark, history, os.path.join(out, "parsed"))
    assert _state_bits(out) == want
    orphan_bits = _rebuilt_bits(spark, orphan_dir)
    assert orphan_bits - want  # the orphan would have set new bits


FC_CKPT_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing"
                   ".FileContextBasedCheckpointFileManager")


@pytest.fixture
def queries(monkeypatch):
    """The streaming queries the drains start, in call order."""
    seen = []
    start = job.write_parsed_stream

    def spy(frame, out_dir, sink="parsed"):
        seen.append(start(frame, out_dir, sink))
        return seen[-1]

    monkeypatch.setattr(job, "write_parsed_stream", spy)
    return seen


def _log_managers(q):
    """Class names of the checkpoint managers of ``q``'s offset and commit
    logs."""
    sq = q._jsq.streamingQuery()
    return {log.fileManager().getClass().getName()
            for log in (sq.offsetLog(), sq.commitLog())}


def test_file_drains_commit_through_the_filesystem_manager(spark, tmp_path,
                                                           queries):
    """On file: every drain kind runs its offset and commit logs on the
    FileSystem checkpoint manager (the FileContext default forks `readlink`
    per rename stat without Hadoop's native library) and leaves the
    session conf as it found it."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _drop(src, 0)
    before = spark.conf.getAll
    job.run_stream_once(spark, src, out)
    job.run_links_stream_once(spark, src, out)
    job.run_bloom_stream_once(spark, src, str(tmp_path / "out_b"),
                              os.path.join(out, "parsed"))
    assert [_log_managers(q) for q in queries] == [{job.FS_CKPT_MANAGER}] * 3
    assert spark.conf.getAll == before
    assert spark.conf.get(job.CKPT_MANAGER_KEY, None) is None


def test_drain_restores_the_session_conf_when_it_raises(spark, tmp_path,
                                                        monkeypatch):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _drop(src, 0)
    before = spark.conf.getAll
    during = []

    def fail(frame, out_dir, sink="parsed"):
        during.append(spark.conf.get(job.CKPT_MANAGER_KEY))
        raise RuntimeError("injected failure to start")

    monkeypatch.setattr(job, "write_parsed_stream", fail)
    with pytest.raises(RuntimeError, match="injected"):
        job.run_stream_once(spark, src, out)
    assert during == [job.FS_CKPT_MANAGER]
    assert spark.conf.getAll == before


def test_drain_keeps_a_manager_the_caller_set(spark, tmp_path, queries):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _drop(src, 0)
    spark.conf.set(job.CKPT_MANAGER_KEY, FC_CKPT_MANAGER)
    try:
        assert job.run_stream_once(spark, src, out) == _full(spark, out)
        assert spark.conf.get(job.CKPT_MANAGER_KEY) == FC_CKPT_MANAGER
    finally:
        spark.conf.unset(job.CKPT_MANAGER_KEY)
    assert [_log_managers(q) for q in queries] == [{FC_CKPT_MANAGER}]


def test_other_schemes_keep_the_default_manager(spark, tmp_path):
    """Only the local file system swaps managers: an explicit other scheme,
    or a scheme-less path under another default FS (a cluster's hdfs://),
    keeps Spark's default. Hadoop's http file system stands in for a
    remote one; resolving it opens no connection."""
    assert job._file_checkpoints(spark, str(tmp_path / "out"))
    assert job._file_checkpoints(spark, f"file://{tmp_path}/out")
    assert not job._file_checkpoints(spark, "http://localhost:1/out")
    hconf = spark._jsc.hadoopConfiguration()
    default_fs = hconf.get("fs.defaultFS")
    hconf.set("fs.defaultFS", "http://localhost:1")
    try:
        assert not job._file_checkpoints(spark, "/data/out")
    finally:
        hconf.set("fs.defaultFS", default_fs)
    assert job._file_checkpoints(spark, "/data/out")
