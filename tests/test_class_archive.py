"""The driver JVM's class-data-sharing archive (pipeline/cds.py): while
another process holds the dump claim a session neither dumps nor maps;
the first session dumps the classes of its start and promotes them before
build_session returns, and the next session maps them; a dump that failed
leaves no archive and a marker, after which sessions start without the
archive; a conf dir with real settings keeps the session as it was. Each
case runs on its own cache dir, its sessions in fresh interpreters. (A
file at the archive's name that is no archive: test_stream_drain_state.py's
c1-only test.)"""
import glob
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from htmlparser_spark.pipeline import cds

# a session held open until its stdin gets a line: the gateway's options
# and SPARK_CONF_DIR, a query's rows and one conf from spark-defaults;
# then a second build_session must return the same session, whatever
# happened to the cache in between: the archive options are static confs
PROBE = """
import json, sys
from htmlparser_spark.pipeline.job import build_session
spark = build_session(cpus=1, extra_conf=json.loads(sys.argv[1]))
jvm = spark._jvm
print(json.dumps({
    "args": list(jvm.java.lang.management.ManagementFactory
                 .getRuntimeMXBean().getInputArguments()),
    "conf_dir": jvm.System.getenv("SPARK_CONF_DIR"),
    "rows": [list(r) for r in spark.sql(
        "SELECT id % 3, sum(id) FROM range(100) GROUP BY 1 ORDER BY 1")
        .collect()],
    "defaults": spark.conf.get("spark.htmlparser.probe", None)}), flush=True)
sys.stdin.readline()
assert build_session(cpus=1, extra_conf=json.loads(sys.argv[1])) is spark
"""
ROWS = [[k, sum(range(k, 100, 3))] for k in range(3)]
DUMP = ["-XX:+RecordDynamicDumpInfo", cds.QUIET]


def _env(tmp_path, conf_dir=None):
    """The environment of a probe: the cache under ``tmp_path`` and an
    empty conf dir unless ``conf_dir``; nothing else on the classpath."""
    env = {k: v for k, v in os.environ.items() if k not in cds.CLASSPATH_ENV}
    return {**env, "PYTHONPATH": REPO,
            "XDG_CACHE_HOME": str(tmp_path / "cache"),
            "SPARK_CONF_DIR": conf_dir or str(tmp_path / "conf")}


class Probe:
    """A PROBE interpreter; ``out`` is the first line it printed, which
    must be its report (a dump prints nothing on stdout)."""

    def __init__(self, tmp_path, name, env, extra_conf=None):
        self.err = tmp_path / f"{name}.err"
        with open(self.err, "w") as err:
            self.proc = subprocess.Popen(
                [sys.executable, "-c", PROBE, json.dumps(extra_conf or {})],
                cwd=REPO, env=env, stdin=subprocess.PIPE,
                stdout=subprocess.PIPE, stderr=err, text=True)
        line = self.proc.stdout.readline()
        assert line, self.err.read_text()[-3000:]
        self.out = json.loads(line)
        self.options = [a for a in self.out["args"] if a.startswith((
            "-XX:SharedArchiveFile", "-XX:+RecordDynamicDumpInfo",
            "-Xlog:cds"))]

    def finish(self, timeout=180):
        """Let the interpreter exit; what else it printed on stdout."""
        rest, _ = self.proc.communicate("\n", timeout=timeout)
        assert self.proc.returncode == 0, self.err.read_text()[-3000:]
        return rest


def test_first_session_dumps_and_later_sessions_map(tmp_path):
    env = _env(tmp_path)
    final = cds.archive_path(env)
    # while another process holds the dump claim, a session neither dumps
    # nor maps
    held = cds.plan(env, True)
    assert held.options.split() == DUMP
    b = Probe(tmp_path, "b", env)
    assert b.options == [] and b.out["conf_dir"] == env["SPARK_CONF_DIR"]
    os.close(held.lock)
    # the first session with the claim dumps its start before
    # build_session returns, and its second build_session dumps no more
    a = Probe(tmp_path, "a", env)
    assert a.options == DUMP
    assert a.out["conf_dir"] == os.path.join(os.path.dirname(final), "conf")
    assert os.path.isfile(final) and not glob.glob(final[:-4] + ".*.part")
    assert b.out["rows"] == a.out["rows"] == ROWS
    assert a.finish() == ""
    # b's second build_session, after this promotion, returns its session
    assert b.finish() == ""
    log = tmp_path / "class-load.log"
    c = Probe(tmp_path, "c", env, {
        "spark.driver.extraJavaOptions": f"-Xlog:class+load:file={log}"})
    assert c.options == [f"-XX:SharedArchiveFile={final}", cds.QUIET]
    assert c.out["rows"] == ROWS
    assert c.finish() == ""
    with open(log) as f:
        shared = sum("source: shared objects file (top)" in ln for ln in f)
    assert shared > 1000, shared


def _writes_part_then_dies(spark, path):
    """What py4j raises when a dump's write failed and HotSpot ended the
    JVM (seen under ``ulimit -f``): an OSError that is no failed link."""
    with open(path, "wb") as f:
        f.write(bytes(4096))
    raise ConnectionRefusedError(111, "Connection refused")


@pytest.mark.parametrize("dump, error", [
    (_writes_part_then_dies, ConnectionRefusedError),
    (lambda spark, path: None, None)])
def test_failed_dump_leaves_no_archive(dump, error, tmp_path, monkeypatch):
    """A dump whose JVM died in it (the error goes on: the session is
    gone) or that wrote no file is deleted, never promoted, and leaves the
    ``.failed`` marker; the claim is released, and later sessions start
    without the archive and without a dump. A claim deletes the ``.part``
    files that a dead claimant left."""
    env = _env(tmp_path)
    final = cds.archive_path(env)
    key = final[:-len(".jsa")]
    os.makedirs(os.path.dirname(final))
    open(f"{key}.1.part", "w").close()
    launch = cds.plan(env, True)
    assert launch.options.split() == DUMP
    assert not os.path.exists(f"{key}.1.part")
    monkeypatch.setattr(cds, "_dynamic_dump", dump)
    if error is None:
        launch.dump(None)
    else:
        with pytest.raises(error):
            launch.dump(None)
    launch.dump(None)  # one dump per process
    assert sorted(os.listdir(os.path.dirname(final))) == sorted(
        ["conf", os.path.basename(key) + ".lock",
         os.path.basename(key) + ".failed"])
    with open(key + ".failed") as f:
        assert f.read().startswith((error or FileNotFoundError).__name__)
    assert cds.plan(env, True) == cds.Launch()
    claim = cds._claim_dump(final, "conf")
    assert claim.options.split() == DUMP
    os.close(claim.lock)


def test_conf_dir_with_settings_starts_without_archive(tmp_path):
    """A conf dir holding more than templates stays on the classpath, and
    a dump would fail on it: the session starts exactly as without the
    archive, under the caller's SPARK_CONF_DIR."""
    conf = tmp_path / "real-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.htmlparser.probe yes\n")
    (conf / "log4j2.properties.template").write_text("")
    env = _env(tmp_path, str(conf))
    a = Probe(tmp_path, "a", env)
    assert a.options == []
    assert a.out["conf_dir"] == str(conf) and a.out["defaults"] == "yes"
    assert a.finish() == ""
    assert not glob.glob(str(tmp_path / "cache" / "htmlparser_spark" / "*"))
