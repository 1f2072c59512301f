"""A class-data-sharing (CDS) archive for the driver JVM.

A cold session spends about half its start loading and verifying the same
Spark classes. JDK 17 can write the classes a running JVM has loaded into
a dynamic archive (the ``VM.cds dynamic_dump`` diagnostic command, on a
JVM started with ``-XX:+RecordDynamicDumpInfo``) and map that archive on
later starts (``-XX:SharedArchiveFile``). ``build_session`` asks ``plan``
once per process: it maps the archive when there is one, and otherwise
lets one process at a time dump the classes its session start loaded,
right after that start.

The archive holds the classes of a session start and nothing a job loads
later. So it is the same whichever session dumped it, and it shortens the
start of every session without changing how a job runs. (An archive
dumped at JVM exit held whatever the dumping session had run, so how much
faster a later cold job ran depended on which session had come first.)

The archive lives in ``${XDG_CACHE_HOME:-~/.cache}/htmlparser_spark/``,
named by a hash of the java binary and its ``release`` file, the
``SPARK_HOME`` realpath and the names, sizes and mtimes of the jars in
``$SPARK_HOME/jars``, so one archive serves every checkout on a box.

Three facts of the JVM shape the rules:
- An archive cut short crashes every JVM that maps it (SIGBUS). A dump is
  therefore written under a ``.part`` name and promoted only after the
  JVM reported it done; a failed dump is deleted.
- A dump fails when a non-empty directory is on the classpath. Spark's
  launcher puts the conf dir there, so the gateway starts with
  ``SPARK_CONF_DIR`` pointing at an empty directory, and only when the
  effective conf dir holds nothing but ``*.template`` files and the
  launcher adds no other classpath entry.
- A dump holds the JVM at a safepoint for 4-8 s, and HotSpot ends the
  JVM when a write fails during it. So only one process dumps at a time,
  none dumps onto a file system with less than ``MIN_FREE`` bytes free,
  and a dump that failed leaves ``<key>.failed``: later sessions start
  without the archive and dump no more. Delete the marker to try again.
"""
from __future__ import annotations

import fcntl
import glob
import hashlib
import os
import shutil
from contextlib import contextmanager, suppress
from dataclasses import dataclass

from py4j.protocol import Py4JError, Py4JJavaError

# cds warnings go to the JVM's stdout, which the gateway shares with Python
QUIET = "-Xlog:cds*=off"
# what Spark's launcher adds to the driver classpath besides the jars and
# the conf dir; with any of it set, the session starts without the archive
CLASSPATH_ENV = ("SPARK_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                 "SPARK_DIST_CLASSPATH")
MIN_FREE = 1 << 30  # free bytes under the cache for a dump (~70 MB) to run


@dataclass
class Launch:
    """What the gateway launch adds: JVM options for
    ``spark.driver.defaultJavaOptions`` and the ``SPARK_CONF_DIR`` it
    starts with (None: the caller's, untouched)."""
    options: str = ""
    conf_dir: str | None = None
    # while this process holds the dump claim and has not dumped: the
    # archive's final name and the claim's locked file descriptor
    final: str | None = None
    lock: int | None = None

    @contextmanager
    def environ(self, environ):
        """``environ`` with SPARK_CONF_DIR at ``conf_dir`` for the block."""
        if self.conf_dir is None:
            yield
            return
        saved = environ.get("SPARK_CONF_DIR")
        environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        finally:
            if saved is None:
                del environ["SPARK_CONF_DIR"]
            else:
                environ["SPARK_CONF_DIR"] = saved

    def dump(self, spark) -> None:
        """Dump the classes that ``spark``'s JVM has loaded, once, when
        this process holds the dump claim: to ``<key>.<pid>.part``, linked
        to the final name (no clobber) only after the JVM reported the
        dump done. A dump that failed is deleted and leaves
        ``<key>.failed``; one that took the JVM down re-raises."""
        if self.final is None:
            return
        final, self.final = self.final, None
        key = final[:-len(".jsa")]
        part = f"{key}.{os.getpid()}.part"
        alive = False  # the JVM came back from the dump
        try:
            _dynamic_dump(spark, part)
            alive = True
            os.link(part, final)
        except FileExistsError:
            pass  # another process promoted one first
        except Exception as e:
            with suppress(OSError), open(key + ".failed", "w") as f:
                f.write(f"{type(e).__name__}: {str(e).strip()[:500]}\n")
            # a Java exception is the JVM refusing the dump; any other
            # error of the call means py4j lost the gateway
            if not (alive or isinstance(e, Py4JJavaError)):
                raise
        finally:
            with suppress(OSError):
                os.unlink(part)
            os.close(self.lock)


def _dynamic_dump(spark, path: str) -> None:
    """``jcmd <pid> VM.cds dynamic_dump <path>`` from inside the JVM,
    through the DiagnosticCommand MBean. It returns once the file is
    written. The platform MBean server's class is not exported, so py4j
    calls ``MBeanServer.invoke`` by reflection."""
    gateway, jvm = spark.sparkContext._gateway, spark._jvm

    def array(cls, *items):
        out = gateway.new_array(cls, len(items))
        for i, item in enumerate(items):
            out[i] = item
        return out

    cls = jvm.java.lang.Class
    invoke = cls.forName("javax.management.MBeanServer").getMethod(
        "invoke", array(cls, *map(cls.forName, (
            "javax.management.ObjectName", "java.lang.String",
            "[Ljava.lang.Object;", "[Ljava.lang.String;"))))
    string, obj = jvm.java.lang.String, jvm.java.lang.Object
    system = jvm.java.lang.System
    out = system.out  # the JDK prints "Dynamic dump to file" on System.out
    system.setOut(system.err)
    try:
        invoke.invoke(
            jvm.java.lang.management.ManagementFactory
            .getPlatformMBeanServer(),
            array(obj, jvm.javax.management.ObjectName(
                      "com.sun.management:type=DiagnosticCommand"),
                  "vmCds", array(obj, array(string, "dynamic_dump", path)),
                  array(string, "[Ljava.lang.String;")))
    finally:
        with suppress(Py4JError, OSError):  # the dump may have ended the JVM
            system.setOut(out)


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home
    return os.path.realpath(_find_spark_home())


def archive_path(environ) -> str:
    """The archive's file name for the JVM and Spark jars that a gateway
    launched under ``environ`` runs (the launcher's choice of java:
    ``$JAVA_HOME/bin/java``, else ``java`` on the PATH)."""
    java = (os.path.join(environ["JAVA_HOME"], "bin", "java")
            if environ.get("JAVA_HOME")
            else shutil.which("java", path=environ.get("PATH")))
    if java is None:
        raise FileNotFoundError("no java on the PATH")
    java = os.path.realpath(java)
    h = hashlib.sha256(java.encode())
    with open(os.path.join(os.path.dirname(os.path.dirname(java)),
                           "release"), "rb") as f:
        h.update(f.read())
    home = _spark_home()
    h.update(home.encode())
    with os.scandir(os.path.join(home, "jars")) as jars:
        for e in sorted(jars, key=lambda e: e.name):
            st = e.stat()
            h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    cache = environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "htmlparser_spark",
                        f"session-{h.hexdigest()[:24]}.jsa")


def plan(environ, launches: bool) -> Launch:
    """The archive options of this process's gateway launch. ``launches``:
    the session about to be built starts the gateway JVM with the default
    classpath. Any failure to read or write the cache gives no options."""
    if (not launches or environ.get("PYSPARK_GATEWAY_PORT")
            or any(environ.get(k) for k in CLASSPATH_ENV)):
        return Launch()
    try:
        conf_dir = (environ.get("SPARK_CONF_DIR")
                    or os.path.join(_spark_home(), "conf"))
        if os.path.isdir(conf_dir) and any(
                not n.endswith(".template") for n in os.listdir(conf_dir)):
            return Launch()
        final = archive_path(environ)
        empty = os.path.join(os.path.dirname(final), "conf")
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return Launch()
        if os.path.isfile(final):
            return Launch(f"-XX:SharedArchiveFile={final} {QUIET}", empty)
        if (os.path.exists(final[:-len(".jsa")] + ".failed")
                or shutil.disk_usage(empty).free < MIN_FREE):
            return Launch()
        return _claim_dump(final, empty)
    except OSError:
        return Launch()


def _claim_dump(final: str, empty: str) -> Launch:
    """Dump options if this process gets the dump claim (an flock on
    ``<key>.lock``, which the kernel releases when its holder dies), else
    none: a second session would pay the dump for nothing."""
    key = final[:-len(".jsa")]
    lock = os.open(key + ".lock", os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        os.close(lock)
        return Launch()
    # the claim was free, so whoever wrote these is gone and never promotes
    for stale in glob.glob(glob.escape(key) + ".*.part"):
        with suppress(OSError):
            os.unlink(stale)
    return Launch(f"-XX:+RecordDynamicDumpInfo {QUIET}", empty, final, lock)
