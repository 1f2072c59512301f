"""The end-to-end extraction pipeline (SURVEY.md §2.3, S1-S11).

scan → prune/filter → per-url dedup → explicit url-hash partitioning with
size-tier skew salting → Arrow kernel → sink + per-partition lineage +
error-counter metrics; exact resume via anti-join on completed partitions.

Designed for a 1000-executor cluster reading an Iceberg table at 10^12-doc
scale; in this sandbox it runs against parquet on local[N]. Every shuffle is
explicit and keyed on deterministic functions of the data (url hash), never
on task ids, so resume and re-runs are stable.
"""
from __future__ import annotations

import os
import re
from functools import lru_cache, partial, reduce

from pyspark import SparkContext
from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions.partitioning import bucket

from .._rowmap import local_frame
from . import cds
from .kernel_stage import parse_batch, parsed_schema
from .schema import (
    LINEAGE_SCHEMA, PAGES_SCHEMA, PARSED_LINK_FIELDS, PARSED_SCHEMA)

DEFAULT_SALT_THRESHOLD = 1 << 20  # pages larger than 1 MiB get their own tier
SALT_BUCKETS = 16  # salt values that such a page is spread across
KERNEL_INPUT_COLS = ("url", "warc_ts", "html", "lang")
# Ceiling of B, the bucket count of part_key = pmod(xxhash64(url), B). A
# part_key dir is the unit of resume AND of sink files, so each run sizes B
# to its input (sink_buckets) and a resume adopts the B in the manifest.
PART_KEY_BUCKETS = 4096
BUCKET_TARGET_BYTES = 256 << 20  # scanned source bytes per bucket
# Floor of B per shuffle partition: repartition(N, part_key) hashes the key
# again, and B = N keys leave ~1/e of the post-exchange tasks empty and the
# fullest at 2-5x the mean; B = 4N leaves none empty up to N = 64 (1.5-2.75x).
MIN_BUCKETS_PER_PARTITION = 4
LINEAGE_FORMAT = 2  # bump it with any change to LINEAGE_SCHEMA's meaning
# The emit_links parsed sink: PARSED_SCHEMA plus the web-graph columns.
EMIT_LINKS_COLUMNS = [f.name
                      for f in PARSED_SCHEMA.fields + PARSED_LINK_FIELDS]


# The runtime confs of every session of the job (build_session's and
# scripts/run_job.py's); the launcher sets master, shuffles and JVM options.
SESSION_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    # rows are also BYTE-capped per batch, so a run of multi-MB pages
    # can't assemble a 512-row x 5 MB = 2.5 GB Arrow batch in a worker
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 << 20),
    "spark.python.worker.reuse": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    # list up to 1024 dirs on the driver: above the default 32 a stream
    # of drop dirs paid a ~0.25 s listing job per scan and per trigger
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
    # no call-site capture (~4 py4j round trips per Column call, IPython
    # import on the first); errors lose it unless extra_conf sets "true"
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}
# the driver JVM's class archive (cds.plan), decided by the first
# build_session of the process: an option that changed between two calls
# would make the second refuse the session the first one built
_ARCHIVE = None


def build_session(app="htmlparser-spark", cpus=None, shuffle_partitions=None,
                  extra_conf=None) -> SparkSession:
    """Session tuned for the kernel stage: Arrow batches sized for large
    binary cells, AQE on as the skew backstop, Python workers reused.
    ``getOrCreate`` hands back a running session without applying static
    confs, so a running session whose master or static confs differ from
    these is refused (ValueError) rather than returned unconfigured.
    A gateway it launches maps the driver JVM's class archive, or dumps
    the classes its start loaded into one (pipeline/cds.py)."""
    global _ARCHIVE
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = f"local[{cpus}]"
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        **SESSION_CONF,
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        # C1-only driver JVM, and on local[N] so is all task code: C2 took
        # ~half its CPU compiling code a one-shot job runs a few times (README)
        "spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=1",
        "spark.ui.enabled": "false",
        **(extra_conf or {})}
    if _ARCHIVE is None:
        _ARCHIVE = cds.plan(os.environ, SparkContext._gateway is None and
                            "spark.driver.extraClassPath" not in conf)
    java = conf["spark.driver.defaultJavaOptions"]
    conf["spark.driver.defaultJavaOptions"] = (
        f"{java} {_ARCHIVE.options}".strip())
    active = SparkSession.getActiveSession()
    if active is not None:  # getOrCreate would hand it back as it is
        stale = {k: active.conf.get(k, None) for k, v in conf.items()
                 if not active.conf.isModifiable(k)
                 and active.conf.get(k, None) != v}
        if active.sparkContext.master != master or stale:
            raise ValueError(
                f"build_session: the running session (master "
                f"{active.sparkContext.master!r}, static confs {stale}) was "
                f"not built with master {master!r} and these confs; call "
                "spark.stop() on it first")
    with _ARCHIVE.environ(os.environ):
        spark = (SparkSession.builder.appName(app).master(master)
                 .config(map=conf).getOrCreate())
    _ARCHIVE.dump(spark)
    return spark


@lru_cache(maxsize=None)
def jvm_class(jvm, name: str):
    """The py4j class ``name`` (a full name) of the gateway view ``jvm``,
    resolved once per view: ``jvm.a.b.C`` is one round trip per segment
    (3.7 ms for ``org.apache.hadoop.fs.Path``, 0.6 ms on a resolved one)."""
    return reduce(getattr, name.split("."), jvm)


def hadoop_path(spark: SparkSession, path: str):
    """(Hadoop ``Path``, its ``FileSystem``) of ``path``, for any scheme
    the session can reach (file, hdfs, s3a)."""
    path = jvm_class(spark._jvm, "org.apache.hadoop.fs.Path")(path)
    return path, path.getFileSystem(spark._jsc.hadoopConfiguration())


# --- S1/S2: scan with pruning ------------------------------------------------

def read_pages(spark: SparkSession, path: str, lang: str | None = None
               ) -> DataFrame:
    """Pages scan. `path` may be a filesystem path (parquet) or an Iceberg
    table identifier like ``catalog.db.pages`` (used when the Iceberg
    runtime is on the classpath — this sandbox ships no iceberg jar, so
    tests exercise the parquet branch; the plan shape downstream is
    identical). Column pruning + predicate pushdown happen in Catalyst:
    only the four kernel columns are read, and the lang filter reaches the
    scan (verified via .explain: ReadSchema/DataFilters)."""
    if _is_table_identifier(path, spark):
        df = spark.table(path)
    else:
        df = spark.read.schema(PAGES_SCHEMA).parquet(path)
    df = df.select(*KERNEL_INPUT_COLS)
    if lang:
        df = df.filter(F.col("lang") == lang)
    return df


_TABLE_IDENT_RE = re.compile(r"^\w+(\.\w+)+$")

# AnalysisException error classes that mean "this name cannot denote a table
# in THIS session's catalog" (identifier shape / catalog capability), probed
# empirically: tableExists('a.b.c') raises REQUIRES_SINGLE_PART_NAMESPACE on
# a session without a 3-part-capable catalog. Anything outside this set
# (metastore outage, permissions) must PROPAGATE — rerouting a real table
# name to the parquet branch during a catalog outage fails later with a
# misleading path-not-found. Deliberate tradeoff: a catalog raising an
# UNLISTED/absent error class for a dotted *path* name (e.g. a legacy
# _LEGACY_ERROR_TEMP_* class from an older Spark or third-party catalog)
# now propagates loudly instead of silently falling back — extend this set
# per-deployment rather than widening the catch.
_IDENT_ERROR_CLASSES = frozenset({
    "REQUIRES_SINGLE_PART_NAMESPACE",
    "INVALID_IDENTIFIER",
    "IDENTIFIER_TOO_MANY_NAME_PARTS",
    "PARSE_SYNTAX_ERROR",
})


def _is_table_identifier(path: str, spark: SparkSession | None = None) -> bool:
    """catalog.db.table vs filesystem path. Shape alone is ambiguous — a
    relative path like ``sf0.001`` or ``pages.v2`` matches dotted-name shape
    — so a shape match is confirmed against the catalog; unknown names fall
    back to the filesystem branch instead of an AnalysisException."""
    if "/" in path or "\\" in path or path.endswith(".parquet"):
        return False
    if not _TABLE_IDENT_RE.match(path):
        return False
    if spark is None:
        return True
    try:
        return spark.catalog.tableExists(path)
    except ParseException:
        return False  # malformed identifier -> filesystem branch
    except AnalysisException as e:
        get_cls = getattr(e, "getErrorClass", None)
        cls = (get_cls() or "") if get_cls else ""
        if cls in _IDENT_ERROR_CLASSES:
            return False
        raise  # infra errors (metastore outage etc.) must propagate


def write_parsed_table(parsed: DataFrame, table: str,
                       create: bool = False) -> None:
    """Iceberg sink for prod: bucket-partitioned on url so downstream
    per-url lookups prune. ``create=True`` (re)creates the table wholesale;
    the default is ``overwritePartitions()`` — dynamic partition overwrite,
    so a resumed run that re-parses some part_keys replaces exactly those
    partitions and leaves completed ones intact (idempotent resume).
    Parquet fallback is in run_pipeline."""
    writer = (parsed.writeTo(table)
              .partitionedBy(bucket(1024, F.col("url"))))
    if create:
        writer.createOrReplace()
    else:
        writer.overwritePartitions()


# --- S6: per-url dedup (latest snapshot wins) --------------------------------

def dedup_latest(df: DataFrame) -> DataFrame:
    """Latest snapshot per url. Tiebreak on equal warc_ts (real crawls DO
    re-fetch within timestamp resolution) is a deterministic function of the
    content — never row order — so re-runs and resume pick the same keeper."""
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.xxhash64("html").desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


# --- S3/S4: explicit partitioning + size-tier salting ------------------------

def with_part_key(df: DataFrame, num_buckets: int = PART_KEY_BUCKETS) -> DataFrame:
    """Deterministic partition key from the url hash — never task ids — so
    lineage/resume is stable across runs (S9)."""
    return df.withColumn(
        "part_key", F.pmod(F.xxhash64("url"), F.lit(num_buckets)).cast("long"))


def sink_buckets(df: DataFrame, num_partitions: int) -> int:
    """B for a fresh sink: one bucket per BUCKET_TARGET_BYTES of Catalyst's
    size estimate of `df` (close to the file bytes for a parquet scan), at
    least MIN_BUCKETS_PER_PARTITION per shuffle partition so the
    post-exchange sink stage stays balanced on a small or under-estimated
    (Python source) input, at most PART_KEY_BUCKETS."""
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    want = max(MIN_BUCKETS_PER_PARTITION * num_partitions,
               -(-est // BUCKET_TARGET_BYTES))
    return max(1, min(PART_KEY_BUCKETS, want))


def repartition_pages(df: DataFrame, num_partitions: int) -> DataFrame:
    """Shuffle on (url, salt): huge pages (heavy CPU in the kernel) get
    spread across SALT_BUCKETS extra buckets so one hot partition can't
    stall the stage; AQE skew handling is the backstop. Keyed on the url
    itself, not part_key: a run may have as few part_keys as partitions,
    and hashing so few keys again would leave kernel tasks idle."""
    salt = F.when(
        F.length("html") > DEFAULT_SALT_THRESHOLD,
        F.pmod(F.xxhash64("url", F.lit(1)), F.lit(SALT_BUCKETS)),
    ).otherwise(F.lit(0))
    return df.withColumn("_salt", salt).repartition(
        num_partitions, "url", "_salt").drop("_salt")


# --- S5 + S8: kernel + metrics ----------------------------------------------

def parse_pages(df: DataFrame, extract: bool = True,
                columns=None) -> DataFrame:
    """Kernel stage — the one way to run the HTML kernel over a DataFrame.
    `columns` prunes the OUTPUT columns (see kernel_stage.parsed_schema): a
    consumer that only aggregates status/counters should not pay to build
    and Arrow-ship text/spans. The optional `links` and `nodes` array
    columns feed the per-link / per-node tables (explode_pages); their
    consumers pass extract=False, which skips main-content extraction.

    If `df` carries an `encoding` column (charset.with_sniffed_encoding —
    or any caller-declared per-page codec label), the kernel re-encodes
    non-UTF-8 pages from it before parsing; absent the column, bytes are
    decoded UTF-8-with-replacement (reference parity)."""
    return df.mapInPandas(partial(parse_batch, extract=extract,
                                  columns=columns),
                          schema=parsed_schema(columns))


def explode_pages(parsed: DataFrame, column: str, *keys: str) -> DataFrame:
    """One row per element of the per-page array `column` of parse_pages'
    output: the `keys` columns, the (url, warc_ts) page key, then the
    element's struct fields — LINKS_SCHEMA for `links`, NODES_SCHEMA for
    `nodes`. A JVM-side generate, so the kernel stage keeps one output row
    per page and one output contract."""
    key = [*keys, "url", "warc_ts"]
    return (parsed.select(*key, F.explode(column).alias("_e"))
            .select(*key, "_e.*"))


def error_counters(parsed: DataFrame) -> DataFrame:
    """S8: tokenizer/tree-construction error counters — map explode + sum."""
    return (parsed.select(F.explode_outer("errors").alias("code", "n"))
            .filter(F.col("code").isNotNull())
            .groupBy("code").agg(F.sum("n").alias("n"))
            .orderBy(F.col("n").desc(), "code"))


def status_counts(parsed: DataFrame) -> DataFrame:
    return parsed.groupBy("status").agg(F.count("*").alias("n")) \
        .orderBy(F.col("n").desc(), "status")


# --- S9: lineage + resume ----------------------------------------------------

def lineage_of(parsed: DataFrame, buckets: int, transcode: bool = False,
               lang: str | None = None) -> DataFrame:
    """Per-partition manifest: row counts + an order-insensitive checksum of
    (url, status, main_text), plus the transcode flag and lang filter the
    partition was parsed under, the bucket count B its part_key was hashed
    with and the manifest's LINEAGE_FORMAT. Written alongside the output; resume
    anti-joins completed part_keys."""
    row_hash = F.xxhash64("url", "status", "main_text")
    return parsed.groupBy("part_key").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
        F.sum("html_bytes").alias("n_bytes"),
        F.sum("n_errors").alias("n_errors"),
        # bit_xor: order-insensitive and overflow-free under ANSI mode
        F.bit_xor(row_hash).alias("checksum"),
    ).withColumns({"transcode": F.lit(bool(transcode)),
                   "lang": F.lit(lang or None).cast("string"),
                   "buckets": F.lit(int(buckets)),
                   "format": F.lit(LINEAGE_FORMAT)})


def run_pipeline(spark: SparkSession, src: str | DataFrame, out_dir: str,
                 *, num_partitions: int | None = None,
                 lang: str | None = None, resume: bool = True,
                 emit_links: bool = False, transcode: bool = False) -> dict:
    """Full job. Returns a metrics dict (S8). Output layout:
    ``{out_dir}/parsed`` (parquet), ``{out_dir}/_lineage`` (parquet), and
    with ``emit_links=True`` also ``{out_dir}/links`` (parquet). The sinks
    are partitioned on part_key = pmod(xxhash64(url), B), with B sized to
    the input (sink_buckets) and recorded in the manifest for resume.

    lang: keep only pages of that language. A resumed sink must keep it,
    like transcode below: the manifest records it per partition.

    transcode: opt-in charset ingest pass (sources/charset.py) — sniff each
    page's encoding (BOM / meta prescan, pure codegen) and re-encode the
    detected non-UTF-8 minority to UTF-8 bytes before the kernel. Default
    OFF: the kernel's UTF-8-replacement decode is the reference-parity path
    (Program.cs:3), and the golden fixtures pin it. The stage is fused into
    the existing scan + kernel stage (sniff = codegen columns, re-encode =
    inside parse_batch where the bytes already cross into Python), so it
    adds no exchange, no second scan, and no extra Arrow hop; content_hash
    stays the hash of the RAW capture bytes. A resumed sink must keep the
    flag it was created with (flipping it changes bytes-parsed for
    non-UTF-8 pages and completed partitions are never re-parsed) —
    ENFORCED: the flag is recorded per-partition in the lineage manifest
    and a mismatch on resume raises.

    emit_links: ONE parse serves two sinks. The kernel additionally builds
    the web-graph columns (outlinks array + robots/canonical/base metadata,
    kernel/links.py); the parsed sink carries them, and the exploded links
    table is derived by reading the just-written sink back (a columnar scan
    of the links column — at 100 TB of html the raw bytes are parsed
    exactly once, never twice). Resume stays incremental: only partitions
    (re)written this run are re-exploded, under the same dynamic partition
    overwrite as the parsed sink.
    """
    if isinstance(src, str):
        df = read_pages(spark, src, lang=lang)
    else:
        # url/warc_ts/html are hard requirements; a missing lang column is
        # defaulted to "" (parse_batch does the same), unless a lang FILTER
        # was requested, which cannot be satisfied without the column.
        # Fail here, with the real cause, rather than deep inside the Arrow
        # kernel stage where a missing column surfaces as an opaque
        # KeyError from a Python worker.
        required = [c for c in KERNEL_INPUT_COLS if c != "lang"]
        if lang:
            required.append("lang")
        missing = [c for c in required if c not in src.columns]
        if missing:
            raise ValueError(
                f"input DataFrame is missing kernel column(s) {missing}; "
                f"the kernel stage requires {required}")
        if "lang" not in src.columns:
            src = src.withColumn("lang", F.lit(""))
        df = src.select(*KERNEL_INPUT_COLS)
        if lang:
            df = df.filter(F.col("lang") == lang)
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism

    # Pipeline shape: parse FIRST, map-only, then ONE exchange of the (much
    # smaller) parsed output. The raw html never crosses an exchange:
    # file/table scans already hand the kernel byte-balanced splits, and
    # parse cost is proportional to bytes (docs/PLANS.md §1). Duplicate
    # snapshots (~5-20% of a crawl) are parsed before being deduped —
    # proportional extra CPU, traded for no full-corpus shuffle (parse is
    # deterministic, so dedup-after-parse yields byte-identical output).
    if transcode:
        # FUSED into the kernel stage: with_sniffed_encoding adds the
        # (codegen) `encoding` column in the same scan projection, and
        # parse_batch re-encodes the non-UTF-8 minority where the bytes
        # enter Python anyway — one source scan, no extra Python hop.
        from htmlparser_spark.sources.charset import with_sniffed_encoding
        df = with_sniffed_encoding(df).drop("method")
    parsed_path = os.path.join(out_dir, "parsed")
    lineage_path = os.path.join(out_dir, "_lineage")
    links_path = os.path.join(out_dir, "links")
    # manifest rows are COLLECTED (≤ B rows) so the lineage update below can
    # union them back without re-reading lineage_path while overwriting it
    done_rows = []
    # a fresh out_dir has no manifest: ask the filesystem rather than let a
    # Spark read fail; the except still covers a manifest it cannot read
    lineage, lineage_fs = hadoop_path(spark, lineage_path)
    if resume and lineage_fs.exists(lineage):
        try:
            done_rows = (spark.read.schema(LINEAGE_SCHEMA)
                         .parquet(lineage_path).collect())
        except Exception:
            done_rows = []
    if done_rows:
        # completed partitions are never re-parsed, so a resume adopts the
        # recorded B and refuses a transcode flag or lang filter other
        # than its own, and any manifest it cannot vouch for
        formats = {r.format for r in done_rows}
        if formats != {LINEAGE_FORMAT}:
            raise ValueError(f"resumed sink's manifest has format {formats}, "
                             f"not {{{LINEAGE_FORMAT}}}; re-run with resume="
                             f"False (full re-parse) or a fresh out_dir")
        recorded = {r.buckets for r in done_rows}
        if None in recorded or len(recorded) != 1:
            raise ValueError(f"resumed sink's manifest records bucket counts "
                             f"{recorded}, not one; re-run with resume=False "
                             f"(full re-parse) or a fresh out_dir")
        (num_buckets,) = recorded
        for name, value in (("transcode", bool(transcode)),
                            ("lang", lang or None)):
            prior = {r[name] for r in done_rows}
            if prior != {value}:
                raise ValueError(
                    f"{name}={value!r} on a resumed sink whose completed "
                    f"partitions were parsed with {name}="
                    f"{sorted(prior, key=str)}; re-run with resume=False "
                    f"(full re-parse) or a fresh out_dir")
    else:
        num_buckets = sink_buckets(df, num_partitions)
    if emit_links and done_rows:
        # the completed part_keys of a sink written without link columns
        # are never re-parsed, so the read-back explode would fail to
        # resolve `links` or leave holes in the links sink: fail fast
        try:
            sink_cols = set(spark.read.parquet(parsed_path).columns)
        except Exception:
            sink_cols = None  # no sink yet (manifest without data): re-parse
        if sink_cols is not None and "links" not in sink_cols:
            raise ValueError(
                "emit_links=True on a resumed sink that was written without "
                "link columns; re-run with resume=False (full re-parse) or "
                "a fresh out_dir")
    df = with_part_key(df, num_buckets)
    # raw-content fingerprint for the post-parse dedup tiebreak, computed
    # JVM-side while html is in hand and passed through the kernel
    df = df.withColumn("content_hash", F.xxhash64("html"))
    done_keys = sorted({r.part_key for r in done_rows})
    if done_keys:
        df = df.join(F.broadcast(local_frame(
            spark, [(k,) for k in done_keys], "part_key long")), "part_key",
            "left_anti")

    if not isinstance(src, str):
        # a caller-supplied DataFrame gives no byte-balance guarantee (it
        # may be the output of a row-balanced shuffle holding all the huge
        # pages in one partition) — only here is the explicit url-hash
        # repartition + size-tier salting (S3/S4) worth a raw-page shuffle
        df = repartition_pages(df, num_partitions)
    columns = EMIT_LINKS_COLUMNS if emit_links else None
    parsed = parse_pages(df, columns=columns)
    # the single exchange: parsed rows, keyed on part_key — it clusters the
    # partitionBy(part_key) sink AND (because part_key is a function of url)
    # co-locates every snapshot of a url for the dedup window below
    parsed = parsed.repartition(num_partitions, "part_key")
    # S6 latest-snapshot-wins on the parsed rows. partitionBy(part_key,url)
    # is satisfied by the part_key hashpartitioning already in place (hash
    # exprs ⊆ window clustering), so this adds a sort but NO new exchange —
    # verified in the executed plan (docs/PLANS.md). Tiebreak matches
    # dedup_latest: deterministic on raw content, never row order.
    w = Window.partitionBy("part_key", "url").orderBy(
        F.col("warc_ts").desc(), F.col("content_hash").desc())
    parsed = (parsed.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))
    parsed = parsed.observe(
        "kernel_metrics",
        F.count(F.lit(1)).alias("pages"),
        F.sum("html_bytes").alias("bytes"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok_pages"),
        F.sum("n_errors").alias("parse_errors"),
    )
    # hive-style layout keyed on the deterministic part_key: resume can
    # reason about (and re-write) whole partitions, and downstream scans get
    # partition pruning on the same key. DYNAMIC partition overwrite (not
    # append) closes the crash window between this write committing and the
    # lineage manifest below being written: the next resume re-parses the
    # unrecorded part_keys and replaces exactly those partitions, never
    # duplicating rows (the parquet mirror of the Iceberg sink's
    # overwritePartitions()). With no completed partition this run
    # re-parses everything, so the overwrite is STATIC: a sink whose
    # manifest never landed may be keyed with another B. It drops the old
    # sink first, so the old manifest and links go before it: a crash then
    # leaves no manifest, and the next resume starts over.
    overwrite = "dynamic" if done_rows else "static"
    if not done_rows:
        for stale in (lineage_path, links_path):
            path, fs = hadoop_path(spark, stale)
            fs.delete(path, True)
    (parsed.write.mode("overwrite")
     .option("partitionOverwriteMode", overwrite)
     .partitionBy("part_key").parquet(parsed_path))

    # known schema: no footer-inference job over the sink's files
    out = spark.read.schema(parsed_schema(columns)).parquet(parsed_path)
    # INCREMENTAL lineage: hash only the partitions THIS run (re)wrote —
    # the isin() literal on the hive partition column prunes at planning,
    # so a resume run never re-reads the completed partitions, which keep
    # their collected manifest rows verbatim; crash-window partitions
    # (parsed but unrecorded) are NOT in done_rows, so they are re-hashed
    # from the freshly overwritten data.
    inc = out.filter(~F.col("part_key").isin(done_keys)) if done_keys else out
    if emit_links:
        # exploded links table from the sink just written — `inc` scans only
        # this run's partitions (isin prunes at planning) and parquet reads
        # only the key + links columns, so a resume run neither re-parses
        # nor re-reads completed partitions' text. MUST happen BEFORE the
        # lineage write: once a part_key is in the manifest the next resume
        # skips it for good, so every derived sink has to be durable first —
        # a crash anywhere in between re-parses the unrecorded partitions
        # and dynamic overwrite makes the re-writes idempotent.
        (explode_pages(inc, "links", "part_key").write.mode("overwrite")
         .option("partitionOverwriteMode", overwrite)
         .partitionBy("part_key").parquet(links_path))

    new_lineage = lineage_of(inc, num_buckets, transcode=transcode,
                             lang=lang)
    if done_rows:
        new_lineage = new_lineage.unionByName(
            local_frame(spark, done_rows, LINEAGE_SCHEMA))
    new_lineage.write.mode("overwrite").parquet(lineage_path)

    # job metrics come from the manifest (≤ B rows — the write above just
    # computed it), never from a scan of the sink; the
    # Spark-side `observe` above still exposes this run's live counters on
    # the write's query execution for listeners
    m = (spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
         .agg(F.sum("n_rows").alias("pages"),
              F.sum("n_bytes").alias("bytes"),
              F.sum("n_ok").alias("ok_pages"),
              F.sum("n_errors").alias("parse_errors")).collect()[0])
    return {k: (0 if v is None else int(v)) for k, v in m.asDict().items()}


# --- S11: golden-diff validator ----------------------------------------------

def golden_diff(parsed: DataFrame, golden: DataFrame) -> DataFrame:
    """Rows whose extracted text differs from the golden table — must be
    empty for the byte-identical gate."""
    p = parsed.select("url", F.col("status").alias("p_status"),
                      F.col("text").alias("p_text"),
                      F.col("main_text").alias("p_main"))
    g = golden.select("url", F.col("status").alias("g_status"),
                      F.col("text").alias("g_text"),
                      F.col("main_text").alias("g_main"))
    joined = p.join(g, "url", "full_outer")
    return joined.filter(
        (F.col("p_status") != F.col("g_status"))
        | (F.col("p_text") != F.col("g_text"))
        | (F.col("p_main") != F.col("g_main"))
        | F.col("p_status").isNull() | F.col("g_status").isNull())
