"""Spark end-to-end tests (SURVEY.md §5.2 item 4).

synthetic corpus → pipeline → per-url equality with the kernel applied
row-wise (the oracle), resume-after-kill, dedup, metrics, nodes table.
"""
import os
import shutil
import sys

import pytest
from pyspark.sql import DataFrameReader, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from htmlparser_spark.kernel import parse_html
from htmlparser_spark.pipeline import job
from htmlparser_spark.pipeline.job import (
    dedup_latest, error_counters, explode_pages, golden_diff, lineage_of,
    parse_pages, run_pipeline, status_counts, with_part_key,
)
from htmlparser_spark.pipeline.schema import LINEAGE_SCHEMA, NODES_SCHEMA
from htmlparser_spark.synth import synth_pages

N_PAGES = 400


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("PYTHONPATH",
                          os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    s = (SparkSession.builder.master("local[2]")
         .appName("htmlparser-spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.executorEnv.PYTHONPATH",
                 os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
         .getOrCreate())
    yield s
    s.stop()


def recorded_buckets(spark, out):
    """The set of bucket counts B on the manifest rows of sink `out`."""
    return {r.buckets for r in spark.read.schema(LINEAGE_SCHEMA)
            .parquet(os.path.join(out, "_lineage")).collect()}


@pytest.fixture(scope="module")
def corpus(spark):
    df = synth_pages(spark, N_PAGES, seed=42, partitions=4)
    df.cache()
    df.count()
    return df


def test_synth_deterministic(spark):
    a = synth_pages(spark, 50, seed=42, partitions=2).orderBy("url", "warc_ts").collect()
    b = synth_pages(spark, 50, seed=42, partitions=3).orderBy("url", "warc_ts").collect()
    assert [(r.url, r.warc_ts, bytes(r.html)) for r in a] == \
           [(r.url, r.warc_ts, bytes(r.html)) for r in b]


def test_pipeline_matches_rowwise_oracle(spark, corpus, tmp_path):
    out = str(tmp_path / "out")
    metrics = run_pipeline(spark, corpus, out, num_partitions=8)
    assert metrics["pages"] > 0
    parsed = spark.read.parquet(os.path.join(out, "parsed"))

    # oracle: dedup locally, parse locally, byte-compare per url (S11)
    rows = dedup_latest(corpus).collect()
    gold = {}
    for r in rows:
        k = parse_html(bytes(r.html)) if r.html is not None else None
        gold[r.url] = k
    got = {r.url: r for r in parsed.collect()}
    assert set(got) == set(gold)
    n_ok = 0
    for url, g in gold.items():
        p = got[url]
        assert p.status == g["status"], url
        assert p.text == g["text"], url
        assert p.main_text == g["main_text"], url
        assert p.title == g["title"], url
        assert (p.errors or {}) == {k: v for k, v in g["errors"].items()}, url
        if p.status == "ok":
            n_ok += 1
    assert n_ok > len(gold) * 0.7  # mix has ~5% crashers + truncations

    # byte-identical gate via the golden_diff operator itself
    g_rows = [(u, g["status"], g["text"], g["main_text"]) for u, g in gold.items()]
    golden = spark.createDataFrame(g_rows, "url string, status string, text string, main_text string")
    assert golden_diff(parsed, golden).count() == 0


def test_dedup_latest_wins(spark, corpus):
    deduped = dedup_latest(corpus)
    assert deduped.groupBy("url").count().filter("count > 1").count() == 0
    # a duplicated url must keep the LATEST snapshot
    dup_urls = (corpus.groupBy("url").count().filter("count > 1")
                .select("url").limit(1).collect())
    if dup_urls:
        u = dup_urls[0].url
        latest = corpus.filter(F.col("url") == u).agg(F.max("warc_ts")).collect()[0][0]
        kept = deduped.filter(F.col("url") == u).collect()[0].warc_ts
        assert kept == latest


def test_dedup_latest_tiebreak_deterministic(spark):
    """Equal warc_ts snapshots (real crawls re-fetch within ts resolution):
    the keeper must be a deterministic function of content, not row order."""
    import datetime
    ts = datetime.datetime(2024, 1, 1)
    rows = [("u://tie", ts, b"<p>version A</p>", "en", ""),
            ("u://tie", ts, b"<p>version B</p>", "en", "")]
    from htmlparser_spark.pipeline.schema import PAGES_SCHEMA
    kept = set()
    for parts in (1, 2, 3):  # vary physical row order via partitioning
        df = spark.createDataFrame(rows, PAGES_SCHEMA).repartition(parts)
        kept.add(bytes(dedup_latest(df).collect()[0].html))
    assert len(kept) == 1
    expect = (spark.createDataFrame(rows, PAGES_SCHEMA)
              .withColumn("h", F.xxhash64("html"))
              .orderBy(F.col("h").desc()).limit(1).collect()[0])
    assert kept == {bytes(expect.html)}


def test_iceberg_identifier_routing(spark):
    """Dotted names that are NOT catalog tables must route to the
    filesystem branch (ADVICE: 'sf0.001' used to raise AnalysisException)."""
    from htmlparser_spark.pipeline.job import _is_table_identifier
    assert not _is_table_identifier("/data/sf0.001", spark)
    assert not _is_table_identifier("pages.parquet", spark)
    assert not _is_table_identifier("sf0.001", spark)   # not in catalog
    assert not _is_table_identifier("pages.v2", spark)  # not in catalog
    assert not _is_table_identifier("plainname", spark)
    # shape-only check (no catalog available, e.g. doc examples)
    assert _is_table_identifier("catalog.db.pages", None)


def test_write_parsed_table_uses_partition_overwrite(spark):
    """Resume semantics of the Iceberg sink (no iceberg jar in sandbox, so
    the writer chain is verified against a duck-typed recorder): default
    resume path must use dynamic partition overwrite, create=True replaces.
    The session fixture is needed because the bucket transform requires an
    active SparkContext. The transform is partitioning.bucket: F.bucket is
    deprecated in PySpark 4 and warns on every call."""
    import warnings

    from htmlparser_spark.pipeline.job import write_parsed_table

    calls = []

    class FakeWriter:
        def partitionedBy(self, *a):
            calls.append("partitionedBy")
            return self

        def createOrReplace(self):
            calls.append("createOrReplace")

        def overwritePartitions(self):
            calls.append("overwritePartitions")

    class FakeDF:
        def writeTo(self, table):
            calls.append(f"writeTo:{table}")
            return FakeWriter()

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        write_parsed_table(FakeDF(), "cat.db.parsed")
    assert not [w for w in caught
                if issubclass(w.category, FutureWarning)], \
        [str(w.message) for w in caught]
    assert calls == ["writeTo:cat.db.parsed", "partitionedBy",
                     "overwritePartitions"]
    calls.clear()
    write_parsed_table(FakeDF(), "cat.db.parsed", create=True)
    assert calls == ["writeTo:cat.db.parsed", "partitionedBy",
                     "createOrReplace"]


def test_resume_after_kill(spark, corpus, tmp_path):
    out_full = str(tmp_path / "full")
    out_resume = str(tmp_path / "resume")
    run_pipeline(spark, corpus, out_full, num_partitions=8)
    full = spark.read.parquet(os.path.join(out_full, "parsed"))
    (buckets,) = recorded_buckets(spark, out_full)
    full_checksum = lineage_of(full, buckets).orderBy("part_key").collect()

    # fresh run, then simulate a kill: drop half the output partitions and
    # their lineage rows
    run_pipeline(spark, corpus, out_resume, num_partitions=8)
    lineage_path = os.path.join(out_resume, "_lineage")
    parsed_path = os.path.join(out_resume, "parsed")
    keys = sorted(int(d.split("=")[1]) for d in os.listdir(parsed_path)
                  if d.startswith("part_key="))
    assert len(keys) >= 2  # else killing half the partitions is vacuous
    killed = keys[::2]
    for k in killed:
        shutil.rmtree(os.path.join(parsed_path, f"part_key={k}"))
    keep = spark.read.parquet(lineage_path).filter(~F.col("part_key").isin(killed))
    keep_rows = keep.collect()
    shutil.rmtree(lineage_path)
    spark.createDataFrame(keep_rows, keep.schema).write.parquet(lineage_path)

    # resume: must reprocess exactly the killed partitions
    run_pipeline(spark, corpus, out_resume, num_partitions=8)
    resumed = spark.read.parquet(parsed_path)
    assert recorded_buckets(spark, out_resume) == {buckets}
    resumed_checksum = lineage_of(resumed, buckets).orderBy("part_key").collect()
    assert [r.asDict() for r in resumed_checksum] == \
           [r.asDict() for r in full_checksum]


def test_resume_after_lineage_lost_does_not_duplicate(spark, corpus, tmp_path):
    """The commit/lineage crash window: parsed parquet for some part_keys is
    COMMITTED but the driver dies before their lineage rows land. The next
    resume run re-parses those part_keys — dynamic partition overwrite must
    REPLACE the orphaned partitions, never append a second copy."""
    out = str(tmp_path / "out")
    run_pipeline(spark, corpus, out, num_partitions=8)
    parsed_path = os.path.join(out, "parsed")
    lineage_path = os.path.join(out, "_lineage")
    baseline = spark.read.parquet(parsed_path)
    n_rows = baseline.count()
    n_pages = baseline.select("url", "warc_ts").distinct().count()
    assert n_rows == n_pages  # sanity: one row per page snapshot

    # simulate the crash window: drop HALF the lineage rows but keep ALL
    # parsed data (the write committed; the manifest didn't)
    keys = sorted(int(d.split("=")[1]) for d in os.listdir(parsed_path)
                  if d.startswith("part_key="))
    assert len(keys) >= 2  # else losing half the manifest is vacuous
    lost = keys[::2]
    keep = spark.read.parquet(lineage_path).filter(
        ~F.col("part_key").isin(lost)).collect()
    shutil.rmtree(lineage_path)
    spark.createDataFrame(keep, LINEAGE_SCHEMA).write.parquet(lineage_path)

    run_pipeline(spark, corpus, out, num_partitions=8)
    resumed = spark.read.parquet(parsed_path)
    assert resumed.count() == n_rows  # zero duplicate rows
    dups = (resumed.groupBy("url", "warc_ts").count()
            .filter(F.col("count") > 1).count())
    assert dups == 0


def test_lineage_probe_reads_only_an_existing_manifest(spark, corpus, tmp_path,
                                                       monkeypatch):
    """A fresh out_dir is recognised by a filesystem check, not by a Spark
    read of the missing manifest; a manifest that exists but cannot be
    read still falls back to a full re-parse."""
    read_parquet = DataFrameReader.parquet
    missing = []

    def spy(self, *paths, **kw):
        missing.extend(p for p in paths if not os.path.exists(p))
        return read_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    out = str(tmp_path / "out")
    first = run_pipeline(spark, corpus, out, num_partitions=4)
    assert missing == []

    lineage_path = os.path.join(out, "_lineage")
    shutil.rmtree(lineage_path)
    os.makedirs(lineage_path)
    with open(os.path.join(lineage_path, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    assert run_pipeline(spark, corpus, out, num_partitions=4) == first
    sink = spark.read.parquet(os.path.join(out, "parsed"))
    assert sink.count() == sink.select("url", "warc_ts").distinct().count()
    assert recorded_buckets(spark, out) == {16}


def test_missing_kernel_columns_fail_fast(spark, corpus, tmp_path):
    """A DataFrame source lacking kernel columns must raise immediately,
    naming the missing columns — not fall through to a worker KeyError."""
    bad = corpus.drop("html", "lang")
    with pytest.raises(ValueError, match=r"missing kernel column.*html"):
        run_pipeline(spark, bad, str(tmp_path / "out"))


def _resume_refuses(spark, corpus, tmp_path, cases):
    """Each of ``cases`` — (rows of the written manifest → the manifest to
    put in its place, its schema, refusal regex) — makes a resume refuse,
    naming the ways out, and leave the sink and the manifest untouched."""
    out = str(tmp_path / "out")
    run_pipeline(spark, corpus, out, num_partitions=4)
    lineage_path = os.path.join(out, "_lineage")
    rows = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path).collect()
    assert len(rows) >= 2 and {(r.buckets, r.format) for r in rows} == {(16, 1)}

    def snapshot():
        return sorted((os.path.join(d, f), os.stat(os.path.join(d, f)).st_size,
                       os.stat(os.path.join(d, f)).st_mtime_ns)
                      for d, _, files in os.walk(out) for f in files)

    for manifest, schema, refusal in cases:
        shutil.rmtree(lineage_path)
        spark.createDataFrame(manifest(rows), schema).write.parquet(
            lineage_path)
        before = snapshot()
        with pytest.raises(ValueError,
                           match=refusal + r".*resume=False.*fresh out_dir"):
            run_pipeline(spark, corpus, out, num_partitions=4)
        assert snapshot() == before


def _ddl(fields):
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)


def test_resume_refuses_lineage_without_one_bucket_count(spark, corpus,
                                                        tmp_path):
    """A manifest that does not record exactly one bucket count B — without
    a `buckets` value, or mixing two counts — cannot tell a resume how urls
    were keyed into part_keys."""
    _resume_refuses(spark, corpus, tmp_path, [
        (lambda rows: [{**r.asDict(), "buckets": None} for r in rows],
         LINEAGE_SCHEMA, r"bucket counts \{None\}"),
        (lambda rows: [{**r.asDict(), "buckets": 16 + i % 2}
                       for i, r in enumerate(rows)],
         LINEAGE_SCHEMA, r"bucket counts \{16, 17\}")])


def test_resume_refuses_lineage_of_another_format(spark, corpus, tmp_path):
    """A manifest whose rows lack the layout `format` (written before it
    existed, with or without `buckets`) or hold another one is refused
    before any of its other columns is read."""
    no_format = [f for f in LINEAGE_SCHEMA.fields if f.name != "format"]
    legacy = [f for f in no_format if f.name in (
        "part_key", "n_rows", "n_ok", "checksum")]
    _resume_refuses(spark, corpus, tmp_path, [
        (lambda rows: [tuple(r[f.name] for f in legacy) for r in rows],
         _ddl(legacy), r"format \{None\}"),
        (lambda rows: [tuple(r[f.name] for f in no_format) for r in rows],
         _ddl(no_format), r"format \{None\}"),
        (lambda rows: [{**r.asDict(), "format": 2} for r in rows],
         LINEAGE_SCHEMA, r"format \{2\}")])


def test_sink_layout_sized_to_input(spark, tmp_path):
    """Over a small parquet source the sink has B = 4 x num_partitions
    buckets, not one per page: one parquet file per part_key dir, at most B dirs,
    and B on every manifest row. A resume under another num_partitions
    adopts the recorded B; a rerun whose whole manifest was lost derives
    its own B and replaces the sink, leaving no partition of the old
    layout behind."""
    src = str(tmp_path / "src")
    synth_pages(spark, 120, seed=5).write.parquet(src)
    out = str(tmp_path / "out")
    parsed_path = os.path.join(out, "parsed")
    lineage_path = os.path.join(out, "_lineage")

    def layout():
        dirs = sorted(d for d in os.listdir(parsed_path)
                      if d.startswith("part_key="))
        n_files = [sum(f.endswith(".parquet")
                       for f in os.listdir(os.path.join(parsed_path, d)))
                   for d in dirs]
        return dirs, n_files

    def sink_rows():
        return sorted(map(tuple, spark.read.parquet(parsed_path)
                          .select("part_key", "url", "warc_ts",
                                  "main_text").collect()))

    run_pipeline(spark, src, out, num_partitions=5)
    dirs, n_files = layout()
    assert 2 <= len(dirs) <= 20 and n_files == [1] * len(dirs)
    assert recorded_buckets(spark, out) == {20}
    full = sink_rows()

    killed = int(dirs[0].split("=")[1])
    shutil.rmtree(os.path.join(parsed_path, dirs[0]))
    keep = (spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
            .filter(F.col("part_key") != killed).collect())
    shutil.rmtree(lineage_path)
    spark.createDataFrame(keep, LINEAGE_SCHEMA).write.parquet(lineage_path)
    run_pipeline(spark, src, out, num_partitions=3)
    assert layout() == (dirs, n_files)
    assert recorded_buckets(spark, out) == {20}
    assert sink_rows() == full

    shutil.rmtree(lineage_path)
    run_pipeline(spark, src, out, num_partitions=3)
    dirs, n_files = layout()
    assert 2 <= len(dirs) <= 12 and n_files == [1] * len(dirs)
    assert recorded_buckets(spark, out) == {12}
    rows = sink_rows()
    assert sorted(r[1:] for r in rows) == sorted(r[1:] for r in full)


def test_fresh_run_crash_before_manifest_resumes_in_full(spark, corpus,
                                                         tmp_path,
                                                         monkeypatch):
    """A run with no completed partition overwrites the sink statically,
    which drops every old partition before it writes. If it dies between
    the sink write and the manifest write, the old manifest must not
    survive to vouch for the new sink (here keyed with another B): the next
    resume re-derives B, re-parses everything and ends with the sink and
    metrics of a full run."""
    out = str(tmp_path / "out")

    def sink_rows():
        return sorted(map(tuple, spark.read.parquet(os.path.join(out, "parsed"))
                          .select("part_key", "url", "warc_ts", "status",
                                  "main_text").collect()))

    m_full = run_pipeline(spark, corpus, out, num_partitions=8)
    full, buckets = sink_rows(), recorded_buckets(spark, out)

    def crash(*args, **kwargs):
        raise RuntimeError("driver died before the manifest write")

    monkeypatch.setattr(job, "lineage_of", crash)
    with pytest.raises(RuntimeError, match="driver died"):
        run_pipeline(spark, corpus, out, num_partitions=2, resume=False)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(out, "_lineage"))

    m = run_pipeline(spark, corpus, out, num_partitions=8)
    assert sink_rows() == full
    assert recorded_buckets(spark, out) == buckets
    assert m == m_full


def test_parse_pages_output_column_pruning(spark, corpus):
    """parse_pages(columns=...) must yield exactly the requested columns (in
    canonical schema order) with values identical to the full-schema run —
    the manual mapInPandas equivalent of Catalyst column pruning. The
    optional links / meta / nodes columns prune the same way."""
    from htmlparser_spark.pipeline.kernel_stage import parsed_schema
    from htmlparser_spark.pipeline.schema import PARSED_FULL_SCHEMA

    small = corpus.limit(40)
    cols = ("main_text", "status", "url", "html_bytes")  # order ≠ canonical
    pruned = parse_pages(small, columns=cols)
    assert [f.name for f in pruned.schema.fields] == \
        ["url", "status", "main_text", "html_bytes"]
    full = parse_pages(small).select("url", "status", "main_text",
                                     "html_bytes")
    assert sorted(map(tuple, pruned.collect())) == \
        sorted(map(tuple, full.collect()))
    opt = ("nodes", "canonical", "warc_ts", "links", "robots_nofollow",
           "url", "meta_description", "base_href", "robots_noindex")
    pruned = parse_pages(small, extract=False, columns=opt)
    names = [f.name for f in pruned.schema.fields]
    assert names == ["url", "warc_ts", "links", "base_href", "canonical",
                     "robots_noindex", "robots_nofollow", "meta_description",
                     "nodes"]
    every = [f.name for f in PARSED_FULL_SCHEMA.fields]
    full = parse_pages(small, extract=False, columns=every).select(*names)
    rows = pruned.collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, full.collect()))
    assert sum(len(r.links) for r in rows) > 0
    assert all(r.nodes for r in rows)
    with pytest.raises(ValueError, match="unknown parsed columns"):
        parsed_schema(("status", "nope"))


def test_rerun_is_noop(spark, corpus, tmp_path):
    out = str(tmp_path / "out")
    m1 = run_pipeline(spark, corpus, out, num_partitions=4)
    m2 = run_pipeline(spark, corpus, out, num_partitions=4)
    assert m2["pages"] == m1["pages"]  # nothing appended


def test_error_counters_and_status(spark, corpus, tmp_path):
    out = str(tmp_path / "out")
    run_pipeline(spark, corpus, out, num_partitions=4)
    parsed = spark.read.parquet(os.path.join(out, "parsed"))
    st = {r.status: r.n for r in status_counts(parsed).collect()}
    assert st.get("ok", 0) > 0
    errs = {r.code: r.n for r in error_counters(parsed).collect()}
    assert all(n > 0 for n in errs.values())
    # crasher pages must be present as error rows, never missing rows
    assert sum(n for s, n in st.items() if s != "ok") > 0


def test_nodes_table(spark, corpus):
    pages = dedup_latest(corpus).limit(30).select("url", "warc_ts", "html")
    pages = pages.collect()
    small = spark.createDataFrame(pages, "url string, warc_ts timestamp, "
                                         "html binary")
    parsed = parse_pages(small, extract=False,
                         columns=["url", "warc_ts", "nodes"])
    nodes = explode_pages(parsed, "nodes")
    assert nodes.schema == NODES_SCHEMA
    # row-identical to the kernel's arena rows applied page by page
    exp = sorted(
        (r.url, r.warc_ts, *row) for r in pages
        for row in parse_html(r.html, extract=False, want_dom=False,
                              want_nodes=True)["nodes"])
    assert sorted(map(tuple, nodes.collect())) == exp
    pdf = nodes.toPandas()
    assert (pdf.groupby("url")["node_id"].min() == 0).all()
    roots = pdf[pdf.node_id == 0]
    assert (roots.kind == "Document").all()
    assert (roots.parent_id == -1).all()
    # subtree_text_len of the root == sum of direct text lens per url
    agg = pdf.groupby("url").agg(total=("text_len", "sum"))
    root_totals = roots.set_index("url")["subtree_text_len"]
    for url, row in agg.iterrows():
        assert root_totals[url] == row["total"]


def test_kernel_plan_is_pruned(spark, corpus, tmp_path):
    """Column pruning: the kernel stage scan must not read the `text` column."""
    src = str(tmp_path / "src")
    corpus.write.parquet(src)
    from htmlparser_spark.pipeline.job import read_pages
    df = read_pages(spark, src, lang="en")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    assert "text" not in plan.split("ReadSchema")[1][:300]
    assert "PushedFilters" in plan


def test_null_html_rows_become_error_rows(spark):
    """A null html cell (real at corpus scale) must yield a deterministic
    err:null-input row, not kill the Arrow batch/task."""
    from htmlparser_spark.pipeline.job import parse_pages
    from htmlparser_spark.pipeline.schema import PAGES_SCHEMA
    rows = [("u://null", None, None, "", ""),
            ("u://empty", None, b"", "", ""),
            ("u://ok", None, b"<html><body>hi", "", "")]
    df = spark.createDataFrame(rows, PAGES_SCHEMA).withColumn(
        "part_key", F.lit(0))
    out = {r.url: r.status for r in parse_pages(df).collect()}
    assert out == {"u://null": "err:null-input", "u://empty": "ok",
                   "u://ok": "ok"}
