"""Web-graph stage tests: RFC 3986 href resolution against the effective
base, <meta robots>/<link rel=canonical>/<base> parsing, rel=nofollow
tokenization, the bounded anchor-text walk, error-page partial extraction,
the Spark links/meta stages, and the link_host_graph plan shape."""
import os
import sys

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from htmlparser_spark.kernel.api import parse_html
from htmlparser_spark.kernel.links import ANCHOR_TEXT_CAP
from htmlparser_spark.pipeline.schema import LINKS_SCHEMA
from htmlparser_spark.synth_links import gen_link_page, synth_link_pages

PAGE = "https://www.Example.org/a/b/index.html"


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[4]")
         .appName("links-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
    yield s
    s.stop()


def _graph(html, url):
    """One page through the kernel's web-graph walk, as the links stage
    runs it (main-content extraction off)."""
    return parse_html(html, extract=False, want_dom=False, want_links=True,
                      page_url=url)


def _links(html, url=PAGE):
    return _graph(html.encode("utf-8"), url)


def _hrefs(r):
    return [(link[2], link[3]) for link in r["links"]]  # (href_abs, dst_host)


def test_resolution_without_base():
    r = _links('<html><body><div><a href="x/y.html">t </div>'
               '<div><a href="/root.html">t </div>'
               '<div><a href="../up.html">t </div>'
               '<div><a href="//other.example/p">t </div>'
               '<div><a href="?q=1#f">t </div></body></html>')
    assert _hrefs(r) == [
        ("https://www.Example.org/a/b/x/y.html", "www.example.org"),
        ("https://www.Example.org/root.html", "www.example.org"),
        ("https://www.Example.org/a/up.html", "www.example.org"),
        ("https://other.example/p", "other.example"),
        ("https://www.Example.org/a/b/index.html?q=1#f", "www.example.org"),
    ]


def test_first_base_wins_and_applies():
    r = _links('<html><head><base href="https://cdn.example/assets/">'
               '<base href="https://wrong.example/"></head>'
               '<body><div><a href="img/x">t </div>'
               '<div><a href="/abs">t </div></body></html>')
    assert r["base_href"] == "https://cdn.example/assets/"
    assert _hrefs(r) == [
        ("https://cdn.example/assets/img/x", "cdn.example"),
        ("https://cdn.example/abs", "cdn.example"),
    ]


def test_relative_base_resolves_against_page_url():
    r = _links('<html><head><base href="/b/"></head>'
               '<body><div><a href="p.html">t </div></body></html>')
    assert _hrefs(r) == [("https://www.Example.org/b/p.html",
                          "www.example.org")]


def test_non_http_schemes_have_no_host_edge():
    r = _links('<html><body><div><a href="javascript:void(0)">t </div>'
               '<div><a href="mailto:a@b.c">t </div>'
               '<div><a href="HTTPS://UP.EXAMPLE/P">t </div></body></html>')
    # urljoin normalizes the scheme to lowercase; the host keeps its case in
    # href_abs but dst_host is lowercased for grouping
    assert _hrefs(r) == [("javascript:void(0)", ""),
                        ("mailto:a@b.c", ""),
                        ("https://UP.EXAMPLE/P", "up.example")]


def test_nofollow_rel_tokens_and_page_level_meta():
    # rel= is whitespace-separated (a comma is part of the token, so
    # "x,nofollow" is one unknown token — NOT a nofollow); robots content
    # below is comma-separated per the robots-meta grammar
    r = _links('<html><body><div><a href="/a" rel="NoFollow">t </div>'
               '<div><a href="/b" rel="sponsored ugc">t </div>'
               '<div><a href="/c" rel="x,nofollow">t </div>'
               '<div><a href="/d" rel="x nofollow">t </div></body></html>')
    assert [link[5] for link in r["links"]] == [True, False, False, True]
    r2 = _links('<html><head><meta name="ROBOTS" content="nofollow"></head>'
                '<body><div><a href="/a">t </div></body></html>')
    assert r2["robots_nofollow"] and not r2["robots_noindex"]
    assert [link[5] for link in r2["links"]] == [True]  # page-level wins
    r3 = _links('<html><head><meta name="robots" content="NONE"></head>'
                '<body></body></html>')
    assert r3["robots_noindex"] and r3["robots_nofollow"]


def test_canonical_description_and_duplicate_href():
    r = _links('<html><head>'
               '<link rel="stylesheet" href="/s.css">'
               '<link rel="Canonical" href="/canon">'
               '<link rel="canonical" href="/second">'
               '<meta name="description" content="first desc">'
               '<meta name="description" content="second">'
               '</head><body>'
               '<div><a href="/real" href="/dup">t </div></body></html>')
    assert r["canonical"] == "https://www.Example.org/canon"  # first wins
    assert r["meta_description"] == "first desc"
    assert _hrefs(r) == [("https://www.Example.org/real", "www.example.org")]


def test_anchor_without_href_is_not_a_link():
    r = _links('<html><body><div><a name="x">t </div></body></html>')
    assert r["links"] == []


def test_anchor_text_is_bounded():
    # Q9: block end tags are ignored, so the anchor never closes and its
    # subtree runs to end-of-document — the bounded walk must cap it.
    body = "<div><a href=\"/x\">start " + ("word " * 500) + "</div>"
    r = _links(f"<html><body>{body}</body></html>")
    (seq, raw, ab, host, anchor, nf), = r["links"]
    assert len(anchor) == ANCHOR_TEXT_CAP
    assert anchor.startswith("start word")


def test_error_page_yields_partial_links():
    # </a> hits the reference's in-body any-other-end-tag throw; links
    # collected before the failure point must survive with err status.
    r = _links('<html><body><div><a href="/kept">t </a>'
               '<div><a href="/after">t </div></body></html>')
    assert r["status"] == "err:not-implemented:in-body-any-other-end-tag"
    assert [h for h, _ in _hrefs(r)] == ["https://www.Example.org/kept"]


def test_null_and_invalid_inputs():
    r = _graph(None, PAGE)
    assert r["status"] == "err:null-input" and r["links"] == []
    r2 = _graph(b"\xff\xfe plain", PAGE)
    assert r2["links"] == []


def test_synth_corpus_is_deterministic_and_parses_ok():
    a = gen_link_page(42, 17)
    b = gen_link_page(42, 17)
    assert a == b
    for i in range(40):
        url, ts, html, _, _lang = gen_link_page(42, i)
        assert _graph(html, url)["status"] == "ok"


def test_spark_stages_schemas_and_consistency(spark):
    """The links and page-meta tables the web-graph queries read: the links
    explode has LINKS_SCHEMA, and the meta projection's n_links equals the
    exploded per-page count."""
    import __spark_entry__ as entry

    links = entry._links(spark)
    meta = entry._page_meta(spark)
    assert links.schema == LINKS_SCHEMA
    assert meta.columns == entry.PAGE_META_COLS + ["n_links"]
    assert dict(meta.dtypes)["n_links"] == "bigint"
    # n_links in the meta table must equal the exploded per-page count
    per_page = links.groupBy("url").agg(F.count("*").alias("n"))
    joined = (meta.join(per_page, "url", "left")
              .select("n_links", F.coalesce("n", F.lit(0)).alias("n")))
    bad = joined.filter(F.col("n_links") != F.col("n")).count()
    assert bad == 0
    assert meta.count() == entry.N_LINK_CORPUS
    # seq is a dense 0..n-1 per page
    mx = (links.groupBy("url")
          .agg(F.count("*").alias("n"), (F.max("seq") + 1).alias("m"))
          .filter(F.col("n") != F.col("m")).count())
    assert mx == 0


def test_link_host_graph_plan_shape(spark):
    """Scale pin: the edge rollup must partial-aggregate below its exchange
    (a hub host pair collapses map-side) and never produce a cartesian or
    per-row Python after the kernel stage."""
    import __spark_entry__ as entry

    df = entry.link_host_graph(spark, "")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan or "partial_finalmerge" in plan.lower() \
        or "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # exactly one source parse: synth expand (a row-shaped mapInArrow) +
    # links kernel (mapInPandas), nothing more
    assert plan.count("MapInArrow") == 1 and plan.count("MapInPandas") == 1


def test_run_pipeline_emit_links_matches_stage(spark, tmp_path):
    """emit_links=True: one parse, two sinks — the exploded links table
    must equal the kernel's links applied page by page in-process, and the
    parsed sink must carry the metadata columns."""
    from pyspark.sql import functions as F

    from htmlparser_spark.pipeline.job import run_pipeline

    out = str(tmp_path / "job")
    pages = synth_link_pages(spark, 50, seed=42, partitions=2)
    m = run_pipeline(spark, pages, out, num_partitions=4, emit_links=True)
    assert m["pages"] == 50 and m["ok_pages"] == 50
    sink = spark.read.parquet(out + "/links")
    key = ["url", "seq", "href", "href_abs", "dst_host", "anchor", "nofollow"]
    got = sorted(tuple(r) for r in sink.select(*key).collect())
    exp = sorted((r.url, *link) for r in pages.collect()
                 for link in _graph(r.html, r.url)["links"])
    assert got == exp and len(got) > 0
    parsed = spark.read.parquet(out + "/parsed")
    for c in ("links", "robots_noindex", "canonical", "meta_description"):
        assert c in parsed.columns
    # per-page consistency inside the one sink
    bad = (parsed.select("url", F.size("links").alias("s"))
           .join(sink.groupBy("url").agg(F.count("*").alias("n")),
                 "url", "left")
           .filter(F.col("s") != F.coalesce("n", F.lit(0))).count())
    assert bad == 0


def test_run_pipeline_emit_links_idempotent_rerun(spark, tmp_path):
    """Re-running over the same input must leave both sinks unchanged
    (dynamic partition overwrite + resume anti-join)."""
    from htmlparser_spark.pipeline.job import run_pipeline

    out = str(tmp_path / "job")
    pages = synth_link_pages(spark, 40, seed=42, partitions=2)
    run_pipeline(spark, pages, out, num_partitions=4, emit_links=True)
    first = sorted(map(tuple, spark.read.parquet(out + "/links").collect()))
    m2 = run_pipeline(spark, pages, out, num_partitions=4, emit_links=True)
    second = sorted(map(tuple, spark.read.parquet(out + "/links").collect()))
    assert first == second
    assert m2["pages"] == 40  # manifest still accounts for every page


def test_default_pipeline_has_no_link_columns(spark, tmp_path):
    """emit_links defaults off: the kernel must not build or ship the
    web-graph columns and the parsed sink schema stays PARSED_SCHEMA."""
    from htmlparser_spark.pipeline.job import run_pipeline

    out = str(tmp_path / "job")
    pages = synth_link_pages(spark, 20, seed=42, partitions=2)
    run_pipeline(spark, pages, out, num_partitions=2)
    cols = set(spark.read.parquet(out + "/parsed").columns)
    assert "links" not in cols and "canonical" not in cols


def test_emit_links_crash_window_resume(spark, tmp_path):
    """Crash between the parsed-sink commit and the lineage write must not
    leave holes in the links sink: the unrecorded part_keys are re-parsed
    on resume and BOTH sinks are re-overwritten (links is written before
    the manifest, so a manifest entry implies a durable links partition)."""
    import shutil

    from pyspark.sql import functions as F

    from htmlparser_spark.pipeline.job import run_pipeline
    from htmlparser_spark.pipeline.schema import LINEAGE_SCHEMA

    out = str(tmp_path / "job")
    pages = synth_link_pages(spark, 60, seed=42, partitions=2)
    run_pipeline(spark, pages, out, num_partitions=4, emit_links=True)
    links_path = os.path.join(out, "links")
    lineage_path = os.path.join(out, "_lineage")
    full = sorted(map(tuple, spark.read.parquet(links_path).collect()))

    # simulate the crash: parsed sink committed for every part_key, but for
    # half the keys neither the links partition nor the manifest row exists
    keys = sorted(int(d.split("=")[1]) for d in os.listdir(links_path)
                  if d.startswith("part_key="))
    assert len(keys) >= 2  # else losing half the partitions is vacuous
    lost = keys[::2]
    for k in lost:
        shutil.rmtree(os.path.join(links_path, f"part_key={k}"))
    kept_lineage = (spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
                    .filter(~F.col("part_key").isin(lost)).collect())
    shutil.rmtree(lineage_path)
    (spark.createDataFrame(kept_lineage, LINEAGE_SCHEMA)
     .write.mode("overwrite").parquet(lineage_path))
    assert sorted(map(tuple, spark.read.parquet(links_path).collect())) != full

    run_pipeline(spark, pages, out, num_partitions=4, emit_links=True)
    after = sorted(map(tuple, spark.read.parquet(links_path).collect()))
    assert after == full


def test_link_anchor_targets_plan_has_window_group_limit(spark):
    """The per-host top-k must run as WindowGroupLimit (map-side rank
    pushdown), not a full per-host sort of all anchor tokens."""
    import __spark_entry__ as entry

    df = entry.link_anchor_targets(spark, "")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_emit_links_readback_prunes_columns(spark, tmp_path):
    """Scale pin for the one-parse-two-sinks shape: deriving the links
    table from the parsed sink must scan ONLY the page key + links columns
    (ReadSchema), never the extracted text/spans — at 100 TB the explode
    re-reads a sliver of the sink, not the corpus."""
    from htmlparser_spark.pipeline.job import run_pipeline

    out = str(tmp_path / "job")
    pages = synth_link_pages(spark, 30, seed=42, partitions=2)
    run_pipeline(spark, pages, out, num_partitions=4, emit_links=True)
    df = spark.read.parquet(os.path.join(out, "parsed"))
    link_rows = (df.select("part_key", "url", "warc_ts",
                           F.explode("links").alias("l"))
                 .select("part_key", "url", "warc_ts", "l.seq", "l.href"))
    plan = link_rows._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan
    schema = m.group(1)
    assert "links:array" in schema
    for heavy in ("main_text", "spans", "text:", "errors"):
        assert heavy not in schema, schema


def test_emit_links_upgrade_on_old_sink_fails_fast(spark, tmp_path):
    """Turning emit_links on over a resumed sink written WITHOUT link
    columns must fail with the real cause (the completed partitions can
    never yield links), not explode an unresolved column mid-job."""
    from htmlparser_spark.pipeline.job import run_pipeline

    out = str(tmp_path / "job")
    pages = synth_link_pages(spark, 20, seed=42, partitions=2)
    run_pipeline(spark, pages, out, num_partitions=2)  # no link columns
    with pytest.raises(ValueError, match="emit_links"):
        run_pipeline(spark, pages, out, num_partitions=2, emit_links=True)
    # resume=False re-parses everything and succeeds
    run_pipeline(spark, pages, out, num_partitions=2, emit_links=True,
                 resume=False)
    assert os.path.exists(os.path.join(out, "links"))


def test_links_kernel_crash_fuzz_returns_error_rows():
    """The links kernel must NEVER raise on adversarial input — malformed
    grammar docs with byte-level mutations (invalid UTF-8, truncated tags)
    and hostile page urls all come back as rows (status + well-shaped
    links list). A 30k-doc sweep of this generator held clean; this pins a
    1k-doc sample in the suite."""
    import importlib.util
    import random
    spec = importlib.util.spec_from_file_location(
        "td", os.path.join(os.path.dirname(__file__),
                           "test_differential.py"))
    td = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(td)
    urls = ["https://ex.com/a/b", "HTTP://UP.example/x", "", "not a url",
            "ftp://f/", "https://ex.com"]
    for seed in range(40000, 40040):
        rng = random.Random(seed)
        for _ in range(25):
            doc = td.gen_doc(rng)
            b = bytearray(doc.encode("utf-8", "surrogatepass"))
            if rng.random() < 0.5:
                for _ in range(rng.randint(1, 4)):
                    if b:
                        b[rng.randrange(len(b))] = rng.randrange(256)
            r = _graph(bytes(b), rng.choice(urls))
            assert isinstance(r["status"], str) and r["status"]
            assert isinstance(r["links"], list)
            assert all(len(row) == 6 for row in r["links"])
