"""Charset sniff + transcode (sources/charset.py): WHATWG-prescan-shaped
encoding detection as pure codegen, the kernel stage's re-encode of the
detected non-UTF-8 slice, and the parity guarantee that the parse kernel's
own UTF-8-replacement decode (Program.cs:3) is untouched."""
import os
import sys

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from htmlparser_spark.kernel.api import parse_html
from htmlparser_spark.sources.charset import (
    decode_bytes, sniff_encoding, with_sniffed_encoding)
from htmlparser_spark.synth import (
    CHARSET_SAMPLES, expected_charset_text, gen_charset_page,
    synth_charset_pages)

N = 60
SEED = 42


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[4]")
         .appName("charset-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
    yield s
    s.stop()


@pytest.fixture(scope="module")
def sniffed(spark):
    pages = synth_charset_pages(spark, N, seed=SEED, partitions=2)
    return {r.url: (r.encoding, r.method)
            for r in with_sniffed_encoding(pages)
            .select("url", "encoding", "method").collect()}


def _sniff_one(spark, data: bytes):
    df = spark.createDataFrame([(data,)], "html binary")
    enc, meth = sniff_encoding("html")
    r = df.select(enc.alias("e"), meth.alias("m")).first()
    return r.e, r.m


# --- sniffing decision table -------------------------------------------------

def test_bom_wins_over_meta(spark):
    # a UTF-16LE BOM beats a (lying) ASCII meta tag — spec step order
    body = '<meta charset="utf-8"><p>x</p>'.encode("utf-16-le")
    assert _sniff_one(spark, b"\xff\xfe" + body) == ("utf-16le", "bom")
    body_be = "<p>x</p>".encode("utf-16-be")
    assert _sniff_one(spark, b"\xfe\xff" + body_be) == ("utf-16be", "bom")
    assert _sniff_one(spark, b"\xef\xbb\xbf<p>x</p>") == ("utf-8", "bom")


@pytest.mark.parametrize("meta,want", [
    ('<meta charset="windows-1252">', "windows-1252"),
    ("<meta charset=WINDOWS-1252>", "windows-1252"),       # unquoted, caps
    ("<meta charset='latin1'>", "windows-1252"),           # alias label
    ('<meta http-equiv="Content-Type" '
     'content="text/html; charset=iso-8859-1">', "windows-1252"),
    ('<meta charset="Shift_JIS">', "shift_jis"),
    ('<meta charset="x-sjis">', "shift_jis"),
    ('<meta charset="gb2312">', "gb18030"),
    ('<meta charset="utf8">', "utf-8"),
    # spec quirk: meta-declared UTF-16 is treated as UTF-8 (the prescan
    # just read an ASCII tag, so the page cannot actually be UTF-16)
    ('<meta charset="utf-16le">', "utf-8"),
    ('<meta charset="x-user-defined">', "windows-1252"),
])
def test_meta_labels(spark, meta, want):
    enc, meth = _sniff_one(spark, f"<html><head>{meta}</head>".encode())
    assert (enc, meth) == (want, "meta")


def test_unknown_label_and_no_meta_default(spark):
    assert _sniff_one(spark, b'<meta charset="klingon-9">') == (
        "utf-8", "default")
    assert _sniff_one(spark, b"<html><body>plain") == ("utf-8", "default")


def test_meta_beyond_1024_bytes_ignored(spark):
    # the prescan window is the first 1024 bytes, like the spec's
    data = b"<!--" + b"x" * 1100 + b'--><meta charset="shift_jis">'
    assert _sniff_one(spark, data) == ("utf-8", "default")


def test_sniff_is_pure_codegen(spark):
    """The sniff must add NO Python eval node and NO exchange — it is the
    map-only JVM pass the 100 TB ingest runs on every page."""
    pages = synth_charset_pages(spark, 20, seed=SEED, partitions=2)
    plan = (with_sniffed_encoding(pages).select("url", "encoding", "method")
            ._jdf.queryExecution().executedPlan().toString())
    # the corpus generator itself is one Python node (a row-shaped
    # MapInArrow); the sniff must not add a second one
    n_python = (plan.count("BatchEvalPython") + plan.count("ArrowEvalPython")
                + plan.count("MapInPandas") + plan.count("MapInArrow"))
    assert n_python == 1, plan
    assert "Exchange" not in plan, plan


# --- decode/transcode ground truth -------------------------------------------

def test_decode_matches_ground_truth(spark, sniffed):
    for i in range(N):
        url, _, data, _, _ = gen_charset_page(SEED, i)
        enc, _ = sniffed[url]
        assert decode_bytes(data, enc) == expected_charset_text(SEED, i), \
            (i, i % 10, enc)


def test_kernel_decode_parity_untouched():
    """Reference parity: the kernel itself still decodes UTF-8-with-
    replacement regardless of any meta declaration (Program.cs:3 semantics,
    pinned by the golden fixtures) — charset handling is strictly an
    opt-in ingest pass in front of it."""
    raw = '<meta charset="shift_jis">'.encode("shift_jis")
    jp = CHARSET_SAMPLES["shift_jis"][:4]
    body = f'<div class="content">{jp}</div>'.encode("shift_jis")
    r = parse_html(b"<html><head>" + raw + b"</head><body>" + body)
    assert r["status"] == "ok"
    assert jp not in r["text"]          # mojibake, as the reference would
    assert "�" in r["text"]        # replacement chars present


def test_run_pipeline_transcode_flag(spark, tmp_path):
    """transcode=True composes into the full job: every page of the mixed-
    encoding corpus lands in the sink exactly once, and the legacy-charset
    pages' sample text appears VERBATIM in extracted main_text — while the
    default (parity) run yields mojibake for the same urls."""
    from htmlparser_spark.pipeline.job import run_pipeline

    pages = synth_charset_pages(spark, N, seed=SEED, partitions=2)
    m = run_pipeline(spark, pages, str(tmp_path / "fixed"),
                     resume=False, transcode=True)
    assert m["pages"] == N
    fixed = {r.url: r.main_text
             for r in spark.read.parquet(
                 str(tmp_path / "fixed" / "parsed")).collect()}
    assert len(fixed) == N              # union split didn't dup or drop

    run_pipeline(spark, pages, str(tmp_path / "raw"), resume=False)
    raw = {r.url: r.main_text
           for r in spark.read.parquet(
               str(tmp_path / "raw" / "parsed")).collect()}
    for i, key in ((4, "windows-1252"), (6, "shift_jis"),
                   (7, "gb18030"), (8, "utf-16le")):
        url = gen_charset_page(SEED, i)[0]
        assert CHARSET_SAMPLES[key][:6] in fixed[url], (i, key)
        assert CHARSET_SAMPLES[key][:6] not in raw[url], (i, key)
    # utf-8 pages are byte-identical either way (fast-path passthrough)
    for i in (0, 1, 2, 3):
        url = gen_charset_page(SEED, i)[0]
        assert fixed[url] == raw[url]


def test_pipeline_transcode_scans_source_once(spark, tmp_path):
    """The fused transcode costs ONE execution of the source (sniff is a
    codegen column in the same projection; the re-encode rides the kernel's
    existing Arrow crossing). A split of the pages by encoding into two
    branches reunited by a union would run the source once per branch —
    with a ranged-WARC source that is two fetches of every planned record.
    Counted with a per-row accumulator inside a mapInPandas source."""
    from htmlparser_spark.pipeline.job import run_pipeline
    from htmlparser_spark.pipeline.schema import PAGES_SCHEMA
    from htmlparser_spark.synth import gen_charset_page

    acc = spark.sparkContext.accumulator(0)
    n = 20

    def source(batches):
        import pandas as pd
        for pdf in batches:
            rows = [gen_charset_page(SEED, int(i)) for i in pdf["id"]]
            acc.add(len(rows))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"])

    src = spark.range(0, n, 1, 2).mapInPandas(source, schema=PAGES_SCHEMA)
    m = run_pipeline(spark, src, str(tmp_path / "out"),
                     resume=False, transcode=True)
    assert m["pages"] == n
    assert acc.value == n  # exactly one pass over the source


def test_parse_batch_fused_encoding_column(sniffed):
    """parse_batch's encoding-aware path (pandas level; the encodings come
    from the Spark sniff): a page of every charset class parses exactly as
    the plain kernel stage parses its expected bytes — the raw bytes for a
    utf-8 or default page, the re-encoded UTF-8 bytes for a detected
    non-UTF-8 one — and a null row passes through."""
    import pandas as pd

    from htmlparser_spark.pipeline.kernel_stage import parse_batch

    pages = [gen_charset_page(SEED, i) for i in range(10)]  # one per class
    urls = [p[0] for p in pages] + ["https://a.example/null"]
    raws = [p[2] for p in pages]
    encs = [sniffed[url][0] for url in urls[:10]]
    want = [raw if enc == "utf-8" else decode_bytes(raw, enc).encode()
            for raw, enc in zip(raws, encs)]
    assert [i for i in range(10) if raws[i] != want[i]] == [4, 5, 6, 7, 8]

    def parse(html, **encoding):
        pdf = pd.DataFrame({"url": urls, "warc_ts": pages[0][1],
                            "html": html + [None], "lang": "", **encoding})
        return (pd.concat(list(parse_batch(iter([pdf]))))
                .drop(columns="html_bytes").to_dict("records"))

    fused = parse(raws, encoding=encs + ["utf-8"])
    plain = parse(want)
    for i in range(10):
        assert fused[i] == plain[i], (i, encs[i])
    assert fused[10]["status"] == "err:null-input"
    # the legacy-charset pages read their sample text verbatim, where the
    # kernel's own decode of their raw bytes reads mojibake
    for i, key in ((4, "windows-1252"), (6, "shift_jis"),
                   (7, "gb18030"), (8, "utf-16le")):
        assert CHARSET_SAMPLES[key][:6] in fused[i]["main_text"], (i, key)
        assert "�" not in fused[i]["main_text"], (i, key)
        assert (CHARSET_SAMPLES[key][:6]
                not in parse_html(raws[i])["main_text"]), (i, key)


def test_resume_enforces_transcode_flag(spark, tmp_path):
    """The lineage manifest records the transcode flag per partition;
    resuming with the other value must fail fast (completed partitions are
    never re-parsed, so flipping the flag would mix decode semantics in
    one sink), while resuming with the same value proceeds."""
    from htmlparser_spark.pipeline.job import run_pipeline

    out = str(tmp_path / "out")
    pages = synth_charset_pages(spark, 20, seed=SEED, partitions=2)
    run_pipeline(spark, pages, out, transcode=True)

    with pytest.raises(ValueError, match="transcode=False on a resumed"):
        run_pipeline(spark, pages, out, transcode=False)

    m = run_pipeline(spark, pages, out, transcode=True)  # same flag: fine
    assert m["pages"] == 20
    # and the manifest carries the flag on every partition row
    rows = spark.read.parquet(str(tmp_path / "out" / "_lineage")).collect()
    assert rows and all(r.transcode is True for r in rows)


def test_resume_enforces_lang_filter(spark, tmp_path):
    """The lineage manifest records the lang filter per partition, and a
    resume with another filter or none fails fast (its completed partitions
    hold only the first filter's pages), while the same filter proceeds."""
    from htmlparser_spark.pipeline.job import run_pipeline
    from htmlparser_spark.synth import synth_pages

    out = str(tmp_path / "out")
    pages = synth_pages(spark, 20, seed=SEED, partitions=2)
    n_de = run_pipeline(spark, pages, out, lang="de")["pages"]
    assert n_de > 0
    for other in (None, "en"):
        with pytest.raises(ValueError, match=f"lang={other!r} on a resumed"):
            run_pipeline(spark, pages, out, lang=other)
    assert run_pipeline(spark, pages, out, lang="de")["pages"] == n_de
    rows = spark.read.parquet(str(tmp_path / "out" / "_lineage")).collect()
    assert rows and all(r.lang == "de" for r in rows)


def test_fused_transcode_keeps_raw_byte_accounting():
    """html_bytes means RAW capture bytes even when the fused transcode
    rebinds the kernel's input to re-encoded utf-8 (lineage n_bytes and
    bench MB/s must not silently change meaning with the flag)."""
    import pandas as pd

    from htmlparser_spark.pipeline.kernel_stage import parse_batch

    url, ts, raw, _t, _l = gen_charset_page(SEED, 6)  # shift_jis page
    u8 = decode_bytes(raw, "shift_jis").encode("utf-8")
    assert len(u8) != len(raw)  # the re-encode really changes the length
    pdf = pd.DataFrame({
        "url": [url], "warc_ts": [ts], "html": [raw], "lang": [""],
        "encoding": ["shift_jis"],
    })
    out = pd.concat(list(parse_batch(iter([pdf]), columns=["url", "html_bytes"])))
    assert int(out["html_bytes"].iloc[0]) == len(raw)
