"""JSONL shard sink/reader: typed round trip, determinism, strict schema
rejection, one-shard-per-task shape."""
import gzip
import os
import sys

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, LongType, StringType, StructField, StructType,
    TimestampType,
)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from htmlparser_spark.sources import read_jsonl, write_jsonl
from htmlparser_spark.synth import synth_pages

SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("score", DoubleType()),
    StructField("n", LongType()),
])


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[4]")
         .appName("jsonl-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
    yield s
    s.stop()


def test_jsonl_typed_roundtrip(spark, tmp_path):
    pages = (synth_pages(spark, 40, seed=42, partitions=3)
             .select("url", "warc_ts", "html",
                     (F.length("html") / 100.0).alias("score"),
                     F.length("url").cast("long").alias("n")))
    out = str(tmp_path / "shards")
    manifest = write_jsonl(pages, out)
    assert sum(n for _p, n in manifest) == pages.count()
    back = read_jsonl(spark, os.path.join(out, "*.jsonl.gz"), SCHEMA)
    key = lambda r: r["url"]
    exp = sorted(pages.collect(), key=key)
    got = sorted(back.collect(), key=key)
    assert len(exp) == len(got)
    for e, g in zip(exp, got):
        assert (e["url"], e["n"]) == (g["url"], g["n"])
        assert bytes(e["html"]) == bytes(g["html"])  # base64 round trip
        assert abs(e["score"] - g["score"]) < 1e-12
        assert e["warc_ts"] == g["warc_ts"].replace(tzinfo=None)


def test_jsonl_shards_are_deterministic(spark, tmp_path):
    pages = (synth_pages(spark, 30, seed=7, partitions=2)
             .select("url", "warc_ts", F.length("html").alias("n")
                     .cast("long")))
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_jsonl(pages, a)
    write_jsonl(pages, b)
    for name in sorted(os.listdir(a)):
        with open(os.path.join(a, name), "rb") as fa, \
             open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read()  # byte-identical shards


def test_jsonl_int_column_with_nulls_stays_int(spark, tmp_path):
    # a batch mixing nulls and ints must still serialize the ints as JSON
    # ints (5, not 5.0) and the null as null
    df = spark.createDataFrame(
        [("a", 5), ("b", None), ("c", 7)], "url string, n bigint")
    out = str(tmp_path / "shards")
    write_jsonl(df.coalesce(1), out)
    name = [f for f in os.listdir(out) if f.endswith(".jsonl.gz")][0]
    with open(os.path.join(out, name), "rb") as f:
        lines = gzip.decompress(f.read()).decode().splitlines()
    assert '{"n":5,"url":"a"}' in lines
    assert '{"n":null,"url":"b"}' in lines
    back = read_jsonl(spark, os.path.join(out, "*.jsonl.gz"),
                      StructType([StructField("url", StringType()),
                                  StructField("n", LongType())]))
    got = {r["url"]: r["n"] for r in back.collect()}
    assert got == {"a": 5, "b": None, "c": 7}


def test_jsonl_rejects_nested_columns(spark, tmp_path):
    df = spark.createDataFrame([(1, [1, 2])], "a long, b array<bigint>")
    with pytest.raises(ValueError, match="scalar columns only.*b:array"):
        write_jsonl(df, str(tmp_path / "x"))


def test_jsonl_one_shard_per_task(spark, tmp_path):
    pages = (synth_pages(spark, 24, seed=3, partitions=4)
             .select("url"))
    out = str(tmp_path / "shards")
    manifest = write_jsonl(pages, out)
    assert len(manifest) <= 4  # ≤ one shard per input partition
    files = [f for f in os.listdir(out) if f.endswith(".jsonl.gz")]
    assert len(files) == len(manifest)
    # lines are valid compact JSON with sorted keys
    with open(os.path.join(out, files[0]), "rb") as f:
        first = gzip.decompress(f.read()).decode().splitlines()[0]
    assert first.startswith('{"url":')


def test_jsonl_rerun_with_fewer_partitions_gcs_stale_shards(spark, tmp_path):
    """Shards are named by partition id, so a narrower re-run must remove
    the wider run's leftover shards — directory-glob consumers would
    otherwise read duplicated records."""
    out = str(tmp_path / "shards")
    df = spark.range(40).selectExpr("concat('u', id) AS url",
                                    "cast(id as string) AS text")
    write_jsonl(df.repartition(4), out)
    assert len([f for f in os.listdir(out) if f.endswith(".jsonl.gz")]) == 4
    manifest = write_jsonl(df.repartition(1), out)
    files = [f for f in os.listdir(out) if f.endswith(".jsonl.gz")]
    assert len(files) == len(manifest) == 1
    back = read_jsonl(spark, os.path.join(out, "*.jsonl.gz"), df.schema)
    assert back.count() == 40
