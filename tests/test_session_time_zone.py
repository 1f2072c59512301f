"""Timestamps cross the Python boundary as instants: the CDX source, the
JSONL sink and reader and the WET sink and reader give the same epoch
seconds and the same written text whatever ``spark.sql.session.timeZone``
is, and ``write_cdx`` stamps every capture in UTC whatever zone it is
given in."""
import calendar
import datetime as dt
import gzip
import json
import os
import sys
import time
from zoneinfo import ZoneInfo

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from htmlparser_spark.sources import (
    read_cdx, read_jsonl, read_wet, synth_cdx, write_cdx, write_jsonl,
    write_wet)

T = 1735689600  # 2025-01-01T00:00:00Z


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[2]")
         .appName("session-time-zone-tests")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
    yield s
    s.stop()


def _gz_text(out_dir, suffix):
    (name,) = [f for f in os.listdir(out_dir) if f.endswith(suffix)]
    with open(os.path.join(out_dir, name), "rb") as f:
        return gzip.decompress(f.read()).decode("utf-8")


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
def test_timestamps_are_instants_in_any_session_zone(spark, tmp_path, zone):
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        cdx = str(tmp_path / "cdx-00000.gz")
        synth_cdx(cdx, 40, seed=3)
        want = {}
        with gzip.open(cdx, "rt") as f:
            lines = f.read().splitlines()
        for line in lines:
            _key, tss, payload = line.split(" ", 2)
            want[json.loads(payload)["url"]] = calendar.timegm(
                time.strptime(tss, "%Y%m%d%H%M%S"))
        got = read_cdx(spark, cdx).select(
            "url", F.unix_timestamp("ts").alias("t")).collect()
        assert {r.url: r.t for r in got} == want

        row = spark.range(1).select(
            F.lit("https://a.example/").alias("url"),
            F.timestamp_seconds(F.lit(T)).alias("warc_ts"),
            F.lit("text").alias("main_text"))

        jsonl = str(tmp_path / "jsonl")
        write_jsonl(row.select("url", "warc_ts"), jsonl)
        assert ('"warc_ts":"2025-01-01T00:00:00+00:00"'
                in _gz_text(jsonl, ".jsonl.gz"))
        back = read_jsonl(spark, os.path.join(jsonl, "*.jsonl.gz"),
                          row.select("url", "warc_ts").schema)
        assert back.select(F.unix_timestamp("warc_ts")).first()[0] == T

        wet = str(tmp_path / "wet")
        write_wet(row, wet)
        assert "WARC-Date: 2025-01-01T00:00:00Z" in _gz_text(
            wet, ".warc.wet.gz")
        back = read_wet(spark, os.path.join(wet, "*.warc.wet.gz"))
        assert back.select(F.unix_timestamp("warc_ts")).first()[0] == T
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)


def test_write_cdx_stamps_aware_times_in_utc(tmp_path):
    """An aware capture time is stamped, and sorted, as its UTC instant; a
    naive one is read as UTC."""
    at = dt.datetime.fromtimestamp(T, dt.timezone.utc)
    rows = [("https://a.example/", ts, 200, "text/html", "D", 1, 0, "s.gz")
            for ts in (at.astimezone(ZoneInfo("America/New_York")),
                       dt.datetime(2024, 12, 31, 20))]
    path = str(tmp_path / "cdx-00000")
    assert write_cdx(path, rows, compress=False) == 2
    with open(path, encoding="utf-8") as f:
        stamps = [line.split(" ")[1] for line in f]
    assert stamps == ["20241231200000", "20250101000000"]
