"""Relational / dedup / similarity / text-analysis operators (SURVEY.md §2.3
+ training-data-pipeline ops), each as a (spark, sf_dir) -> DataFrame callable
with a matching ANSI-SQL oracle in __spark_entry__.oracle_sql(). An op's
parameters are module constants, the values its oracle hard-codes.

Scale notes (each op is shaped for a 1000-executor cluster, whatever master
runs it):
  - small dims (nation/region/customer) are broadcast;
  - pairwise dedup ops never build an n² cross join — candidates come from an
    equi-join on shingle / band-signature keys (shuffle keyed on content);
  - every hash used for dedup is a portable md5-derived 32-bit value so the
    DuckDB oracle computes bit-identical results;
  - float aggregations are rounded before comparison (summation-order noise).
"""
from __future__ import annotations

from functools import partial, reduce
from hashlib import md5 as _md5

import numpy as np
import pandas as pd
import pyarrow as pa
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import DoubleType, LongType

from ._rowmap import arrow_schema, local_frame


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- S2: filter + projection --------------------------------------------------

def filter_project(spark, sf_dir):
    """S2 pushdown probe: urgent-priority orders, two columns — the filter
    and projection must reach the parquet scan (PushedFilters/ReadSchema)."""
    return (_t(spark, sf_dir, "documents")
            .filter(F.col("lang") == "en")
            .select("doc_id", "n_chars",
                    F.upper("source").alias("source_uc"),
                    (F.length("text") - F.col("n_chars")).alias("len_delta")))


# --- S6: window dedup (latest snapshot wins) -----------------------------------

def window_dedup_latest(spark, sf_dir):
    """S6 latest-snapshot-wins dedup: one row per key via a window rank,
    deterministic content-hash tiebreak — the recrawl policy of the sink."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (_t(spark, sf_dir, "events")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type",
                    F.round("value", 2).alias("value_r")))


# --- S7: explode / generator ----------------------------------------------------

def explode_tokens(spark, sf_dir):
    """S7 explode: one row per whitespace token of every document."""
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", F.posexplode(F.split("text", " "))
                    .alias("pos", "token"))
            .filter(F.col("token") != ""))


# --- S8: counter aggregation ----------------------------------------------------

def agg_counters(spark, sf_dir):
    """S8 counter rollup: per-language doc/char tallies (the error-counter
    aggregation shape over a plain column)."""
    # sums go through integer cents: per-row doubles are IEEE-identical in
    # any engine, so rounding per row THEN summing bigints is exactly
    # reproducible (a float sum is summation-order-dependent)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (_t(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(cents).alias("total_value_cents"),
                 F.countDistinct("user_id").alias("n_users")))


# --- TPC-H-shaped relational showcases ------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1: the scan-heavy aggregate baseline — partial aggregation
    below one exchange over the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem")
    qty_c = F.round(F.col("l_quantity") * 100, 0).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_c = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
                     0).cast("long")
    return (li.filter(F.col("l_shipdate") <= F.lit("2024-09-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(qty_c).alias("sum_qty_c"),
                 F.sum(price_c).alias("sum_base_price_c"),
                 F.sum(disc_c).alias("sum_disc_price_c"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count("*").alias("count_order")))


def q3_revenue_by_order(spark, sf_dir):
    """TPC-H Q3: selective dim filter + fact join + grouped revenue —
    broadcast the filtered customer side, partial agg below the exchange."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev_c = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
                    0).cast("long")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(rev_c).alias("revenue_cents"))
            .filter(F.col("revenue_cents") > 100000))


def join_broadcast_dims(spark, sf_dir):
    """Star join with every dim broadcast — zero shuffle on the dim side."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (orders
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price")))


# --- dedup family over documents -------------------------------------------------

def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy, keeper = min doc_id per content hash."""
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", F.md5(F.col("text")).alias("text_hash"))
            .groupBy("text_hash")
            .agg(F.min("doc_id").alias("keeper_id"),
                 F.count("*").alias("n_copies")))


def _shingle_stage(df, minhash=False, simhash=False):
    """Per-doc shingle stage as ONE mapInPandas pass: distinct word 3-gram
    shingles, and optionally the 16 minhash minima and/or the 32-bit
    simhash, all computed per document map-side — no explode, no groupBy,
    no shuffle for any signature.

    This replaced (round 3) the exploded md5/min-aggregate pipelines of
    minhash and simhash: the zip_with shingle construction ran in Spark's
    INTERPRETED higher-order-function evaluator (1.4 s alone at
    sf0.1/local[32]), and the signature aggregates shuffled |shingles|
    exploded rows — computing signatures where the strings already live
    cuts dedup_minhash_lsh 4.8→1.7 s and dedup_simhash 2.3→0.7 s. It is
    the right shape ONLY when fixed-width signatures come back to the JVM;
    jaccard, which needs the shingle STRINGS for its equi-join, keeps the
    _shingle_array expression (Arrow-shipping every string costs more than
    the interpreted zip_with — measured 1.7x slower). hashlib md5 over the
    same "band:shingle" strings is bit-identical to the JVM/DuckDB md5, so
    every oracle is unchanged.

    Shingle semantics are EXACTLY the old expression's (and the oracles'
    `array_to_string(ws[i:i+2])` CTE): split on single spaces keeping
    empties, trigram join (so runs of spaces survive inside shingles),
    docs with < 3 words yield their words joined, first-occurrence
    distinct, empty strings dropped."""
    out_cols = "doc_id long, shs array<string>"
    if minhash:
        out_cols += ", mh array<long>"
    if simhash:
        out_cols += ", simhash long"

    # the Python stage is CPU-bound per doc: a small corpus scan yields
    # fewer splits than cores (sf0.1 documents = 1-4 parquet splits),
    # leaving most workers idle. Fan out ONLY when under-partitioned —
    # at 100 TB the scan already yields >> cores byte-balanced splits and
    # this branch never shuffles the corpus.
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)

    # bound with partial, not a closure: the function pickles by reference,
    # so its workers import the package (and its _pyworker fix)
    return df.mapInPandas(
        partial(_shingle_batches, minhash=minhash, simhash=simhash,
                columns=tuple(c.split()[0] for c in out_cols.split(", "))),
        out_cols)


def _shingle_batches(batches, minhash, simhash, columns):
    """_shingle_stage's per-batch function: `columns` name its output."""
    for pdf in batches:
        rows = []
        for doc_id, text in zip(pdf["doc_id"].tolist(),
                                pdf["text"].tolist()):
            ws = (text or "").split(" ")
            n = len(ws)
            tri = [" ".join(ws[i:i + 3]) for i in range(max(n - 2, 1))]
            shs = [s for s in dict.fromkeys(tri) if s]
            row = [doc_id, shs]
            # docs with zero shingles get NULL signatures: the old
            # exploded pipelines simply had no rows for them, and
            # consumers must keep excluding them
            if minhash:
                if shs:
                    # int(hexdigest[8r:8r+8], 16) == big-endian u32 of
                    # digest bytes [4r:4r+4] — raw digests concat into
                    # one buffer, numpy does the slicing and the min
                    digests = b"".join(
                        _md5(b"%d:%s" % (b, s.encode())).digest()
                        for s in shs for b in range(N_BANDS))
                    arr = np.frombuffer(digests, dtype=">u4") \
                        .reshape(len(shs), N_MINHASH)
                    row.append([int(v) for v in arr.min(axis=0)])
                else:
                    row.append(None)
            if simhash:
                if shs:
                    nsh = len(shs)
                    hs = np.frombuffer(
                        b"".join(_md5(b"0:" + s.encode()).digest()[:4]
                                 for s in shs), dtype=">u4")
                    ones = ((hs[:, None] >> np.arange(32)) & 1).sum(0)
                    votes = (2 * ones - nsh > 0).astype(np.int64)
                    row.append(int((votes << np.arange(32)).sum()))
                else:
                    row.append(None)
            rows.append(row)
        yield pd.DataFrame(rows, columns=list(columns))


def _shingle_array(df):
    """Distinct word 3-gram shingles per doc as ONE array column — a pure
    map-side JVM expression, no explode/shuffle. Used where the consumer
    needs the SHINGLE STRINGS downstream (jaccard's equi-join): measured
    A/B at sf0.1/local[32], feeding jaccard from the Python _shingle_stage
    is ~1.7x SLOWER than this expression (Arrow-shipping every shingle
    string back to the JVM costs more than the interpreted zip_with saves)
    — the Python stage only wins when the strings stay in Python and just
    fixed-width SIGNATURES come back (minhash/simhash).

    zip_with pads the shorter side with null and concat_ws skips nulls, so
    after cutting to the first max(size-2, 1) entries the result is the
    exact shingle set, including the short-doc edge cases (docs with < 3
    words yield their words joined)."""
    words = F.split("text", " ")
    w2 = F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0)))
    w3 = F.slice(words, 3, F.greatest(F.size(words) - 2, F.lit(0)))
    pair = F.zip_with(words, w2, lambda a, b: F.concat_ws(" ", a, b))
    tri = F.zip_with(pair, w3, lambda a, b: F.concat_ws(" ", a, b))
    sh = F.slice(tri, 1, F.greatest(F.size(words) - 2, F.lit(1)))
    return df.select(
        "doc_id",
        F.filter(F.array_distinct(sh), lambda s: F.length(s) > 0).alias("shs"))


def _shingles(df):
    """Exploded (doc_id, shingle) rows for content-keyed equi-joins."""
    return _shingle_array(df).select(
        "doc_id", F.explode("shs").alias("shingle"))


_MATERIALIZED: list[DataFrame] = []


def cleanup_checkpoints() -> int:
    """Unpersist every DataFrame _materialized has cached in this process
    and return how many it unpersisted. A DataFrame an operator returned
    stays valid: it recomputes from lineage what it read from the cache."""
    n = len(_MATERIALIZED)
    while _MATERIALIZED:
        try:
            _MATERIALIZED.pop().unpersist()
        except Py4JError:
            pass  # session already stopped; nothing to release
    return n


def _materialized(df: DataFrame) -> DataFrame:
    """Reuse a computed intermediate across the multiple consumers of a
    plan: cache it in executor memory, released by cleanup_checkpoints()."""
    df = df.cache()
    # eager fill: a lazy cache is raced by the first job's parallel
    # consumers (e.g. both sides of a self-join), each recomputing the full
    # lineage before any block lands — measured ~1.7s of duplicated minhash
    # signature work at sf0.1
    df.count()
    _MATERIALIZED.append(df)
    return df


def _shingle_sets(spark, sf_dir):
    return _shingles(_t(spark, sf_dir, "documents").select("doc_id", "text"))


SHINGLE_DF_CAP = 64  # drop shingles appearing in more than this many docs
JACCARD_THRESHOLD = 0.5  # near-dup pair: shingle Jaccard >= this


def dedup_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs via shingle equi-join (the scalable
    shape: candidates share ≥1 shingle; shuffle keys on shingle content).

    Hot-shingle cap: shingles with document frequency > SHINGLE_DF_CAP are
    dropped BEFORE the pair join (from both the intersection and the set
    sizes — Jaccard over informative shingles). Without the cap one shingle
    present in f docs contributes f² candidate pairs — a single hot 3-gram
    in 10⁶ docs of a 100 TB corpus makes ~10¹² pairs; with it the worst-case
    pair count is bounded by |shingles|·CAP². The hot list itself is tiny
    (only shingles above the cap), so the filter is a broadcast anti-join.
    The DuckDB oracle applies the identical cap."""
    sh_all = _materialized(_shingle_sets(spark, sf_dir))
    hot = (sh_all.groupBy("shingle").agg(F.count("*").alias("df"))
           .filter(F.col("df") > SHINGLE_DF_CAP).select("shingle"))
    sh = sh_all.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (inter.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", "jaccard"))


def _portable_hash32(col, seed_col):
    """32-bit hash both Spark and DuckDB compute identically:
    int(substr(md5(seed || ':' || s), 1, 8), 16)."""
    return F.conv(F.substring(F.md5(F.concat_ws(":", seed_col, col)), 1, 8),
                  16, 10).cast("long")


N_MINHASH = 16
N_BANDS = 4  # 4 rows per band


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding: shingle → 16 minhashes → 4 band signatures →
    bucket equi-join for candidates → exact Jaccard verify. The oracle SQL
    mirrors the identical (portable) hash, so results match exactly.

    Plan choice, measured (sf0.1, local[32], min-of-2): all 16 minima as
    SEPARATE codegen'd min-aggregate columns over the un-exploded shingle
    rows — one groupBy(doc_id) pass, map-side partial combine, shuffle of
    |docs| rows × 16 columns. Beats the explode(shingle×16) +
    groupBy(doc,k).min variant (5.2s → 4.2s: same hash work, but 16× fewer
    Tungsten rows generated and shuffled). The "map-only" alternative
    (array_min over transform / one F.aggregate pass per row) runs the 16
    md5s per shingle in interpreted higher-order-function lambdas —
    measured 2-10x slower. Band signatures are then built column-wise and
    unpivoted into (doc_id, band, sig) — a |docs|·4-row table. The
    exact-Jaccard verify joins the TINY candidate-pair set (broadcast)
    against the per-doc shingle ARRAYS and intersects map-side
    (array_intersect) — no shuffle of the exploded shingle set.

    Round 3: shingles AND the 16 minima are computed per-doc in the numpy
    shingle stage (_shingle_stage) — the old exploded-md5 + 16-column
    min-aggregate pipeline (and its interpreted zip_with shingle build) is
    gone, so signature construction is map-only with NO shuffle; one
    materialized |docs|-row table feeds both the banding and the verify.
    The hash math is unchanged (one md5 digest per BAND per shingle,
    sliced into 4 independent 32-bit values), so the DuckDB oracle is
    untouched. Docs with zero shingles carry mh=null and are excluded
    from banding, exactly as the old explode path dropped them."""
    st = _materialized(
        _shingle_stage(_t(spark, sf_dir, "documents")
                       .select("doc_id", "text"), minhash=True))
    sig = _band_signatures(st)
    a = sig.alias("a")
    b = sig.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    return _verified_jaccard(cand, st.select("doc_id", "shs"))


def _band_signatures(st: DataFrame) -> DataFrame:
    """(doc_id, band, sig) rows from the shingle-stage output: one row per
    band, sig = the '-'-joined 32-bit minima of the band's 4 hash slots.
    Zero-shingle docs carry mh=null and are excluded."""
    rows_per_band = N_MINHASH // N_BANDS
    return (st.filter(F.size("shs") > 0)
            .select("doc_id", F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws("-", *[F.col("mh")[k].cast("string")
                                       for k in range(rows_per_band * b,
                                                      rows_per_band * (b + 1))]
                                ).alias("sig"))
                for b in range(N_BANDS)])).alias("bs"))
            .select("doc_id", "bs.band", "bs.sig"))


def _verified_jaccard(cand: DataFrame, arr: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair set: broadcast the
    tiny pair set against the per-doc shingle-array table twice (both joins
    map-side), intersect the two distinct-shingle arrays per pair —
    shuffle-free verification, no exploded shingle set ever moves."""
    va = arr.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"))
    vb = arr.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    return (F.broadcast(cand).join(va, "doc_a")
            .join(vb, "doc_b")
            .withColumn("jaccard", F.round(
                inter / (F.size("shs_a") + F.size("shs_b") - inter), 6))
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", "jaccard"))


INC_NEW_MOD = 5  # doc_id % 5 == 0 → the "new ingest batch"; rest = history


def dedup_incremental(spark, sf_dir):
    """Incremental dedup of a new ingest batch against the historical
    corpus — the recurring-crawl shape: history is already signed (its band
    signatures are a materialized table maintained across ingests), each
    new batch signs itself map-side and probes history with a band/sig
    equi-join. Output: one row per NEW doc with dup_of = the smallest
    historical doc it verifies against at jaccard ≥ JACCARD_THRESHOLD
    (null if clean) and an is_dup flag. New batch = doc_id % 5 == 0,
    deterministic.

    Scale shape: the new batch is small relative to history, so its
    signature set BROADCASTS — history's signature table never reshuffles
    (and on a real deployment is bucketed by (band, sig) so the probe is
    also scan-pruned). Verification touches only the candidate pairs via
    the broadcast array_intersect pattern. Cost per ingest is
    O(|batch| + |collisions|), independent of |history|."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    st = _materialized(_shingle_stage(docs, minhash=True))
    sig = _band_signatures(st)
    is_new = F.col("doc_id") % INC_NEW_MOD == 0
    new_sig = (sig.filter(is_new)
               .select(F.col("doc_id").alias("new_id"), "band", "sig"))
    old_sig = (sig.filter(~is_new)
               .select(F.col("doc_id").alias("old_id"), "band", "sig"))
    cand = (old_sig.join(F.broadcast(new_sig), ["band", "sig"])
            .select(F.col("old_id").alias("doc_a"),
                    F.col("new_id").alias("doc_b"))
            .distinct())
    verified = _verified_jaccard(cand, st.select("doc_id", "shs"))
    dup = (verified.groupBy(F.col("doc_b").alias("doc_id"))
           .agg(F.min("doc_a").alias("dup_of")))
    return (docs.filter(is_new).select("doc_id")
            .join(F.broadcast(dup), "doc_id", "left")
            .select("doc_id", "dup_of",
                    F.col("dup_of").isNotNull().cast("int").alias("is_dup")))


def dedup_lsh_eval(spark, sf_dir):
    """Quality evaluation of the MinHash-LSH approximate dedup against the
    exact (hot-shingle-capped) Jaccard pair set — the acceptance gate a
    pipeline runs before trusting banded LSH at scale, mirroring what
    embedding_ann_recall does for ANN. One row: true/found/hit pair counts
    plus precision and recall (ratios of integers, rounded — exact across
    engines). Both sides are the operators' own plans."""
    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    found = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    hits = truth.join(found, ["doc_a", "doc_b"])
    return (truth.agg(F.count("*").alias("n_true"))
            .crossJoin(found.agg(F.count("*").alias("n_found")))
            .crossJoin(hits.agg(F.count("*").alias("n_hit")))
            .select("n_true", "n_found", "n_hit",
                    F.round(F.col("n_hit")
                            / F.greatest(F.col("n_found"), F.lit(1)), 4)
                    .alias("precision"),
                    F.round(F.col("n_hit")
                            / F.greatest(F.col("n_true"), F.lit(1)), 4)
                    .alias("recall")))


def dedup_simhash(spark, sf_dir):
    """32-bit SimHash per document (bit-majority over shingle hashes).

    Round 3: fully MAP-ONLY — the per-doc bit-vote and hash live inside
    the numpy shingle stage, so there is no explode and no shuffle at all
    (the round-2 version aggregated 32 codegen'd sum columns over exploded
    shingle rows — already |docs|-row shuffle, now zero). The hash math
    (int(md5('0:'+shingle)[:8],16), vote = 2·ones − n > 0) is unchanged,
    so the DuckDB oracle is untouched; zero-shingle docs are excluded
    exactly as the old explode dropped them."""
    return (_shingle_stage(_t(spark, sf_dir, "documents")
                           .select("doc_id", "text"), simhash=True)
            .filter(F.col("simhash").isNotNull())
            .select("doc_id", "simhash"))


# --- similarity search over embeddings --------------------------------------------

def _matrix(col: pa.Array) -> np.ndarray:
    """An Arrow column of equal-length vectors as one (n, d) numpy array of
    its element type."""
    return np.stack(col.to_numpy(zero_copy_only=False))


def _vector_stage(df, vec, kernel, schema):
    """The one numpy vector stage: ``df.mapInArrow`` calling
    ``kernel(batch, X)`` on every non-empty batch, ``X`` being its ``vec``
    column as a ``_matrix``. The kernel returns the output columns in
    ``schema``'s order, each an Arrow column of the batch (passed through
    as it is) or anything ``pa.array`` takes. Bind the kernel with
    ``partial`` of a module function, so it pickles by reference."""
    return df.mapInArrow(
        partial(_vector_batches, kernel, vec, arrow_schema(schema)), schema)


def _vector_batches(kernel, vec, arrow, batches):
    for batch in batches:
        if batch.num_rows:
            cols = kernel(batch, _matrix(batch.column(vec)))
            yield pa.RecordBatch.from_arrays(
                [c.cast(f.type) if isinstance(c, pa.Array)
                 else pa.array(c, f.type) for c, f in zip(cols, arrow)],
                schema=arrow)


@arrow_udf(DoubleType())
def _cosine(a: pa.Array, b: pa.Array) -> pa.Array:
    """Vectorized cosine of two array<double> columns: one Arrow batch in,
    numpy stacks the vectors and BLAS/SIMD does the dot products. Replaces
    the round-2 F.aggregate/zip_with expression, which ran in Spark's
    INTERPRETED higher-order-function evaluator — a 10-50x constant-factor
    tax that would dominate the |vecs|·√n IVF assignment at 100 TB. Values
    agree with the DuckDB oracle's list_dot_product to ~1 ulp (summation
    order differs), far inside the round(cos, 4) comparison grain.

    Accepted residual risk: at UNROUNDED decision points (argmax cell
    assignment, LSH sign bits, rank-k cutoffs, the 0.40 dedup threshold) a
    last-ulp divergence from the oracle's sequential fold could flip a
    discrete outcome. For 64-dim md5/gaussian-derived vectors the nearest
    decision margins are ~1e-2 — ~13 orders above the fold-order error —
    and the gate is empirically hash-green at sf0.001/0.01/0.1. Data with
    EXACT ties (duplicated vectors) would already have been fragile under
    the old interpreted fold vs DuckDB."""
    A, B = _matrix(a), _matrix(b)
    dot = np.einsum("ij,ij->i", A, B)
    na = np.sqrt(np.einsum("ij,ij->i", A, A))
    nb = np.sqrt(np.einsum("ij,ij->i", B, B))
    return pa.array(dot / (na * nb))


def _emb(spark, sf_dir):
    return (_t(spark, sf_dir, "embeddings")
            .select("vec_id", F.transform("embedding",
                                          lambda x: x.cast("double")).alias("v")))


N_CLUSTER_BLOBS = 8
CLUSTER_SCALE = 3.0


def _emb_clustered(spark, sf_dir):
    """Mixture-of-shifted-blobs distribution DERIVED deterministically from
    the embeddings table: vector i is pulled toward blob center i % 8
    (center = CLUSTER_SCALE × the embedding of vec_id i % 8). md5-uniform
    vectors are the easy case for IVF recall tuning — near-neighbors are
    spread evenly — so this clustered set gives probe-count tuning a
    non-trivial signal. SQL-expressible (an equi-join + elementwise
    combine), so the DuckDB oracle reproduces it exactly."""
    raw = _emb(spark, sf_dir)
    base = (raw.filter(F.col("vec_id") < N_CLUSTER_BLOBS)
            .select(F.col("vec_id").alias("c"), F.col("v").alias("bv")))
    return (raw.withColumn("c", F.pmod("vec_id", F.lit(N_CLUSTER_BLOBS)))
            .join(F.broadcast(base), "c")
            .select("vec_id",
                    F.zip_with("bv", "v",
                               lambda x, y: F.lit(CLUSTER_SCALE) * x + y)
                    .alias("v")))


ANN_K = 3          # neighbors per query, in every top-k and recall op
ANN_N_QUERIES = 5  # queries per search: vec_id in [q_lo, q_lo + 5)


def _query_window(q_lo, n_queries):
    """The query vectors of a search: vec_id in [q_lo, q_lo + n_queries)."""
    return (F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_lo + n_queries)


def _queries(df, vec, q_lo, n_queries, *keep):
    """The query side of a search, small by construction and broadcast by
    every caller: (query_id, q<vec>, *keep) over the query window."""
    return (df.filter(_query_window(q_lo, n_queries))
            .select(F.col("vec_id").alias("query_id"),
                    F.col(vec).alias("q" + vec), *keep))


def _top_k(cand, order, k, out):
    """Per-query top-k of a (query_id, vec_id, ...) candidate table: rank
    by the Column ``order`` with ties to the lower vec_id, keep rank <= k,
    return (query_id, vec_id, rank, out). Spark's WindowGroupLimit pushes
    the rank filter below the query_id exchange, so each task ships at most
    k rows per query."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank", out))


def _cosine_top_k(cand):
    """The ANN_K highest-cosine neighbors of each query in a (query_id, qv,
    vec_id, v) candidate table, the query itself excluded."""
    scored = (cand.filter(F.col("vec_id") != F.col("query_id"))
              .withColumn("cos", _cosine(F.col("qv"), F.col("v"))))
    return _top_k(scored, F.col("cos").desc(), ANN_K,
                  F.round("cos", 4).alias("cos_r"))


def _exact_topk(emb, q_lo):
    """Brute-force cosine top-k over an embedding DataFrame: the exactness
    baseline. Queries (a small fixed set) are broadcast; the corpus side
    never shuffles."""
    q = _queries(emb, "v", q_lo, ANN_N_QUERIES)
    return _cosine_top_k(emb.crossJoin(F.broadcast(q)))


def embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k (exact ANN baseline): broadcast queries,
    numpy-vectorized scoring, WindowGroupLimit rank pushdown."""
    return _exact_topk(_emb(spark, sf_dir), 0)


LSH_N_PLANES = 8


def _lsh_planes() -> np.ndarray:
    """The (LSH_N_PLANES × 64) sign-LSH hyperplanes, seeded from md5, so
    every worker derives the same matrix."""
    return np.array([[int(_md5(f"plane:{p}:{d}".encode()).hexdigest()[:8],
                          16) / 0x7FFFFFFF - 1.0
                      for d in range(64)] for p in range(LSH_N_PLANES)],
                    dtype=np.float64)


def _lsh_bucket_kernel(batch, V):
    """The bucket of each vector, its sign bits against the hyperplanes:
    ONE matmul per Arrow batch instead of LSH_N_PLANES interpreted-HOF
    folds per row."""
    bits = (V @ _lsh_planes().T >= 0).astype(np.uint8)
    return (batch.column("vec_id"), batch.column("v"),
            ["".join("1" if b else "0" for b in row) for row in bits])


def embedding_ann_lsh(spark, sf_dir):
    """Sign-LSH bucketed ANN (the 100TB path: equi-join on bucket signature
    instead of a cross join). Hyperplanes are seeded pseudo-random vectors
    derived from md5 — deterministic. Rows-only checked (recall < 1 by
    design vs the brute-force baseline). The bucket comes from a vector
    stage, not a UDF the join's isnotnull(bucket) filter would re-run."""
    emb = _vector_stage(_emb(spark, sf_dir), "v", _lsh_bucket_kernel,
                        "vec_id bigint, v array<double>, bucket string")
    q = _queries(emb, "v", 0, ANN_N_QUERIES, "bucket")
    return _cosine_top_k(emb.join(F.broadcast(q), "bucket"))


N_IVF_MIN_CENTROIDS = 16
N_IVF_PROBES = 2


def _emb_count(spark, sf_dir) -> int:
    """Corpus size for IVF codebook sizing: one column-pruned count. A
    production deployment would read this from table statistics (Iceberg
    snapshot summary / ANALYZE) instead of counting at all."""
    return _t(spark, sf_dir, "embeddings").count()


def _ivf_n_centroids(n_vectors: int) -> int:
    """Centroid count scales as √n (IVF rule of thumb), floored at 16: cell
    population stays ~√n as the corpus grows, so within-cell work is
    O(n·√n/ncells)=O(n) instead of O(n²/const). One scalar count() action on
    the driver — the same pattern a real IVF build uses to size its
    codebook."""
    import math
    return max(N_IVF_MIN_CENTROIDS, int(math.ceil(math.sqrt(n_vectors))))


def _ivf_assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as ONE map-side numpy pass: the √n-row
    codebook is collected to the driver (√(10⁹) centroids × 64 dims × 8 B ≈
    16 MB — the standard IVF build pattern; real deployments broadcast the
    trained codebook exactly like this) and each Arrow batch computes a
    single (batch × centroids) matmul + argmax. Zero shuffle and zero
    joined-row materialization — the round-2 crossJoin+max_by plan, while
    partially aggregated, still generated |vecs|·√n Tungsten rows through
    the interpreted-HOF cosine. Tiebreak matches the oracle: argmax returns
    the FIRST maximal index and rows are ordered by cent_id ascending, so
    equal-cosine ties resolve to the lowest cent_id."""
    rows = cents.orderBy("cent_id").collect()
    cent_ids = np.array([r["cent_id"] for r in rows], dtype=np.int64)
    C = np.array([r["cv"] for r in rows], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    return _vector_stage(emb, "v", partial(_ivf_assign_kernel, cent_ids, Cn),
                         "vec_id bigint, v array<double>, cell bigint")


def _ivf_assign_kernel(cent_ids, Cn, batch, V):
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    best = np.argmax(Vn @ Cn.T, axis=1)
    return batch.column("vec_id"), batch.column("v"), cent_ids[best]


def _ivf_centroids(emb: DataFrame, n_cent: int) -> DataFrame:
    """The IVF codebook (cent_id, cv): the vectors with vec_id < n_cent —
    deterministic, so the DuckDB oracle rebuilds the same codebook."""
    return (emb.filter(F.col("vec_id") < n_cent)
            .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")))


def _ivf_search(emb, cents, assigned, q_lo, probes):
    """Probe + rank stage given a prebuilt (possibly materialized) cell
    assignment: each query scans only its `probes` nearest cells. The
    probe-independent assignment is the expensive part, so sweeps over
    probe budgets hoist it."""
    qc = (_queries(emb, "v", q_lo, ANN_N_QUERIES)
          .crossJoin(F.broadcast(cents))
          .withColumn("cos_c", _cosine(F.col("qv"), F.col("cv"))))
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("cent_id").asc())
    probe_cells = (qc.withColumn("rn", F.row_number().over(w_probe))
                   .filter(F.col("rn") <= probes)
                   .select("query_id", "qv", F.col("cent_id").alias("cell")))
    return _cosine_top_k(assigned.join(F.broadcast(probe_cells), "cell"))


def embedding_ann_ivf(spark, sf_dir):
    """IVF ANN top-k: sqrt(n) codebook (the vectors with vec_id < n_cent,
    so the DuckDB oracle rebuilds it), numpy matmul cell assignment,
    N_IVF_PROBES-cell probe — the scale path next to embedding_topk's
    exact scan."""
    emb = _emb(spark, sf_dir)
    cents = _ivf_centroids(emb, _ivf_n_centroids(_emb_count(spark, sf_dir)))
    return _ivf_search(emb, cents, _ivf_assign(emb, cents), 0, N_IVF_PROBES)


def _recall_counts(exact_df, approx_df):
    """Per-query integer |approx ∩ exact| hit counts vs the baseline size —
    the all-integer recall shape the driver's hash compare needs."""
    exact = exact_df.select("query_id", "vec_id")
    approx = approx_df.select("query_id", "vec_id")
    hits = (exact.join(approx, ["query_id", "vec_id"])
            .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits")))
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (base.join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    "n_exact"))


def _recall_at_k(exact_df, approx_df):
    """Per-query recall: the hit ratio of _recall_counts, rounded."""
    return _recall_counts(exact_df, approx_df).select(
        "query_id",
        F.round(F.col("n_hits") / F.col("n_exact"), 4).alias("recall"))


def embedding_ann_recall(spark, sf_dir):
    """Recall@k of the IVF index against the brute-force exact baseline —
    the evaluation query an ANN deployment runs before trusting the
    approximate path. Both sides are the operators' own plans; the result
    is per-query |approx ∩ exact| / k. Deterministic (both operators
    are), so the oracle reproduces it exactly."""
    return _recall_at_k(embedding_topk(spark, sf_dir),
                        embedding_ann_ivf(spark, sf_dir))


SWEEP_Q_LO = 200  # probe-sweep queries sit OUTSIDE the codebook (n_cent < 200
                  # at test scales): a query that IS a centroid traps its
                  # neighbors in its own cell and recall reads ~1 regardless
                  # of probes — measured and rejected as a tuning signal
SWEEP_PROBES = (1, 2, 3)


def embedding_ann_probe_sweep(spark, sf_dir):
    """The probe-tuning table an IVF deployment reads before fixing nprobe:
    recall@k of the IVF index vs the exact baseline, swept over probe
    budgets AND over two query distributions — the md5-uniform embeddings
    and the mixture-of-shifted-blobs set (_emb_clustered). Measured shape
    this pins: uniform recall climbs steeply with probes (neighbors spread
    across many cells), while on the clustered set cells align with blobs
    and one probe already captures the blob's neighbors — i.e. nprobe
    requirements are distribution-dependent, which is exactly why the sweep
    must be run per-corpus. Hits are INTEGER counts (recall = hits / (k ×
    n_queries)), so the oracle compare is exact, no float-average drift."""
    n_cent = _ivf_n_centroids(_emb_count(spark, sf_dir))
    total = float(ANN_K * ANN_N_QUERIES)
    parts = []
    for dist, emb in (("uniform", _emb(spark, sf_dir)),
                      ("clustered", _emb_clustered(spark, sf_dir))):
        # the cell assignment is probe-INDEPENDENT and the exact baseline is
        # shared by every probe budget: build each once per distribution and
        # materialize, instead of re-running the full-corpus assignment pass
        # and exact scan inside all |SWEEP_PROBES| branches
        cents = _ivf_centroids(emb, n_cent)
        assigned = _materialized(_ivf_assign(emb, cents))
        exact = _materialized(
            _exact_topk(emb, SWEEP_Q_LO).select("query_id", "vec_id"))
        for probes in SWEEP_PROBES:
            approx = _ivf_search(emb, cents, assigned, SWEEP_Q_LO, probes) \
                .select("query_id", "vec_id")
            parts.append(
                exact.join(approx, ["query_id", "vec_id"])
                .agg(F.count("*").alias("n_hits"))
                .select(F.lit(dist).alias("dist"),
                        F.lit(probes).alias("probes"),
                        F.col("n_hits"),
                        F.round(F.col("n_hits") / F.lit(total), 4)
                        .alias("recall")))
    return reduce(DataFrame.unionAll, parts)


COSINE_DUP_THRESHOLD = 0.40       # dedup_embedding_cosine, dedup_semantic_cc
COSINE_BALANCED_THRESHOLD = 0.95  # dedup_embedding_cosine_balanced
MAX_CELL = 16  # dedup_embedding_cosine_balanced's sub-cell population cap


def _cosine_dups(pairs: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, cos_r) of the (vec_a, va, vec_b, vb) pairs whose
    cosine is >= threshold."""
    return (pairs.withColumn("cos", _cosine(F.col("va"), F.col("vb")))
            .filter(F.col("cos") >= threshold)
            .select("vec_a", "vec_b", F.round("cos", 4).alias("cos_r")))


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs. Scale path: candidates restricted to
    pairs sharing an IVF cell (same deterministic ~√n-centroid assignment as
    embedding_ann_ivf) — the shuffle key is the cell, never an n² cross
    join. Cell count grows as √n with the corpus, so expected cell
    population is ~√n and within-cell pairing stays ~O(n) total (skewed
    cells: dedup_embedding_cosine_balanced)."""
    emb = _emb(spark, sf_dir)
    cents = _ivf_centroids(emb, _ivf_n_centroids(_emb_count(spark, sf_dir)))
    # one assignment pass feeds both sides of the cell self-join
    assigned = _materialized(_ivf_assign(emb, cents))
    a = assigned.select(F.col("cell"), F.col("vec_id").alias("vec_a"),
                        F.col("v").alias("va"))
    b = assigned.select(F.col("cell"), F.col("vec_id").alias("vec_b"),
                        F.col("v").alias("vb"))
    pairs = (a.join(b, "cell")
             .filter(F.col("vec_a") < F.col("vec_b"))
             .select("vec_a", "va", "vec_b", "vb"))
    return _cosine_dups(pairs, COSINE_DUP_THRESHOLD)


def _cell_pops(assigned: DataFrame) -> DataFrame:
    """(cell, pop) — at most |cells| ≈ √n rows, partial-agg below the
    exchange; always broadcastable."""
    return assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("pop"))


def embedding_ivf_cell_stats(spark, sf_dir):
    """Per-distribution IVF cell-population report — the balance check an
    IVF deployment runs before trusting the √n-cell cost model. argmax
    assignment guarantees NOTHING about balance: on the mixture-of-blobs
    set (_emb_clustered) vectors collapse into the blob-aligned cells
    (max_pop ≫ the uniform distribution's), and at 100 TB a hot cell is a
    straggler task in any within-cell pair join (see
    _cell_pairs_balanced for the mitigation; the ANN SEARCH path needs
    none — _ivf_search joins the corpus against a BROADCAST probe list,
    so no shuffle ever keys on cell there). All-integer columns keep the
    oracle compare exact."""
    n_cent = _ivf_n_centroids(_emb_count(spark, sf_dir))
    parts = []
    for dist, emb in (("uniform", _emb(spark, sf_dir)),
                      ("clustered", _emb_clustered(spark, sf_dir))):
        pops = _cell_pops(_ivf_assign(emb, _ivf_centroids(emb, n_cent)))
        parts.append(pops.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.min("pop").alias("min_pop"),
            F.max("pop").alias("max_pop"),
            F.sum("pop").alias("n_vectors"))
            .select(F.lit(dist).alias("dist"), "n_cells", "min_pop",
                    "max_pop", "n_vectors"))
    return parts[0].unionAll(parts[1])


def _with_subcells(assigned: DataFrame, max_cell: int) -> DataFrame:
    """Deterministic hash split of oversized cells: a cell with population
    pop gets n_sub = ceil(pop / max_cell) sub-cells and each of its vectors
    lands in sub = xxhash64(vec_id) % n_sub. The (pop, n_sub) table is ≤
    |cells| rows and broadcast — the corpus itself never shuffles here. The
    split is hash-based (a parallelism key, no geometric meaning), so any
    consumer must either stay within (cell, sub) for same-sub work or pair
    sub-cells explicitly (_cell_pairs_balanced) — never treat sub as a
    nearest-neighbor refinement."""
    subs = _cell_pops(assigned).select(
        "cell", F.ceil(F.col("pop") / F.lit(max_cell)).cast("long")
        .alias("n_sub"))
    return (assigned.join(F.broadcast(subs), "cell")
            .withColumn("sub", F.pmod(F.xxhash64("vec_id"), F.col("n_sub"))))


def _cell_pairs_balanced(assigned: DataFrame, max_cell: int) -> DataFrame:
    """The EXACT pair set of the plain within-cell self-join
    (a.join(b, "cell"), vec_a < vec_b) with per-task work bounded by
    ~max_cell² instead of hot_cell²: the textbook skew-salted self-join.

      - same-sub pairs: equi-join on (cell, sub) with vec_a < vec_b —
        each unordered same-sub pair appears exactly once;
      - cross-sub pairs: the LEFT side in sub i replicates to keys
        (cell, i, j) for every j > i, the RIGHT side in sub j replicates
        to (cell, i, j) for every i < j; the equi-join on (cell, i, j)
        with i < j strict yields each cross-sub pair exactly once
        REGARDLESS of vec_id order, then least/greatest canonicalizes.

    Replication factor per row is n_sub − 1 ≈ pop/max_cell — the standard
    price of an exact skew join, paid only by oversized cells (n_sub = 1
    cells replicate nothing and take the same-sub path only). Union'ing
    the two disjoint pair families needs no dedup."""
    s = _with_subcells(assigned, max_cell)
    a = s.select("cell", "n_sub", "sub",
                 F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = s.select("cell", "sub",
                 F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    within = (a.drop("n_sub").join(b, ["cell", "sub"])
              .filter(F.col("vec_a") < F.col("vec_b"))
              .select("vec_a", "va", "vec_b", "vb"))
    # Spark's sequence(start, stop) DESCENDS when start > stop — filter the
    # no-cross-partner rows out before exploding instead of relying on it
    left = (a.filter(F.col("sub") < F.col("n_sub") - 1)
            .withColumn("j", F.explode(
                F.sequence(F.col("sub") + F.lit(1), F.col("n_sub") - F.lit(1))))
            .select("cell", F.col("sub").alias("i"), "j",
                    F.col("vec_a").alias("id_l"), F.col("va").alias("v_l")))
    right = (b.filter(F.col("sub") > 0)
             .withColumn("i", F.explode(
                 F.sequence(F.lit(0).cast("long"), F.col("sub") - F.lit(1))))
             .select("cell", "i", F.col("sub").alias("j"),
                     F.col("vec_b").alias("id_r"), F.col("vb").alias("v_r")))
    # canonicalize the VECTORS along with the ids: va must be vec_a's
    # vector even when id_l > id_r, so non-symmetric consumers (asymmetric
    # distances, per-side features) can trust the schema — not just the
    # symmetric-cosine caller this was written for
    swapped = F.col("id_l") > F.col("id_r")
    cross = (left.join(right, ["cell", "i", "j"])
             .select(F.least("id_l", "id_r").alias("vec_a"),
                     F.when(swapped, F.col("v_r"))
                      .otherwise(F.col("v_l")).alias("va"),
                     F.greatest("id_l", "id_r").alias("vec_b"),
                     F.when(swapped, F.col("v_l"))
                      .otherwise(F.col("v_r")).alias("vb")))
    return within.unionAll(cross)


def dedup_embedding_cosine_balanced(spark, sf_dir):
    """dedup_embedding_cosine's pair join on the CLUSTERED distribution —
    where the blob-aligned cells are hot (embedding_ivf_cell_stats) — with
    the oversized-cell split. The oracle is the PLAIN unsplit SQL pair
    join over the same vectors, so the driver's hash check proves the
    balanced plan emits the bit-identical pair set (the dedup analogue of
    'recall unchanged')."""
    emb = _emb_clustered(spark, sf_dir)
    cents = _ivf_centroids(emb, _ivf_n_centroids(_emb_count(spark, sf_dir)))
    assigned = _materialized(_ivf_assign(emb, cents))  # read on 4 paths
    pairs = _cell_pairs_balanced(assigned, MAX_CELL)
    return _cosine_dups(pairs, COSINE_BALANCED_THRESHOLD)


def dedup_semantic_cc(spark, sf_dir):
    """SemDeDup-shaped semantic dedup: connected components over the
    embedding-cosine near-dup pair graph, keeping one canonical vector per
    semantic cluster. Same reason as dedup_cluster_cc: cosine similarity is
    not transitive, so dropping the right side of every pair over-deletes
    chains of paraphrases — cluster first, keep the minimum id. Output:
    every vector with its cluster id and keep = 1 iff canonical.

    Scale shape: pairs come from IVF-cell equi-join candidates (never n²),
    the CC rounds shuffle only the pair set (O(log n) rounds, see
    _cc_labels), and the final labeling join strategy is left to AQE."""
    pairs = _materialized(
        dedup_embedding_cosine(spark, sf_dir)
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")))
    labels = _cc_labels(pairs).select(F.col("doc_id").alias("vec_id"),
                                      "cluster_id")
    vecs = _t(spark, sf_dir, "embeddings").select("vec_id")
    return (vecs.join(labels, "vec_id", "left")
            .select("vec_id",
                    F.coalesce("cluster_id", "vec_id").alias("cluster_id"))
            .withColumn("keep", (F.col("vec_id") == F.col("cluster_id"))
                        .cast("int")))


def part_brand_revenue(spark, sf_dir):
    """Fact-to-dim join on a second fact key (l_partkey): revenue and volume
    by part brand/type. The part dim is broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev_c = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
                    0).cast("long")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy("p_brand", "p_type")
            .agg(F.count("*").alias("n_items"),
                 F.sum(rev_c).alias("revenue_cents"),
                 F.max("p_size").alias("max_size")))


def supplier_nation_rank(spark, sf_dir):
    """Revenue rank of suppliers within their nation: big-fact join +
    broadcast dims + ranking window (shuffle keys: l_suppkey then
    n_name)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev_c = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
                    0).cast("long")
    per_sup = (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
               .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
               .groupBy("n_name", "s_suppkey", "s_name")
               .agg(F.sum(rev_c).alias("revenue_cents")))
    w = Window.partitionBy("n_name").orderBy(
        F.col("revenue_cents").desc(), F.col("s_suppkey").asc())
    return (per_sup.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("n_name", "s_suppkey", "s_name", "revenue_cents", "rank"))


# --- event-stream relational ops ----------------------------------------------------

SESSION_GAP_US = 1800 * 1_000_000  # 30-minute inactivity gap, exact microseconds


def _ntz_micros(col):
    """Naive-epoch microseconds of a TIMESTAMP_NTZ column, independent of
    spark.sql.session.timeZone (= DuckDB epoch_us semantics)."""
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_diff("MICROSECOND", epoch, col)


def events_sessionize(spark, sf_dir):
    """Sessionization — the classic clickstream/training-telemetry op: split
    each user's event stream into sessions at >30-min inactivity gaps and
    aggregate per session. Scale shape: ONE shuffle keyed on user_id; the
    lag window, the running-sum session numbering, and the final
    (user_id, session_id) aggregate all reuse that same hash partitioning
    (group keys ⊇ the window partition key), so no second exchange. Gap and
    duration arithmetic is exact integer MICROSECONDS on the NAIVE
    timestamps (timestamp_diff on TIMESTAMP_NTZ / DuckDB epoch_us) —
    events carry sub-second timestamps, float epoch seconds would not
    compare identically across engines, and session-timezone
    interpretation would corrupt gaps across DST transitions."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    # parquet yields TIMESTAMP_NTZ. timestampdiff on NTZ values is pure
    # calendar arithmetic — NO session-timezone interpretation — exactly
    # matching DuckDB's epoch_us on naive timestamps. (The tempting
    # unix_micros(ts.cast("timestamp")) route interprets the naive value
    # in the SESSION timezone: across a DST fall-back a 20-minute gap
    # reads as 80 minutes — measured — splitting one session in two.)
    us = _ntz_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    new_sess = F.when(
        prev_us.isNull() | (us - prev_us > SESSION_GAP_US), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (ev.withColumn("_new", new_sess)
            .withColumn("session_id", F.sum("_new").over(run)))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("start_ts"),
                 F.max("ts").alias("end_ts"),
                 (_ntz_micros(F.max("ts"))
                  - _ntz_micros(F.min("ts"))).alias("duration_us"),
                 F.countDistinct("event_type").alias("n_event_types")))


def asof_join_latest_order(spark, sf_dir):
    """As-of join (point-in-time correctness): each event is matched to the
    LATEST order of the same customer at-or-before the event timestamp —
    the lookup every feature-backfill pipeline needs, and an operator Spark
    lacks natively. Scale shape: the union-sort trick — tag both streams,
    union, ONE shuffle keyed on the join key, and a running
    last(order, ignorenulls) window carries the most recent order forward
    into each event row. Never a per-event range join or an n×m candidate
    blowup; cost is sort + linear scan per key, exactly how kdb/QuestDB
    execute asof. Tie handling is deterministic WITHOUT a pre-dedup
    aggregate (which would cost a second exchange): at equal timestamps
    orders sort BEFORE events (as-of is inclusive) and among themselves by
    ascending o_orderkey, so the running last() picks the MAX o_orderkey —
    matching the DuckDB oracle, whose right side is deduped to max
    o_orderkey per (custkey, ts) because native ASOF JOIN leaves
    equal-key ties unspecified. The whole op is ONE exchange
    (plan-verified)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey")
    left = ev.select(
        F.col("user_id").alias("k"), F.col("ts"),
        F.lit(1).alias("is_ev"), F.col("event_id"),
        F.lit(None).cast(
            "struct<o_orderkey:bigint,o_ts:timestamp_ntz>").alias("ord"))
    right = orders.select(
        F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("is_ev"), F.lit(None).cast("long").alias("event_id"),
        F.struct(F.col("o_orderkey"),
                 F.col("o_orderdate").alias("o_ts")).alias("ord"))
    u = left.unionByName(right)
    w = (Window.partitionBy("k")
         .orderBy(F.col("ts").asc(), F.col("is_ev").asc(),
                  F.col("ord.o_orderkey").asc_nulls_last())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = u.withColumn("last_ord", F.last("ord", ignorenulls=True).over(w))
    return (matched.filter(F.col("is_ev") == 1)
            .select("event_id", F.col("k").alias("user_id"), "ts",
                    F.col("last_ord.o_orderkey").alias("last_orderkey"),
                    F.col("last_ord.o_ts").alias("last_orderdate")))


PACK_BUDGET = 2048   # tokens per training sequence
PACK_SHARDS = 32     # independent packing streams


def corpus_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing — the GPT-style step that turns a
    document corpus into fixed-size training sequences: docs are dealt
    into PACK_SHARDS independent streams by a deterministic hash, each
    stream is concatenated in doc_id order, and the token stream is cut
    every PACK_BUDGET tokens. Emits each doc's placement: its stream, its
    starting token offset, and the first/last sequence ids it lands in
    (a doc may straddle a cut). Scale shape: ONE exchange keyed on the
    shard; the running token sum is a window over the same partitioning
    (sort, no second exchange), and shard count scales with the cluster
    while placement stays deterministic (hash + doc_id order, never row
    order)."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    shard = _portable_hash32(F.col("doc_id").cast("string"),
                             F.lit("pack")) % PACK_SHARDS
    w = Window.partitionBy("shard").orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withtok = d.select("doc_id", shard.alias("shard"), n_tok.alias("n_tokens"))
    cum = F.sum("n_tokens").over(w)
    return (withtok
            .withColumn("start_tok", (cum - F.col("n_tokens")).cast("long"))
            .select("doc_id", "shard", "n_tokens", "start_tok",
                    F.floor(F.col("start_tok") / PACK_BUDGET).alias("seq_first"),
                    F.floor((F.col("start_tok") + F.col("n_tokens") - 1)
                            / PACK_BUDGET).alias("seq_last")))


def events_value_quantiles(spark, sf_dir):
    """Exact interpolated quantiles (p50/p90/p99) of event value per type —
    the distribution profile a pipeline reads before picking filter
    thresholds. Uses EXACT percentile (both engines implement the standard
    linear interpolation at rank p·(n−1)) rather than approx_percentile,
    whose sketch is engine-specific and could never hash-match an oracle.
    One groupBy shuffle; at 100 TB swap to percentile_approx and drop the
    oracle to rows-only — documented tradeoff."""
    pcts = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (_t(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"), pcts.alias("p"))
            .select("event_type", "n",
                    F.round(F.col("p")[0], 4).alias("p50"),
                    F.round(F.col("p")[1], 4).alias("p90"),
                    F.round(F.col("p")[2], 4).alias("p99")))


HEAVY_HITTERS_K = 20


def token_heavy_hitters(spark, sf_dir):
    """Global top-k most frequent tokens — vocabulary head inspection.
    Scale shape: map-side partial counts into the (token) aggregate, then
    TakeOrderedAndProject computes the global top-k as per-partition
    top-k + a k-row driver merge — never a single-partition sort of the
    full vocabulary."""
    counts = (_t(spark, sf_dir, "documents")
              .select(F.explode(F.split("text", " ")).alias("token"))
              .filter(F.col("token") != "")
              .groupBy("token").agg(F.count("*").alias("n")))
    top = (counts.orderBy(F.col("n").desc(), F.col("token").asc())
           .limit(HEAVY_HITTERS_K))
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w))


# --- text analysis ------------------------------------------------------------------

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "with", "over", "my"],
    "de": ["der", "die", "das", "und", "mit", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "de", "un", "une"],
}
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def text_token_count(spark, sf_dir):
    """Token counting two ways per document: whitespace words and a
    BPE-ish regex class count — both pure codegen expressions."""
    return (_t(spark, sf_dir, "documents")
            .select("doc_id",
                    F.size(F.filter(F.split("text", " "),
                                    lambda w: w != "")).alias("ws_tokens"),
                    F.size(F.regexp_extract_all(
                        F.col("text"), F.lit(TOKEN_RE), 0)).alias("re_tokens")))


def _quality_exprs():
    """(n_words, avg_word_len, stopword_ratio, quality_score) column
    expressions over a `text` column — shared by text_quality and every
    consumer that needs the score map-side on its own scan (no join)."""
    words = F.filter(F.split("text", " "), lambda w: w != "")
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(words, lambda w: F.array_contains(en, w)))
    n_words = F.size(words)
    avg_wlen = (F.aggregate(words, F.lit(0),
                            lambda acc, w: acc + F.length(w)).cast("double")
                / F.greatest(n_words, F.lit(1)))
    stop_ratio = stop_hits.cast("double") / F.greatest(n_words, F.lit(1))
    score = F.round(
        F.least(F.lit(1.0),
                stop_ratio * 2 + F.when((avg_wlen >= 3) & (avg_wlen <= 8), 0.5)
                .otherwise(0.0)), 4)
    return n_words, avg_wlen, stop_ratio, score


def text_quality(spark, sf_dir):
    """Per-doc quality statistics (word count, mean word length, stopword
    ratio) and the composed score — map-side codegen, no shuffle."""
    n_words, avg_wlen, stop_ratio, score = _quality_exprs()
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", n_words.alias("n_words"),
                    F.round(avg_wlen, 4).alias("avg_word_len"),
                    F.round(stop_ratio, 4).alias("stopword_ratio"),
                    score.alias("quality_score")))


def text_lang_id(spark, sf_dir):
    """Stopword-hit language ID over en/de/fr lists — the n-gram-heuristic
    family (CLD-style) as pure array expressions, map-only."""
    words = F.filter(F.split("text", " "), lambda w: w != "")
    hits = {}
    for lang, sw in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in sw])
        hits[lang] = F.size(F.filter(words, lambda w: F.array_contains(arr, w)))
    pred = (F.when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]), "en")
            .when(hits["de"] >= hits["fr"], "de").otherwise("fr"))
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", hits["en"].alias("hits_en"),
                    hits["de"].alias("hits_de"), hits["fr"].alias("hits_fr"),
                    pred.alias("lang_pred")))


def corpus_quality_filter(spark, sf_dir):
    """The composed C4-style cleaning pass a training-data pipeline runs:
    keep a document iff it is the exact-dedup keeper (min doc_id per
    content hash) AND predicted English AND quality score >= 0.6 AND
    20..1000 whitespace tokens. All inputs are the individual operators'
    own expressions, so this also pins their composition; every stage is
    codegen expressions + one content-hash groupBy + doc_id equi-joins."""
    quality = text_quality(spark, sf_dir).select(
        "doc_id", "n_words", "quality_score")
    lang = text_lang_id(spark, sf_dir).select("doc_id", "lang_pred")
    keepers = (dedup_exact(spark, sf_dir)
               .select(F.col("keeper_id").alias("doc_id")))
    return (quality.join(lang, "doc_id").join(keepers, "doc_id")
            .filter((F.col("lang_pred") == "en")
                    & (F.col("quality_score") >= 0.6)
                    & F.col("n_words").between(20, 1000))
            .select("doc_id", "n_words", "quality_score", "lang_pred"))


STRATA_PCT = {"en": 90, "de": 50, "fr": 20}  # percent kept per language


def corpus_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling — the corpus-MIXING primitive: a
    training mix keeps a different fraction per stratum (language here;
    domain or quality band identically). Membership is a pure function of
    doc_id (the same portable md5 hash as the train/test split, different
    salt), never of row order, partitioning, or an RNG — so re-runs,
    resumes, and the DuckDB oracle agree row-for-row. Pure map-side
    expression: no shuffle at any scale; unknown strata are dropped."""
    h = _portable_hash32(F.col("doc_id").cast("string"), F.lit("strat"))
    rate = F.coalesce(
        *[F.when(F.col("lang") == lang, F.lit(pct))
          for lang, pct in STRATA_PCT.items()],
        F.lit(0))
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", "lang", (h % 100).alias("bucket"))
            .filter(F.col("bucket") < rate))


TRAIN_PCT = 90


def corpus_train_test_split(spark, sf_dir):
    """Deterministic hash-based train/test split — the reproducibility
    primitive every training pipeline needs: membership is a pure function
    of doc_id (portable md5-derived hash mod 100), never of row order,
    partitioning, or a sampling RNG, so re-runs, resumes, and other engines
    (the DuckDB oracle) agree row-for-row. Pure map-side expression: no
    shuffle at any scale."""
    h = _portable_hash32(F.col("doc_id").cast("string"), F.lit("split"))
    return (_t(spark, sf_dir, "documents")
            .select("doc_id",
                    F.when(h % 100 < TRAIN_PCT, "train")
                    .otherwise("test").alias("split")))


TFIDF_K = 3


def text_tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-k terms per document: tf = per-(doc, token) count, idf =
    ln((N+1)/(df+1)), rank per doc. Scale shape: ONE tokenize pass — the
    document-frequency table derives from the tf table (tf already has
    exactly one row per (doc, token), so df = count per token, no
    countDistinct over re-exploded tokens and no second corpus scan). The
    scoring join is left UN-hinted: Catalyst broadcasts the df table while
    it fits autoBroadcastJoinThreshold and falls back to a token-keyed
    sort-merge join at real vocab sizes (an explicit broadcast() hint is
    never demoted and would OOM at 100 TB). Top-k gets the
    WindowGroupLimit rank pushdown."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar for the idf constant (table stats in prod)
    tok = (docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
           .filter(F.col("token") != ""))
    tf = _materialized(
        tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf")))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1))
    scored = (tf.join(df, "token")
              .withColumn("tfidf", F.col("tf") * idf))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TFIDF_K)
            .select("doc_id", "token", "tf", "df", "rank",
                    F.round("tfidf", 4).alias("tfidf_r")))


PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


def text_pii_scrub(spark, sf_dir):
    """PII scrubbing — the C4/CCNet-style redaction pass: replace emails
    and phone numbers with typed placeholder tokens and count redactions.
    The synthetic documents contain no PII, so deterministic PII is first
    INJECTED as a function of doc_id (docs ≡0 mod 3 get an email, ≡0 mod 5
    a phone) — the oracle recomputes the same injection, so the hash gate
    verifies the actual regex behavior, not a zero-match no-op. Pure
    map-side codegen expressions (regexp_replace / regexp_count): no
    shuffle, no Python."""
    d = _t(spark, sf_dir, "documents")
    email = F.concat(F.lit(" contact "),
                     F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6),
                     F.lit("@example.com"))
    phone = F.concat(F.lit(" call "),
                     F.lpad(((F.col("doc_id") * 7) % 1000).cast("string"),
                            3, "0"),
                     F.lit("-555-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
    raw = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, email).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, phone).otherwise(F.lit("")))
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE, "<PHONE>")
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(raw, F.lit(PII_PHONE_RE)).alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"))


SPAN_WINDOW = 16  # words per span
SPAN_STRIDE = 8   # words between span starts


def text_span_dedup(spark, sf_dir):
    """C4-style duplicate-span detection: hash every 16-word window (stride
    8) and report windows shared by >= 2 documents — the discovery pass of
    "remove repeated three-sentence spans" style web-corpus cleaning.
    Scale shape: windows are a map-side transform (no explode until the
    per-doc distinct hash set), the single shuffle keys on the span hash,
    and the aggregate is a partial-combined count + min — never a pair
    join, so output is bounded by |distinct shared spans|, not pairs."""
    words = F.filter(F.split("text", " "), lambda w: w != "")
    nw = F.size(words)
    idx = F.sequence(
        F.lit(0),
        F.floor((nw - F.lit(SPAN_WINDOW)) / F.lit(SPAN_STRIDE)).cast("int"))
    spans = F.transform(
        idx, lambda i: F.array_join(
            F.slice(words, i * SPAN_STRIDE + 1, SPAN_WINDOW), " "))
    return (_t(spark, sf_dir, "documents")
            .filter(nw >= SPAN_WINDOW)
            .select("doc_id", F.explode(spans).alias("span"))
            .select("doc_id", F.md5("span").alias("span_hash"))
            .distinct()
            .groupBy("span_hash")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("keeper_id"))
            .filter(F.col("n_docs") >= 2))


def text_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (position-weighted word hashes
    mod 2^31) — the order-sensitive cousin of the content md5."""
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", F.md5(norm).alias("fingerprint")))


# --- cluster-and-keep-one dedup (connected components over LSH pairs) ----------------

CC_MAX_ITERS = 25


def _cc_labels(pairs: DataFrame, max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Connected components over an undirected pair set via the alternating
    large-star / small-star algorithm (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14) — the standard O(log²n)-round
    distributed CC. Each round is two groupBy-min + equi-join passes; edges
    stay oriented child → smaller parent, and the loop stops when the edge
    set reaches its fixed point (a star forest: every node points directly
    at its component minimum). Per-round shuffles are proportional to
    |pairs| — NEVER |docs| or |docs|² — which is what makes cluster
    assignment affordable at corpus scale where the pair set is orders of
    magnitude smaller than the corpus. The driver loop itself only runs a
    tiny checksum action per round (count + hash-sum of the edge set).

    Returns (doc_id, cluster_id) for every node that appears in `pairs`,
    cluster_id = min doc_id of its component.
    """
    e = (pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct())
    prev = None
    for _ in range(max_iters):
        # large-star: every neighbor v > u re-links to m = min(N(u) ∪ {u})
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        large = (nbrs.groupBy("u").agg(F.min("v").alias("mn"))
                 .select("u", F.least("u", "mn").alias("m")))
        e = (nbrs.join(large, "u")
             .filter(F.col("v") > F.col("u"))
             .select(F.col("v").alias("u"), F.col("m").alias("v"))
             .distinct())
        # small-star: all edges now point child → smaller parent; re-link
        # every parent (and the child itself) to the child's min parent
        small = e.groupBy("u").agg(F.min("v").alias("m"))
        # truncate the plan: each round references its input several times,
        # and without it the analyzer ran out of memory by about round 10
        e = (e.join(small, "u")
             .select(F.col("v").alias("u"), F.col("m").alias("v"))
             .union(small.select("u", F.col("m").alias("v")))
             .filter(F.col("u") != F.col("v"))
             .distinct()
             .localCheckpoint(eager=True))
        row = e.agg(F.count("*").alias("n"),
                    F.bit_xor(F.xxhash64("u", "v")).alias("h")).collect()[0]
        cur = (row["n"], row["h"])
        if cur == prev:  # fixed point: star forest reached last round
            return e.select(F.col("u").alias("doc_id"),
                            F.col("v").alias("cluster_id"))
        prev = cur
    raise RuntimeError(
        f"connected components did not converge in {max_iters} "
        "large-star/small-star rounds — input pair set is pathological")


def _minhash_pairs(spark, sf_dir) -> DataFrame:
    """Materialized MinHash-LSH pair set of the CC dedups. Running
    dedup_cluster_cc and dedup_cluster_keep_best in one session caches it
    once: cache() of a plan already cached returns the existing entry."""
    return _materialized(
        dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b"))


def dedup_cluster_cc(spark, sf_dir):
    """Cluster-and-keep-one dedup: the step that turns PAIR detection
    (MinHash-LSH) into an actual dedup decision. Near-duplicate relations
    are not transitive, so a pipeline that drops `doc_b` of every pair
    over-deletes chains; the standard fix (used by the big web-corpus
    pipelines) is connected components over the pair graph, keeping one
    canonical document per component. Output: every document with its
    cluster id (min doc_id of its component; singletons are their own
    cluster) and keep = 1 iff the doc is the canonical representative.

    Scale shape: pairs come from the banded-LSH equi-join (no n² anywhere),
    CC rounds shuffle only the pair set, and the final labeling is one
    left equi-join against the corpus. The label side is deliberately NOT
    hinted broadcast: on real web corpora duplicate-cluster membership is a
    large fraction of the corpus (30-50%), far past broadcast size — AQE
    broadcasts it when it happens to be small, shuffles on doc_id when not.
    """
    labels = _cc_labels(_minhash_pairs(spark, sf_dir))
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (docs.join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
            .withColumn("keep", (F.col("doc_id") == F.col("cluster_id"))
                        .cast("int")))


def dedup_cluster_keep_best(spark, sf_dir):
    """Cluster-and-keep-BEST dedup: the same connected components over the
    MinHash-LSH pair graph as dedup_cluster_cc, but the survivor per
    cluster is the highest-QUALITY document (rounded score, ties → lowest
    doc_id) — the decision rule modern web-corpus pipelines actually apply
    (Dolma / FineWeb keep the best copy; the minimum id is merely whichever
    duplicate happened to be crawled first). cluster_id stays the component
    minimum so the clustering itself is comparable across both operators.

    Scale shape: identical to dedup_cluster_cc (CC shuffles ∝ |pairs|,
    label join strategy left to AQE) plus one row_number window per
    cluster — WindowGroupLimit-eligible, and the quality score is computed
    map-side on the corpus scan (no extra join to attach it)."""
    *_, score = _quality_exprs()
    labels = _cc_labels(_minhash_pairs(spark, sf_dir))
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", score.alias("quality_score")))
    lab = (docs.join(labels, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
                   "quality_score"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc())
    return (lab.withColumn("rn", F.row_number().over(w))
            .select("doc_id", "cluster_id", "quality_score",
                    (F.col("rn") == 1).cast("int").alias("keep")))


# --- per-host document cap ------------------------------------------------------------

HOST_CAP = 10


def corpus_host_cap(spark, sf_dir):
    """Per-host document cap: crawl pipelines bound how many documents any
    single host contributes (SEO farms and mirrors otherwise dominate the
    corpus). Rank documents within each source by quality score (doc_id as
    the deterministic tiebreak) and keep the top HOST_CAP.

    Scale shape: the quality score is computed map-side on the SAME scan
    (no join to attach it), and the rank-≤-cap filter is recognized by
    Spark 3.5+'s WindowGroupLimit rule, which installs a map-side per-host
    top-HOST_CAP BEFORE the exchange — a hot host ships HOST_CAP rows per
    upstream task instead of its full document set, so host skew is bounded
    by design (verified in tests/test_plan_shapes.py)."""
    *_, score = _quality_exprs()
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", "source", score.alias("quality_score")))
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc())
    return (docs
            .withColumn("host_rank", F.row_number().over(w))
            .filter(F.col("host_rank") <= HOST_CAP)
            .select("doc_id", "source", "quality_score", "host_rank"))


# --- benchmark decontamination ---------------------------------------------------------

DECON_EVAL_EVERY = 50  # doc_id % 50 == 0 → the held-out benchmark docs
DECON_NGRAM = 4        # word n-gram length for the overlap check


def _word_ngrams(words, n):
    """Non-distinct word n-grams of an array<string> column as one map-side
    expression (transform over a start-index sequence + slice + concat_ws);
    docs shorter than n words yield an empty array."""
    return F.when(
        F.size(words) >= n,
        F.transform(F.sequence(F.lit(1), F.size(words) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    ).otherwise(F.array().cast("array<string>"))


def corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training documents that share any
    word 4-gram with the held-out eval set (GPT-3 / Pile-style n-gram
    overlap; production pipelines use 13-grams — the length is a constant).
    Eval set = doc_id % 50 == 0, deterministic. Output: one row per
    CONTAMINATED training doc with the count of distinct shared 4-grams.

    Scale shape: the eval set is tiny by construction, so its distinct
    n-grams broadcast and the overlap check is a map-side
    BroadcastHashJoin — the 100 TB training side never shuffles its
    n-grams; only the matched (doc, gram) hits reach the per-doc count
    aggregation, and those are rare by definition."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split("text", " ")
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(
            _word_ngrams(words, DECON_NGRAM))).alias("gram"))
    ev = (grams.filter(F.col("doc_id") % DECON_EVAL_EVERY == 0)
          .select("gram").distinct())
    return (grams.filter(F.col("doc_id") % DECON_EVAL_EVERY != 0)
            .join(F.broadcast(ev), "gram")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shared")))


# --- repetition-based quality signals ---------------------------------------------------


def text_repetition(spark, sf_dir):
    """Gopher-style repetition signals per document: the fraction of word
    2-gram occurrences taken by the single most frequent 2-gram, and the
    fraction of word 3-gram occurrences that are duplicates (their gram
    occurs more than once in the doc). High values flag boilerplate /
    keyword-stuffed pages that length or stopword heuristics miss.

    Scale shape: one explode per n-gram length feeding a two-level
    aggregation keyed on (doc_id, gram) then doc_id — partial aggregation
    below each exchange caps shuffle volume at the distinct-gram count, and
    both levels are plain codegen hash aggregates (no UDF, no window)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split("text", " ")

    def frac(n, agg_expr, name):
        per_gram = (docs.select(
            "doc_id", F.explode(_word_ngrams(words, n)).alias("gram"))
            .groupBy("doc_id", "gram").agg(F.count("*").alias("c")))
        return (per_gram.groupBy("doc_id")
                .agg(F.round(agg_expr / F.sum("c"), 4).alias(name)))

    top2 = frac(2, F.max("c"), "top2gram_frac")
    dup3 = frac(3, F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)),
                "dup3gram_frac")
    return top2.join(dup3, "doc_id")


# --- kernel round-trip (the oracle-checkable parse query) ----------------------------

PAGE_TEMPLATE_PREFIX = ('<!DOCTYPE html><html><head><title>doc-{id}</title>'
                        '</head><body><div class="content">')
PAGE_TEMPLATE_SUFFIX = "</div></body></html>"


def parse_roundtrip(spark, sf_dir):
    """Wrap documents.text into a synthetic page, run the full tokenizer +
    tree builder + extractor, and return the extracted title/main_text.
    DuckDB oracle: identity on (doc_id, text) — so the driver's value-hash
    gate checks the kernel end-to-end."""
    from .pipeline.job import parse_pages

    docs = (_t(spark, sf_dir, "documents")
            .filter(F.col("text").rlike("^[a-z0-9 ]*$"))
            .select(
                F.col("doc_id"),
                F.concat(F.lit('<!DOCTYPE html><html><head><title>doc-'),
                         F.col("doc_id").cast("string"),
                         F.lit('</title></head><body><div class="content">'),
                         F.col("text"),
                         F.lit("</div></body></html>")).alias("page")))
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode("page", "utf-8").alias("html"),
        F.lit("").alias("lang"))
    parsed = parse_pages(pages, columns=["url", "status", "title",
                                         "main_text"])
    return parsed.select(
        F.col("url").cast("bigint").alias("doc_id"),
        F.col("status"), F.col("title"),
        F.col("main_text"))


# --- URL canonicalization dedup --------------------------------------------------------

URL_TRACKING_RE = r"(utm_[a-z]+|fbclid)=[^&#]*&?"


def _canonical_url(u):
    """Canonicalize a URL with pure codegen regexp expressions: drop the
    fragment, lowercase scheme+host, strip default ports (http:80 /
    https:443), drop tracking params (utm_*, fbclid) keeping real ones,
    and strip dangling '?'/'&' and trailing slashes. No Python, no UDF —
    the whole normalization is one map-side expression chain."""
    c = F.regexp_replace(u, "#.*$", "")
    head = F.regexp_extract(c, "^[^/]*//[^/?#]*", 0)
    c = F.concat(F.lower(head),
                 F.substring(c, F.length(head) + F.lit(1), F.length(c)))
    c = F.regexp_replace(c, "^(http://[^/:]+):80(/|$)", "$1$2")
    c = F.regexp_replace(c, "^(https://[^/:]+):443(/|$)", "$1$2")
    c = F.regexp_replace(c, URL_TRACKING_RE, "")
    c = F.regexp_replace(c, "[?&]+$", "")
    c = F.regexp_replace(c, r"/(\?)", "$1")
    return F.regexp_replace(c, "/+$", "")


def corpus_url_dedup(spark, sf_dir):
    """URL-canonicalization dedup — the first dedup pass every web-corpus
    pipeline runs (before any content hashing): the same page is crawled
    under scheme/host case variants, default ports, tracking query params,
    fragments, and trailing slashes. The documents table has no url column,
    so a deterministic messy URL is synthesized per doc_id (each variant
    class exercised by a doc_id residue; doc_id % 50 within a source maps
    to the same canonical page) — the DuckDB oracle recomputes the same
    synthesis, so the value hash verifies every canonical string
    byte-exactly.

    Scale shape: synthesis + canonicalization are map-side codegen
    regexps; the ONLY shuffle keys on canonical_url with partial
    count/min below the exchange — output is |distinct canonical urls|,
    never pairs."""
    d = _t(spark, sf_dir, "documents")
    scheme = F.when(F.col("doc_id") % 4 == 0, "HTTP").otherwise("http")
    host0 = F.concat(F.col("source"), F.lit(".example.com"))
    host = F.when(F.col("doc_id") % 3 == 0, F.upper(host0)).otherwise(host0)
    url = F.concat(
        scheme, F.lit("://"), host,
        F.when(F.col("doc_id") % 5 == 0, ":80").otherwise(""),
        F.lit("/p/"), (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, "/").otherwise(""),
        F.when(F.col("doc_id") % 6 == 0, "?utm_source=feed&utm_campaign=x")
         .when(F.col("doc_id") % 9 == 0, "?id=7&utm_medium=social")
         .otherwise(""),
        F.when(F.col("doc_id") % 7 == 0, "#section-2").otherwise(""))
    return (d.select("doc_id", _canonical_url(url).alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.count("*").alias("n_variants"),
                 F.min("doc_id").alias("keeper_id")))


# --- exact-substring scrub (duplicate-span REMOVAL) ------------------------------------


def text_span_scrub(spark, sf_dir):
    """Exact-substring dedup REMOVAL (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL'22 — shape, not the suffix
    array): where text_span_dedup only *detects* 16-word windows shared by
    >= 2 docs, this op cuts them out. The doc with the smallest doc_id per
    span keeps its occurrence; every other doc drops the word positions its
    duplicated windows cover, and the cleaned text is rebuilt from the
    surviving positions.

    Scale shape: windows never explode corpus-wide word positions — the
    duplicated-span table aggregates on span_hash (partial count/min below
    the exchange), only MATCHED (doc, window) hits explode to positions,
    and the per-doc removal set joins back to the corpus on doc_id for a
    HOF rebuild (filter-by-index, codegen array ops). Shuffle volume is
    |windows| + |removed positions| + |docs| — never |words|."""
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id",
                 F.filter(F.split("text", " "),
                          lambda w: w != "").alias("ws")))
    nw = F.size("ws")
    idx = F.sequence(
        F.lit(0),
        F.floor((nw - F.lit(SPAN_WINDOW)) / F.lit(SPAN_STRIDE)).cast("int"))
    wins = (d.filter(nw >= SPAN_WINDOW)
            .select("doc_id", "ws", F.explode(idx).alias("i"))
            .select("doc_id", "i",
                    F.md5(F.array_join(
                        F.slice("ws", F.col("i") * SPAN_STRIDE + 1,
                                F.lit(SPAN_WINDOW)), " ")).alias("span_hash")))
    dup = (wins.select("doc_id", "span_hash").distinct()
           .groupBy("span_hash")
           .agg(F.count("*").alias("n_docs"),
                F.min("doc_id").alias("keeper_id"))
           .filter(F.col("n_docs") >= 2))
    rm = (wins.join(dup, "span_hash")
          .filter(F.col("doc_id") != F.col("keeper_id"))
          .select("doc_id",
                  F.explode(F.sequence(
                      F.col("i") * SPAN_STRIDE,
                      F.col("i") * SPAN_STRIDE + SPAN_WINDOW - 1))
                  .alias("pos"))
          .groupBy("doc_id")
          .agg(F.collect_set("pos").alias("rm")))
    rm_arr = F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    kept = F.filter(F.col("ws"),
                    lambda w, i: ~F.array_contains(rm_arr, i))
    return (d.join(rm, "doc_id", "left")
            .select("doc_id",
                    nw.cast("int").alias("n_words"),
                    (nw - F.size(kept)).cast("int").alias("n_removed"),
                    F.md5(F.array_join(kept, " ")).alias("clean_md5")))


# --- DSIR-style hashed n-gram importance weights ---------------------------------------

DSIR_BUCKETS = 256


def text_dsir_weights(spark, sf_dir):
    """DSIR-shaped importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS'23): hash each
    document's word uni+bigrams into a fixed bucket table, fit smoothed
    bucket distributions for a target slice (lang='en' stands in for the
    curated target corpus) and for the raw pool, and score every document
    by its mean per-gram log-likelihood ratio — the weight importance
    resampling then samples by.

    Scale shape: gram hashing is map-side codegen (portable md5 bucket);
    the distribution fit aggregates to DSIR_BUCKETS cells with map-side
    partial counts (one scan serves both target and raw via a conditional
    sum); scoring joins the per-(doc,bucket) counts to the broadcast
    256-row log-ratio table and reduces per doc. No UDF anywhere; shuffle
    volume is |distinct (doc,bucket)| ≤ 256·|docs|."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    grams = F.concat(words, _word_ngrams(words, 2))
    g = (d.select("doc_id", "lang", F.explode(grams).alias("gram"))
         .select("doc_id", "lang",
                 (_portable_hash32(F.col("gram"), F.lit("dsir"))
                  % DSIR_BUCKETS).alias("b")))
    bucket = g.groupBy("b").agg(
        F.count("*").alias("c_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_tgt"))
    tot = bucket.agg(F.sum("c_raw").alias("t_raw"),
                     F.sum("c_tgt").alias("t_tgt"))
    lr = (bucket.crossJoin(F.broadcast(tot))
          .select("b", F.log(
              ((F.col("c_tgt") + 1).cast("double")
               / (F.col("t_tgt") + DSIR_BUCKETS))
              / ((F.col("c_raw") + 1).cast("double")
                 / (F.col("t_raw") + DSIR_BUCKETS))).alias("lr")))
    pd_ = g.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    return (pd_.join(F.broadcast(lr), "b")
            .groupBy("doc_id")
            .agg(F.sum("c").alias("n_grams"),
                 F.round(F.sum(F.col("c") * F.col("lr")) / F.sum("c"), 6)
                 .alias("dsir_weight")))


# --- temperature-scaled source mixing --------------------------------------------------

MIX_TEMP = 2.0
MIX_BUDGET_FRAC = 0.5


def corpus_mix_temperature(spark, sf_dir):
    """Temperature-scaled source mixing: sample each source proportionally
    to n_src^(1/T) (T=2 flattens the source distribution — the standard
    multilingual/multi-domain rebalancing rule), under a total budget of
    MIX_BUDGET_FRAC·N documents. Per-source keep rates become integer
    millionth thresholds compared against the portable doc hash, so
    membership is a pure deterministic function of doc_id — re-runs,
    resumes, and the DuckDB oracle agree row-for-row.

    Scale shape: the source histogram is a tiny aggregate (|sources|
    rows), the rate table broadcasts, and the keep decision is a map-side
    hash compare — no shuffle of the corpus at any scale."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    tot = counts.agg(
        F.sum("n_src").alias("n_tot"),
        F.sum(F.pow(F.col("n_src").cast("double"),
                    F.lit(1.0 / MIX_TEMP))).alias("z"))
    rates = (counts.crossJoin(F.broadcast(tot))
             .select("source", "n_src",
                     F.floor(F.least(
                         F.lit(1.0),
                         F.lit(MIX_BUDGET_FRAC) * F.col("n_tot")
                         * F.pow(F.col("n_src").cast("double"),
                                 F.lit(1.0 / MIX_TEMP))
                         / (F.col("z") * F.col("n_src")))
                         * 1e6 + F.lit(1e-9)).cast("long")
                     .alias("keep_thr")))
    h = _portable_hash32(F.col("doc_id").cast("string"), F.lit("mix"))
    return (docs.join(F.broadcast(rates), "source")
            .filter(h % 1000000 < F.col("keep_thr"))
            .select("doc_id", "source", "keep_thr"))


# --- CCNet-style LM perplexity ---------------------------------------------------------

LM_BUCKETS = 4096


def text_lm_perplexity(spark, sf_dir):
    """CCNet-shaped LM quality signal (Wenzek et al., "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data", LREC'20): fit
    an add-1-smoothed hashed-unigram LM on the target slice (lang='en'
    stands in for the curated KenLM corpus) and score every document by
    its mean per-token bits H and perplexity 2^H — CCNet buckets the crawl
    into head/middle/tail on exactly this number. ppl derives from the
    ROUNDED H so Spark and the DuckDB oracle agree bit-for-bit.

    Scale shape: token→bucket hashing is map-side codegen (portable md5 %
    LM_BUCKETS); the LM fit collapses to ≤4096 cells with partial counts
    below its exchange; scoring left-joins the BROADCAST bucket table and
    reduces per doc. No UDF; shuffle is |distinct (doc,bucket)|."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    g = (d.select("doc_id", "lang", F.explode(words).alias("tok"))
         .select("doc_id", "lang",
                 (_portable_hash32(F.col("tok"), F.lit("lm"))
                  % LM_BUCKETS).alias("b")))
    lm = (g.filter(F.col("lang") == "en")
          .groupBy("b").agg(F.count("*").alias("c")))
    tot = lm.agg(F.sum("c").alias("t"))
    pd_ = g.groupBy("doc_id", "b").agg(F.count("*").alias("k"))
    scored = (pd_.join(F.broadcast(lm), "b", "left")
              .crossJoin(F.broadcast(tot))
              .withColumn("nll", -F.log2(
                  (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                  / (F.col("t") + LM_BUCKETS))))
    return (scored.groupBy("doc_id")
            .agg(F.sum("k").alias("n_tokens"),
                 F.round(F.sum(F.col("k") * F.col("nll")) / F.sum("k"), 6)
                 .alias("h_bits"))
            .withColumn("ppl", F.round(F.pow(F.lit(2.0), F.col("h_bits")),
                                       4)))


# --- composed end-to-end curation pass -------------------------------------------------


def corpus_curation_pipeline(spark, sf_dir):
    """The flagship COMPOSED cleaning pass — the order every web-corpus
    pipeline runs its stages in: URL-canonicalization keeper → exact-dedup
    keeper + language + quality + length gates (corpus_quality_filter) →
    eval-set decontamination (anti-join) → per-host quality-ranked cap.
    One query answering "which documents survive curation, and at what
    rank on their host" — each stage reuses the already-oracled operator.

    Scale shape: inherits each stage's plan (url/exact keepers are
    content-keyed aggregates, decontamination broadcasts the tiny eval
    gram set, the final cap is a WindowGroupLimit map-side top-k); the
    stages compose as equi-joins on doc_id, so AQE picks join strategies
    per actual survivor cardinality at runtime."""
    base = corpus_quality_filter(spark, sf_dir)
    url_keep = (corpus_url_dedup(spark, sf_dir)
                .select(F.col("keeper_id").alias("doc_id")))
    contaminated = corpus_decontaminate(spark, sf_dir).select("doc_id")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    kept = (base.join(url_keep, "doc_id")
            .join(contaminated, "doc_id", "left_anti")
            .join(docs, "doc_id"))
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc())
    return (kept.withColumn("host_rank", F.row_number().over(w))
            .filter(F.col("host_rank") <= HOST_CAP)
            .select("doc_id", "source", "n_words", "quality_score",
                    "lang_pred", "host_rank"))


# --- UT1-style URL filtering -----------------------------------------------------------

URL_BLOCK_HOSTS = ["src3.example.com", "src7.example.com", "src11.example.com"]
URL_MAX_LEN = 120
URL_MAX_PARAMS = 3
URL_MAX_DIGIT_FRAC = 0.2


def corpus_url_filter(spark, sf_dir):
    """URL-rule filtering — the RefinedWeb/UT1 pre-crawl-fetch gate: reject
    a document by its URL alone via (a) a host blocklist (UT1's adult/spam
    domain lists are the production instance), (b) spam path keywords
    (/tag/, /search), (c) excessive query parameters, (d) digit-heavy
    URLs, (e) over-long URLs. Each doc's messy URL is synthesized
    deterministically from doc_id residues (the documents table has no url
    column); every rule class is exercised. Output: one row per doc with
    the fired rule list (sorted, comma-joined) and the keep flag.

    Scale shape: the real UT1 blocklist is ~4M hosts — small next to the
    corpus, so it BROADCASTS and the membership test is a map-side hash
    join on the extracted host; every other rule is codegen string
    arithmetic on the URL itself. No shuffle of the corpus at any scale;
    output is map-side narrow all the way."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://"), F.col("source"), F.lit(".example.com/"),
        F.when(F.col("doc_id") % 11 == 0, "tag/").otherwise("p/"),
        (F.col("doc_id") % 100).cast("string"),
        F.when(F.col("doc_id") % 17 == 0, "/91234567890123456789")
         .otherwise(""),
        F.when(F.col("doc_id") % 13 == 0, "?a=1&b=2&c=3&d=4").otherwise(""),
        F.when(F.col("doc_id") % 23 == 0,
               F.concat(F.lit("?ref="), F.repeat(F.lit("x"), 110)))
         .otherwise(""))
    host = F.regexp_extract(url, "^[a-z]+://([^/:?#]+)", 1)
    block = local_frame(spark, [(h,) for h in URL_BLOCK_HOSTS], "host string")
    u = (d.select("doc_id", url.alias("url"), host.alias("host"))
         .join(F.broadcast(block.withColumn("blocked", F.lit(1))),
               "host", "left"))
    n_params = F.length("url") - F.length(F.regexp_replace("url", "=", ""))
    n_digits = (F.length("url")
                - F.length(F.regexp_replace("url", "[0-9]", "")))
    rules = F.array_compact(F.array(
        F.when(F.col("blocked").isNotNull(), "blocklist"),
        F.when(F.col("url").rlike("/(tag|search)/"), "path_keyword"),
        F.when(n_params > URL_MAX_PARAMS, "too_many_params"),
        F.when(n_digits.cast("double") / F.length("url")
               > URL_MAX_DIGIT_FRAC, "digit_heavy"),
        F.when(F.length("url") > URL_MAX_LEN, "too_long")))
    return u.select(
        "doc_id", "url",
        F.array_join(F.array_sort(rules), ",").alias("reject_reasons"),
        (F.size(rules) == 0).cast("int").alias("keep"))


# --- Bloom-filter membership dedup -----------------------------------------------------

BLOOM_M = 8192  # bits
BLOOM_K = 3     # hash functions


def _bloom_position(hash_col, j: int):
    """Bit position of hash function j for a hash column: THE Bloom
    geometry, read only by bloom_bits and bloom_probe (a fold that drifted
    from its probe would read as false negatives)."""
    return _portable_hash32(hash_col, F.lit(f"bloom{j}")) % BLOOM_M


def bloom_bits(hash_col: str):
    """The Bloom fold, shared by dedup_bloom and the stream drain: the set
    bit positions of a frame's ``hash_col`` as ONE aggregate, an array of
    at most BLOOM_M distinct ints (each collect_set combines map-side)."""
    return F.array_distinct(F.concat(*[
        F.collect_set(_bloom_position(F.col(hash_col), j))
        for j in range(BLOOM_K)]))


def bloom_probe(df: DataFrame, hash_col: str, bits: DataFrame) -> DataFrame:
    """The Bloom probe, shared by dedup_bloom and the stream drain: ``df``
    plus maybe_dup, 1 iff all k bit positions of its ``hash_col`` are among
    the ``pos`` rows of ``bits`` (≤ m rows; 1 for every duplicate of a
    folded hash). One broadcast left join per hash function and no
    aggregate: it never shuffles ``df`` and is legal in append mode."""
    hit = F.lit(True)
    for j in range(BLOOM_K):
        df = (df.withColumn(f"_pos{j}", _bloom_position(F.col(hash_col), j))
              .join(F.broadcast(bits.select(F.col("pos").alias(f"_pos{j}"),
                                            F.lit(1).alias(f"_set{j}"))),
                    f"_pos{j}", "left"))
        hit = hit & F.col(f"_set{j}").isNotNull()
    return (df.withColumn("maybe_dup", hit.cast("int"))
            .drop(*[f"_{c}{j}" for c in ("pos", "set")
                    for j in range(BLOOM_K)]))


def dedup_bloom(spark, sf_dir):
    """Bloom-filter dedup of a new ingest batch against history — the
    constant-memory scale path when the historical corpus is too big to
    join per ingest: history's content hashes are folded into an m-bit
    Bloom filter ONCE (bloom_bits: its ≤m set bit positions); each new doc
    tests its k=3 bit positions against the broadcast filter (bloom_probe).
    maybe_dup = all k bits set (Bloom positive, possibly false);
    is_dup = exact content match (ground truth) — together they expose the
    filter's observed false-positive rate, the number a deployment tunes
    m/k by. Split convention matches dedup_incremental (doc_id % 5 == 0 is
    the new batch).

    Scale shape: the filter is O(m) bits REGARDLESS of history size, so its
    broadcast stays bounded. History folds in one global aggregate; the
    probe is k broadcast hash joins that never shuffle the new batch; the
    ground-truth join broadcasts history's distinct hashes, the one hash
    exchange. The false-positive rate is NOT bounded: the geometry is
    fixed (m = BLOOM_M = 8192 bits, k = BLOOM_K = 3), which suits this
    corpus's small history but saturates as history grows — ~3% of
    distinct new docs read positive at 10³ history docs, 426 of 1,000 new
    docs (1 true duplicate) at sf0.1's 4·10³, ~93% at 10⁴ (ROADMAP item 2
    sizes a windowed filter to a target rate)."""
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", F.md5("text").alias("h")))
    is_new = F.col("doc_id") % INC_NEW_MOD == 0
    hist = docs.filter(~is_new)
    bits = hist.agg(bloom_bits("h").alias("b")).select(
        F.explode("b").alias("pos"))
    hist_h = hist.select("h").distinct().withColumn("is_dup", F.lit(1))
    return (bloom_probe(docs.filter(is_new), "h", bits)
            .join(F.broadcast(hist_h), "h", "left")
            .select("doc_id", "maybe_dup",
                    F.coalesce(F.col("is_dup"), F.lit(0)).alias("is_dup")))


# --- hashing-trick quality-classifier inference ----------------------------------------

QC_BUCKETS = 1024


def text_quality_classifier(spark, sf_dir):
    """fastText-shaped quality-classifier INFERENCE (the CCNet/LLaMA
    "wikiref" filter stage): a linear model over hashed bag-of-words —
    token → bucket via the portable 32-bit hash, bucket → fixed weight
    (a deterministic stand-in for trained parameters, derived from the
    bucket id's own hash so the DuckDB oracle regenerates it exactly),
    document score = sigmoid(4 · mean token weight). Where
    text_dsir_weights FITS its statistics from the corpus, this op applies
    a FROZEN model — the production split between training the classifier
    (offline, once) and scoring the crawl (every ingest).

    Scale shape: the weight table is QC_BUCKETS rows generated by
    spark.range — broadcast; token hashing is map-side codegen; the only
    shuffle is |distinct (doc,bucket)| with partial counts below the
    exchange. No UDF anywhere."""
    weights = (spark.range(QC_BUCKETS).select(
        F.col("id").alias("b"),
        ((_portable_hash32(F.col("id").cast("string"), F.lit("qcw"))
          % 2001 - 1000).cast("double") / 1000.0).alias("w")))
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    tb = (d.select("doc_id", F.explode(words).alias("tok"))
          .select("doc_id",
                  (_portable_hash32(F.col("tok"), F.lit("qc"))
                   % QC_BUCKETS).alias("b"))
          .groupBy("doc_id", "b").agg(F.count("*").alias("k")))
    score = (tb.join(F.broadcast(weights), "b")
             .groupBy("doc_id")
             .agg(F.sum("k").alias("n_tokens"),
                  (F.sum(F.col("k") * F.col("w")) / F.sum("k")).alias("s")))
    p = 1.0 / (1.0 + F.exp(-4.0 * F.col("s")))
    return score.select(
        "doc_id", "n_tokens",
        F.round(p, 6).alias("quality_p"),
        (F.round(p, 6) >= 0.5).cast("int").alias("label_keep"))


# --- C4-style global line dedup --------------------------------------------------------

LINE_WORDS = 10        # deterministic "line" stand-in: 10-word chunks
LINE_DUP_MIN = 3       # C4: any line occurring >= 3 times is boilerplate


def text_line_dedup(spark, sf_dir):
    """C4-style global LINE dedup (Raffel et al., JMLR'20 §2.2: "we
    discarded any line that occurred more than [twice] in the data set") —
    the boilerplate-killer that removes nav bars, cookie banners and
    footers appearing verbatim across thousands of pages. The synthetic
    corpus has no newlines, so a "line" is a deterministic stand-in:
    consecutive non-overlapping LINE_WORDS-word chunks (the last chunk
    keeps the remainder). Every occurrence of any line with global
    occurrence count >= LINE_DUP_MIN is removed and the text rebuilt from
    the surviving words.

    Scale shape: the frequency aggregate keys on the line HASH with
    map-side partial counts — hot boilerplate lines (the entire point:
    a cookie banner occurs 10^8 times) collapse to one row per partition
    before the exchange, so skew self-heals. The duplicate-line table is
    tiny relative to |distinct lines| and AQE broadcasts it back onto the
    per-doc line table; the rebuild is a codegen HOF filter. Shuffle
    volume is |lines| + |dup hits| — never |words|."""
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id",
                 F.filter(F.split("text", " "),
                          lambda w: w != "").alias("ws")))
    nw = F.size("ws")
    idx = F.sequence(F.lit(0), F.ceil(nw / F.lit(LINE_WORDS)).cast("int") - 1)
    lines = (d.filter(nw > 0)
             .select("doc_id", F.explode(idx).alias("i"),
                     F.md5(F.array_join(
                         F.slice("ws", F.col("i") * LINE_WORDS + 1,
                                 F.lit(LINE_WORDS)), " ")).alias("lh")))
    dup = (lines.groupBy("lh").agg(F.count("*").alias("n_occ"))
           .filter(F.col("n_occ") >= LINE_DUP_MIN))
    rm = (lines.join(dup, "lh")
          .groupBy("doc_id").agg(F.collect_set("i").alias("rm")))
    rm_arr = F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    kept = F.filter(F.col("ws"),
                    lambda w, i: ~F.array_contains(
                        rm_arr, F.floor(i / LINE_WORDS).cast("int")))
    return (d.join(rm, "doc_id", "left")
            .select("doc_id",
                    F.ceil(nw / F.lit(LINE_WORDS)).cast("int")
                    .alias("n_lines"),
                    F.size(rm_arr).alias("n_removed_lines"),
                    F.md5(F.array_join(kept, " ")).alias("clean_md5")))


# --- CCNet head/middle/tail perplexity bucketing ---------------------------------------


def corpus_ppl_buckets(spark, sf_dir):
    """CCNet's head/middle/tail split: per language, rank documents by LM
    perplexity and cut into terciles — head (lowest ppl) is the
    publication-quality slice, tail the likely-garbage slice that CCNet
    drops or downweights. Buckets come from ntile(3) over (ppl, doc_id)
    within lang, so the assignment is exact and deterministic.

    Scale shape: reuses text_lm_perplexity's plan (broadcast LM, per-doc
    reduce); the tercile window shuffles ONE (doc_id, ppl) row per doc —
    never text — keyed on lang. The exact per-lang sort is the price of
    exact terciles; the 10^12-doc variant computes approximate cutoffs on
    a sample, broadcasts the two numbers per lang, and assigns map-side —
    the bucket SEMANTICS pinned here are what that approximation must
    converge to."""
    ppl = text_lm_perplexity(spark, sf_dir).select("doc_id", "ppl")
    langs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.col("ppl").asc(), F.col("doc_id").asc())
    return (ppl.join(langs, "doc_id")
            .withColumn("t", F.ntile(3).over(w))
            .select("doc_id", "lang", "ppl",
                    F.element_at(F.array(F.lit("head"), F.lit("middle"),
                                         F.lit("tail")),
                                 F.col("t")).alias("bucket")))


# --- host-graph PageRank ---------------------------------------------------------------

PR_ITERS = 4
PR_SCALE = 10 ** 12  # fixed-point rank unit (integer arithmetic end-to-end)


def host_pagerank(spark, sf_dir):
    """Link-graph host quality — PageRank power iteration over the host
    graph, the signal Common Crawl itself publishes (harmonic-centrality
    host ranks) and curation pipelines join against as a keep/weight
    prior. The documents table has no link column, so a deterministic
    host graph is synthesized over the distinct sources (edge a→b exists
    iff the portable hash of 'a>b' ≡ 0 mod 4). All arithmetic is FIXED
    POINT (ranks in units of 1e-12, integer div/floor) so long sums are
    order-independent and Spark and DuckDB agree bit-exactly — a float
    PageRank would hash-diverge on summation order. Dangling mass is
    dropped (the standard simplified iteration); damping 0.85 as 85/100
    integer ops; PR_ITERS=4 fixed rounds.

    Scale shape: each round is |edges| shuffle (join ranks on src, sum
    per dst) — at web scale edges are pre-partitioned by src ONCE and
    every round's join reuses that partitioning, while the rank vector
    (|hosts| rows, small next to |edges|) broadcasts. Per-round plan
    truncation (localCheckpoint) keeps the iterative lineage from
    swamping the analyzer — the lesson _cc_labels pins."""
    hosts = (_t(spark, sf_dir, "documents")
             .select("source").distinct()
             .withColumnRenamed("source", "host"))
    # NOTE: this hosts×hosts crossJoin is SYNTHETIC-GRAPH SCAFFOLDING only
    # (documents has no link column; testdata has ~20 distinct sources) —
    # it is NOT a corpus-scale pattern and must never run over real hosts.
    # The production path is link_pagerank, whose edges come from the parse
    # kernel's outlinks (pipeline/job.py explode_pages) with |edges| shuffle.
    edges = (hosts.select(F.col("host").alias("src"))
             .crossJoin(hosts.select(F.col("host").alias("dst")))
             .filter(F.col("src") != F.col("dst"))
             .filter(_portable_hash32(
                 F.concat_ws(">", "src", "dst"), F.lit("link")) % 4 == 0))
    return pagerank_fixed_point(hosts, edges)


def pagerank_fixed_point(hosts: DataFrame, edges: DataFrame) -> DataFrame:
    """The PR_ITERS-round integer power iteration shared by host_pagerank
    (synthetic graph) and the kernel-derived link graph (link_pagerank in
    __spark_entry__). hosts: (host), edges: (src, dst) — both deduplicated.
    Returns (host, rank_fp) in PR_SCALE units."""
    nh = hosts.agg(F.count("*").alias("n"))
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    base = F.expr(f"({PR_SCALE} * 15 div 100) div n")
    r = (hosts.crossJoin(F.broadcast(nh))
         .select("host", F.expr(f"{PR_SCALE} div n").alias("r")))
    for _ in range(PR_ITERS):
        contrib = (edges
                   .join(r.withColumnRenamed("host", "src"), "src")
                   .join(outdeg, "src")
                   .select(F.col("dst").alias("host"),
                           F.expr("r div deg").alias("c")))
        agg = contrib.groupBy("host").agg(F.sum("c").alias("s"))
        r = (hosts.join(agg, "host", "left")
             .crossJoin(F.broadcast(nh))
             .select("host",
                     (base + F.expr("85 * coalesce(s, 0) div 100"))
                     .alias("r"))
             .localCheckpoint(eager=True))
    return r.select("host", F.col("r").alias("rank_fp"))


def corpus_datasheet(spark, sf_dir):
    """Corpus datasheet in ONE scan: the per-(lang, source), per-lang,
    per-source, and global document/char statistics a dataset card reports
    — GROUPING SETS (cube) so Spark computes all four granularities from a
    single pass with partial aggregation below one exchange, instead of
    four scans + a union. gid disambiguates rollup NULLs from real NULL
    group values (grouping_id bit order: lang is the high bit, matching
    GROUPING(lang)*2 + GROUPING(source) in the DuckDB oracle). Scale
    shape: output is |langs|·|sources| + |langs| + |sources| + 1 rows —
    tiny at any corpus size; the expanded grouping-set rows partial-sum
    map-side."""
    d = _t(spark, sf_dir, "documents")
    return (d.cube("lang", "source")
            .agg(F.grouping_id().cast("long").alias("gid"),
                 F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars"),
                 F.min("n_chars").cast("long").alias("min_chars"),
                 F.max("n_chars").cast("long").alias("max_chars"),
                 F.sum((F.col("n_chars") < 200).cast("long"))
                 .alias("n_short")))


# --- Gopher quality rules ---------------------------------------------------------------

GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100000
GOPHER_MIN_AWL, GOPHER_MAX_AWL = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_REQ_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_STOP_HITS = 2
GOPHER_MAX_BULLET_FRAC = 0.90   # lines starting with a bullet marker
GOPHER_MAX_ELLIPSIS_FRAC = 0.30  # lines ending with ... or …
_BULLET_RE = r"^(•|- |\* )"
_ELLIPSIS_RE = r"(\.\.\.|…)$"


def text_gopher_rules(spark, sf_dir):
    """Gopher-style document quality rules (Rae et al. 2021, table A1 —
    the rule family MassiveText/FineWeb filter on): word count in
    [50, 100k], mean word length in [3, 10], symbol-to-word ratio
    ('#' and '...' occurrences) <= 0.1, >= 80% of words contain an
    alphabetic character, >= 2 hits from the required-stopword list
    (the/be/to/of/and/that/have/with), <= 90% of lines starting with a
    bullet marker, and <= 30% of lines ending with an ellipsis. One row
    per document with each
    measured statistic, the sorted fired-rule list, and the keep flag —
    the per-rule stats are what a pipeline owner tunes thresholds on.

    Scale shape: every rule is codegen string/array arithmetic on the
    document's own text — a pure map-side pass, no join, no shuffle, and
    the filter composes into any scan pipeline (predicate on `keep`)."""
    words = F.filter(F.split("text", " "), lambda w: w != "")
    n_words = F.size(words)
    awl = (F.aggregate(words, F.lit(0),
                       lambda acc, w: acc + F.length(w)).cast("double")
           / F.greatest(n_words, F.lit(1)))
    n_hash = F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    n_ellipsis = ((F.length("text")
                   - F.length(F.regexp_replace("text", r"\.\.\.", "")))
                  / F.lit(3)).cast("long")
    symbol_ratio = ((n_hash + n_ellipsis).cast("double")
                    / F.greatest(n_words, F.lit(1)))
    alpha_frac = (F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
                  .cast("double") / F.greatest(n_words, F.lit(1)))
    req = F.array(*[F.lit(w) for w in GOPHER_REQ_STOPWORDS])
    stop_hits = F.size(F.filter(words, lambda w: F.array_contains(req, w)))
    lines = F.filter(F.split("text", "\n"), lambda l: l != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (F.size(F.filter(lines, lambda l: l.rlike(_BULLET_RE)))
                   .cast("double") / n_lines)
    ellipsis_frac = (F.size(F.filter(lines, lambda l: l.rlike(_ELLIPSIS_RE)))
                     .cast("double") / n_lines)
    rules = F.array_compact(F.array(
        F.when((n_words < GOPHER_MIN_WORDS)
               | (n_words > GOPHER_MAX_WORDS), "word_count"),
        F.when((awl < GOPHER_MIN_AWL) | (awl > GOPHER_MAX_AWL),
               "mean_word_len"),
        F.when(symbol_ratio > GOPHER_MAX_SYMBOL_RATIO, "symbol_ratio"),
        F.when(alpha_frac < GOPHER_MIN_ALPHA_FRAC, "alpha_frac"),
        F.when(stop_hits < GOPHER_MIN_STOP_HITS, "stopwords"),
        F.when(bullet_frac > GOPHER_MAX_BULLET_FRAC, "bullet_lines"),
        F.when(ellipsis_frac > GOPHER_MAX_ELLIPSIS_FRAC, "ellipsis_lines")))
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", n_words.alias("n_words"),
                    F.round(awl, 4).alias("mean_word_len"),
                    F.round(symbol_ratio, 4).alias("symbol_ratio"),
                    F.round(alpha_frac, 4).alias("alpha_frac"),
                    F.round(bullet_frac, 4).alias("bullet_line_frac"),
                    F.round(ellipsis_frac, 4).alias("ellipsis_line_frac"),
                    stop_hits.alias("req_stop_hits"),
                    F.array_join(F.array_sort(rules), ",")
                    .alias("reject_reasons"),
                    (F.size(rules) == 0).cast("int").alias("keep")))


# --- robots.txt-rule URL filtering ------------------------------------------------------

def _robots_rules() -> list:
    """Deterministic robots.txt rule set over the documents hosts
    (src{i}.example.com): hosts i%3==0 disallow /tag/, hosts i%3==2
    disallow the /p/9* prefix, hosts i%6==5 re-allow the longer /p/91
    prefix, and every host disallows /search. The moduli are chosen so
    the longest-match override actually fires on the data: doc_id%100==91
    always lands on src11 (11%3==2 AND 11%6==5 — both rules match, the
    longer Allow wins), while 94/97-suffixed docs land on src14/src17
    (/p/9 Disallow only). Returns (host, prefix, allow) rows."""
    rules = []
    for i in range(20):
        host = f"src{i}.example.com"
        rules.append((host, "/search", 0))
        if i % 3 == 0:
            rules.append((host, "/tag/", 0))
        if i % 3 == 2:
            rules.append((host, "/p/9", 0))
        if i % 6 == 5:
            rules.append((host, "/p/91", 1))
    return rules


def corpus_robots_filter(spark, sf_dir):
    """robots.txt Disallow/Allow URL filtering with REP longest-match
    semantics (RFC 9309 §2.2.2: the most specific — longest — matching
    prefix wins; on a length tie, allow wins): the post-crawl compliance
    pass a web corpus runs before training use. Each document's URL path
    is synthesized deterministically from doc_id (same scheme as
    corpus_url_filter); the rule set is _robots_rules(). A longer Allow
    overrides a shorter Disallow (/p/91 vs /p/9), exercised by doc_id %
    100 in 90..99 vs 91.

    Scale shape: rules collapse to ONE row per host (collect_list into an
    array) and BROADCAST — real robots corpora are |hosts|·few rows, tiny
    next to the corpus — then matching + longest-match resolution run as
    codegen higher-order functions on the broadcast array: a pure
    map-side pass, no corpus shuffle, no row multiplication from the
    join. Priority encoding: len(prefix)*2 + allow — lengths differ by
    >= 2 in the encoding so only same-length rules tie, and the +allow
    bit resolves the tie per the RFC."""
    path = F.concat(
        F.when(F.col("doc_id") % 11 == 0, "/tag/").otherwise("/p/"),
        (F.col("doc_id") % 100).cast("string"))
    host = F.concat(F.col("source"), F.lit(".example.com"))
    rules = local_frame(spark, _robots_rules(),
                        "host string, prefix string, allow int")
    per_host = (rules.groupBy("host")
                .agg(F.collect_list(F.struct("prefix", "allow"))
                     .alias("rules")))
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id", host.alias("host"), path.alias("path"))
         .join(F.broadcast(per_host), "host", "left"))
    matched = F.filter(
        F.coalesce(F.col("rules"),
                   F.array().cast("array<struct<prefix:string,allow:int>>")),
        lambda r: F.col("path").startswith(r["prefix"]))
    best = F.array_max(F.transform(
        matched, lambda r: F.length(r["prefix"]) * 2 + r["allow"]))
    return d.select(
        "doc_id", "host", "path",
        F.size(matched).alias("n_rules_matched"),
        F.coalesce(F.floor(best / 2), F.lit(0)).cast("long")
        .alias("best_prefix_len"),
        F.coalesce(F.pmod(best, F.lit(2)), F.lit(1)).cast("int")
        .alias("allowed"))


# ---------------------------------------------------------------------------
# k-means / prototype pruning / product quantization
#
# All three share one numeric convention: embeddings are converted ONCE to
# fixed-point int64 components (x[i] = floor(v[i] * 10^6)), so every distance,
# partial sum, and centroid below is an EXACT integer — the driver's
# type-sensitive value-hash compare cannot drift on float summation order, and
# the DuckDB oracles reproduce results bit-for-bit. Magnitudes: |v| < 1 on
# this corpus, so |x| < 10^6, a squared 64-dim distance < 64·(2·10^6)² ≈
# 2.6·10^14 and a 10^9-row per-cell component sum < 10^15 — both far inside
# int64. (At 10^12 rows per cell the component sum would need int128/decimal;
# noted where it matters.)
# ---------------------------------------------------------------------------

FP_SCALE = 1_000_000
KMEANS_K = 8
KMEANS_ROUNDS = 2
PQ_M = 4    # subspaces (64 dims -> 4 x 16)
PQ_KS = 16  # codes per subspace


def _emb_fp(spark, sf_dir):
    """Embeddings as fixed-point int64 component arrays. floor (not round):
    floor has no .5-tie asymmetry between Spark and DuckDB, and both sides
    floor the same IEEE double product."""
    return (_t(spark, sf_dir, "embeddings")
            .select("vec_id",
                    F.transform(
                        "embedding",
                        lambda e: F.floor(e.cast("double")
                                          * F.lit(float(FP_SCALE)))
                        .cast("long")).alias("x")))


def _argmin_l2(X: np.ndarray, C: np.ndarray,
               c_sq: np.ndarray) -> tuple:
    """Exact int64 argmin-L2 kernel shared by every assignment/encode
    batch function: one ‖x‖² − 2·x·Cᵀ + ‖c‖² matmul, argmin returning the FIRST
    minimal index — the tie rule every DuckDB oracle mirrors with
    ORDER BY dist ASC, id ASC. Centralized so a tie-break or overflow
    change can never drift between the k-means, PQ, and IVF-PQ kernels.
    Returns (best indices, best distances)."""
    d = np.square(X).sum(axis=1)[:, None] - 2 * (X @ C.T) + c_sq[None, :]
    best = np.argmin(d, axis=1)
    return best, d[np.arange(len(best)), best]


def _l2_assign(embfp: DataFrame, cent_rows: list) -> DataFrame:
    """Nearest-centroid assignment under exact integer squared-L2: the
    ≤k-row codebook is bound into the batch function (same broadcast-codebook
    pattern as _ivf_assign) and each Arrow batch runs the shared
    _argmin_l2 kernel. Zero shuffle; ties resolve to the lowest cent_id
    (cent_rows is sorted), matching the oracle's
    ORDER BY dist ASC, cent_id ASC."""
    return _vector_stage(
        embfp, "x", partial(_l2_assign_kernel, *_l2_codebook(cent_rows)),
        "vec_id bigint, x array<bigint>, cell bigint, dist bigint")


def _l2_assign_kernel(cent_ids, C, c_sq, batch, X):
    best, dist = _argmin_l2(X, C, c_sq)
    return batch.column("vec_id"), batch.column("x"), cent_ids[best], dist


def _kmeans_update(assigned: DataFrame) -> DataFrame:
    """Centroid update as map-side partial aggregation: posexplode is narrow
    and the (cell, pos) hash-agg combines BELOW the exchange, so the shuffle
    carries ≤ partitions·k·dim partial rows regardless of corpus size — never
    the n·dim exploded rows. New component = floor(sum / count); sum/count is
    double division on both engines (exact while |sum| < 2⁵³ — true at any
    population this corpus reaches; a 10¹²-row deployment would move this to
    DECIMAL). Cells that lost every member simply vanish — deterministic on
    both engines."""
    sums = (assigned.select("cell", F.posexplode("x").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")))
    return (sums
            .withColumn("c", F.floor(F.col("s") / F.col("n")).cast("long"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c")))
                 .alias("pc"))
            .select(F.col("cell").alias("cent_id"),
                    F.transform("pc", lambda s: s["c"]).alias("cx")))


def _kmeans_fit(embfp: DataFrame, k: int, rounds: int):
    """`rounds` Lloyd iterations (assign + update). Init centroids are the
    vectors with vec_id < k — deterministic, like the IVF codebook. Each
    round collects the ≤k×dim centroid table to the driver (the broadcast-
    codebook pattern), which also truncates the plan: round r+1's lineage
    restarts from the embedding scan + a bound constant, never stacking r
    shuffle stages. Cost is the textbook one: `rounds` passes over the data.
    Returns (final-round assignment DataFrame, final centroid rows) — the
    assignment is vs the round-(R−1) centroids, the rows are the round-R
    update derived from exactly that assignment."""
    cent_rows = [(r["cent_id"], list(r["cx"])) for r in
                 embfp.filter(F.col("vec_id") < k)
                 .select(F.col("vec_id").alias("cent_id"),
                         F.col("x").alias("cx"))
                 .orderBy("cent_id").collect()]
    assigned = None
    for _ in range(rounds):
        assigned = _l2_assign(embfp, cent_rows)
        cent_rows = [(r["cent_id"], list(r["cx"])) for r in
                     _kmeans_update(assigned).orderBy("cent_id").collect()]
    return assigned, cent_rows


def embedding_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means over the embeddings — the clustering
    backbone curation methods build on (SemDeDup cells, cluster-balanced
    sampling, prototype pruning). Fixed k and round count, deterministic
    init, exact integer arithmetic throughout: the DuckDB oracle replays
    both rounds bit-identically. Output is the per-cell fit summary —
    population, inertia (Σ within-cell squared-L2, the quantity Lloyd
    monotonically decreases), and the centroid component sum as an integer
    fingerprint of the fitted codebook."""
    embfp = _emb_fp(spark, sf_dir)
    assigned, cent_rows = _kmeans_fit(embfp, KMEANS_K, KMEANS_ROUNDS)
    pops = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"), F.sum("dist").alias("inertia"))
    cents = local_frame(
        spark, [(int(cid), int(sum(cx))) for cid, cx in cent_rows],
        "cell bigint, cent_sum bigint")
    return (pops.join(F.broadcast(cents), "cell")
            .select("cell", "n", "inertia", "cent_sum"))


PRUNE_KEEP_FRAC = 0.5


def corpus_prototype_prune(spark, sf_dir):
    """SSL-prototype pruning (Sorscher et al., "Beyond neural scaling
    laws"): cluster the corpus, rank each document by distance to its
    cluster centroid, and keep the ceil(PRUNE_KEEP_FRAC·pop) LEAST
    prototypical (largest-distance) per cluster — redundant near-centroid
    examples are what large corpora can afford to drop. Rank ties break on vec_id.
    Per-cluster quota (not a global cutoff) so no cluster is wiped out.
    Scale shape: the ranking is one window over the assignment — shuffle
    keys on cell, and the k-means rounds before it are map-only passes."""
    embfp = _emb_fp(spark, sf_dir)
    assigned, _ = _kmeans_fit(embfp, KMEANS_K, KMEANS_ROUNDS)
    w = Window.partitionBy("cell").orderBy(F.col("dist").desc(),
                                           F.col("vec_id").asc())
    wc = Window.partitionBy("cell")
    return (assigned
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .withColumn("pop", F.count(F.lit(1)).over(wc))
            .filter(F.col("rank")
                    <= F.ceil(F.lit(float(PRUNE_KEEP_FRAC)) * F.col("pop")))
            .select("vec_id", "cell", "dist", "rank"))


def _pq_codebook_from_rows(rows) -> np.ndarray:
    """Per-subspace PQ codebooks, shape (M, KS, dim/M), from an
    already-collected fp row set containing vec_id < PQ_KS: code c of
    subspace s is the s-th slice of training vector vec_id = c —
    deterministic, like the IVF codebook, so the oracle rebuilds it from
    the table. (A real deployment would train per-subspace k-means with
    _kmeans_fit; the code path downstream is identical.)"""
    train = sorted((r for r in rows if r["vec_id"] < PQ_KS),
                   key=lambda r: r["vec_id"])
    dim = len(train[0]["x"])
    sub_d = dim // PQ_M
    return np.array([[list(r["x"][s * sub_d:(s + 1) * sub_d]) for r in train]
                     for s in range(PQ_M)], dtype=np.int64)


def _pq_codebook(embfp: DataFrame) -> np.ndarray:
    return _pq_codebook_from_rows(
        embfp.filter(F.col("vec_id") < PQ_KS).orderBy("vec_id").collect())


PQ_TRAIN_ROUNDS = 2


def _pq_update_codebook(embfp: DataFrame, CB: np.ndarray) -> np.ndarray:
    """One per-subspace Lloyd update for ALL M subspaces in a single
    map-only pass: each Arrow batch encodes against the current codebook
    (shared _pq_sub_codes kernel) and emits per-(sub, code, pos) PARTIAL
    sums/counts — ≤ M·KS·sub_d rows per batch, i.e. the codebook's own
    size — so the exchange carries ≤ partitions·M·KS·sub_d rows
    regardless of corpus size (the k-means partial-agg shape, with the
    map-side combine done in the kernel itself). New component =
    floor(sum/count), same arithmetic as _kmeans_update; codes that lose
    every member keep their old entry (deterministic)."""
    agg = (_vector_stage(
        embfp, "x", partial(_pq_partials, CB, np.square(CB).sum(axis=2)),
        "sub bigint, code bigint, pos bigint, s bigint, n bigint")
        .groupBy("sub", "code", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .withColumn("c", F.floor(F.col("s") / F.col("n")).cast("long"))
        .collect())
    new = CB.copy()
    for r in agg:
        new[r["sub"], r["code"], r["pos"]] = r["c"]
    return new


def _pq_partials(CB, cb_sq, _batch, X):
    """One batch's (sub, code, pos, sum, count) rows: sub_d per (subspace,
    code) that the batch's vectors encode to."""
    M, KS, sub_d = CB.shape
    codes, _ = _pq_sub_codes(X, CB, cb_sq)
    groups = [(s, c, X[codes[s::M] == c, s * sub_d:(s + 1) * sub_d])
              for s in range(M) for c in np.unique(codes[s::M])]
    return (np.repeat([s for s, _c, _sel in groups], sub_d),
            np.repeat([c for _s, c, _sel in groups], sub_d),
            np.tile(np.arange(sub_d), len(groups)),
            np.concatenate([sel.sum(axis=0) for *_k, sel in groups]),
            np.repeat([len(sel) for *_k, sel in groups], sub_d))


def _pq_codebook_trained(embfp: DataFrame,
                         rounds: int = PQ_TRAIN_ROUNDS) -> np.ndarray:
    """Per-subspace k-means-trained PQ codebook (the real FAISS recipe),
    initialized from the deterministic stand-in (_pq_codebook) and
    refined by `rounds` Lloyd updates — `rounds` map-only passes over the
    data plus one codebook-sized exchange + driver collect each, so
    training costs exactly what the distributed k-means does. The
    untrained stand-in stays the oracle-facing default (DuckDB can't
    replay the training cheaply); the encode/ADC path downstream is
    byte-for-byte the same code either way (VERDICT r4 item 4)."""
    CB = _pq_codebook(embfp)
    for _ in range(rounds):
        CB = _pq_update_codebook(embfp, CB)
    return CB


def _pq_sub_codes(X: np.ndarray, CB: np.ndarray,
                  cb_sq: np.ndarray) -> tuple:
    """PQ codes + per-sub squared distances for a batch, interleaved
    sub-major within each vector (pairs with np.repeat(vec_ids, M) /
    np.tile(arange(M), n)). One shared _argmin_l2 call per subspace —
    the same tie-sensitive kernel the k-means assignment uses."""
    M, KS, sub_d = CB.shape
    n = len(X)
    codes = np.empty(n * M, dtype=np.int64)
    dists = np.empty(n * M, dtype=np.int64)
    for s in range(M):
        best, dist = _argmin_l2(X[:, s * sub_d:(s + 1) * sub_d],
                                CB[s], cb_sq[s])
        codes[s::M] = best
        dists[s::M] = dist
    return codes, dists


def _pq_encode_df(embfp: DataFrame, CB: np.ndarray) -> DataFrame:
    """The map-only encode pass given a prebuilt codebook — shared by
    embedding_pq_encode and the ADC searchers so composing them never
    re-collects the training rows."""
    return _vector_stage(
        embfp, "x",
        partial(_pq_encode_kernel, CB, np.square(CB).sum(axis=2)),
        "vec_id bigint, sub bigint, code bigint, sqdist bigint")


def _pq_encode_kernel(CB, cb_sq, batch, X):
    M = CB.shape[0]
    codes, dists = _pq_sub_codes(X, CB, cb_sq)
    return (np.repeat(batch.column("vec_id").to_numpy(), M),
            np.tile(np.arange(M, dtype=np.int64), len(X)), codes, dists)


def embedding_pq_encode(spark, sf_dir):
    """Product-quantization encode: each vector compresses to M=4 sub-codes
    (one per 16-dim slice, nearest codebook entry by integer squared-L2),
    i.e. 512 B of float32 becomes 4 small ints — the memory path that lets a
    10⁹-vector index live in RAM. One map-only numpy pass (codebook bound
    into the batch function); long format (vec_id, sub, code, sqdist)
    keeps the schema stable and the oracle a plain argmin join. By construction the KS
    training vectors encode to themselves with sqdist 0 — pinned in
    tests. The per-subspace-k-means codebook (_pq_codebook_trained)
    encodes through the same _pq_encode_df."""
    embfp = _emb_fp(spark, sf_dir)
    return _pq_encode_df(embfp, _pq_codebook(embfp))


def _driver_rows(embfp: DataFrame, prefix: int, q_lo: int, n_queries: int):
    """ONE driver collect, in vec_id order, of the rows with vec_id <
    prefix (codebook entries) and of the query window: returns (all rows,
    the query window's rows)."""
    rows = (embfp.filter((F.col("vec_id") < prefix)
                         | _query_window(q_lo, n_queries))
            .orderBy("vec_id").collect())
    return rows, [r for r in rows if q_lo <= r["vec_id"] < q_lo + n_queries]


def _adc_table(spark, q_rows, CB) -> DataFrame:
    """Per-query (sub, code) partial ADC distances — n_queries·M·KS rows,
    built driver-side from the collected codebook (both already live on the
    driver) and destined for a broadcast."""
    M, KS, sub_d = CB.shape
    adc = []
    for r in q_rows:
        qx = np.array(list(r["x"]), dtype=np.int64)
        for s in range(M):
            d = np.square(CB[s] - qx[s * sub_d:(s + 1) * sub_d][None, :]) \
                .sum(axis=1)
            adc.extend((int(r["vec_id"]), s, c, int(d[c]))
                       for c in range(KS))
    return local_frame(
        spark, adc, "query_id bigint, sub bigint, code bigint, pdist bigint")


def _adc_top_k(cand: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by asymmetric distance: a partial-agg sum of the
    per-subspace pdist of each (query_id, vec_id) candidate, smallest
    first."""
    adist = (cand.groupBy("query_id", "vec_id")
             .agg(F.sum("pdist").alias("adist")))
    return _top_k(adist, F.col("adist").asc(), k, "adist")


def _pq_topk(spark, embfp: DataFrame, CB: np.ndarray, q_rows: list,
             k: int) -> DataFrame:
    """ADC top-k of the query rows over embfp's PQ codes under the
    codebook CB (see embedding_pq_topk)."""
    codes = _pq_encode_df(embfp, CB).select("vec_id", "sub", "code")
    return _adc_top_k(
        codes.join(F.broadcast(_adc_table(spark, q_rows, CB)), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id")), k)


def embedding_pq_topk(spark, sf_dir):
    """Asymmetric-distance (ADC) top-k over the PQ codes: per query,
    precompute the (sub × code) partial-distance table — n_queries·M·KS
    rows, built driver-side from the collected codebook and broadcast —
    then ONE equi-join against the code table and a partial-agg sum
    reconstructs every approximate distance without touching a single full
    vector. That join-a-tiny-ADC-table-against-compressed-codes shape is
    exactly why PQ scans survive 10⁹ vectors. All-integer distances keep
    the compare exact. The queries here are vec_id 0..4, which ARE stand-in
    codebook entries: their ADC distances come out exact, which biases any
    codebook comparison toward the stand-in, so embedding_pq_recall takes
    a query window past the training prefix."""
    embfp = _emb_fp(spark, sf_dir)
    rows, q_rows = _driver_rows(embfp, PQ_KS, 0, ANN_N_QUERIES)
    return _pq_topk(spark, embfp, _pq_codebook_from_rows(rows), q_rows, ANN_K)


@arrow_udf(LongType())
def _sqdist_fp(a: pa.Array, b: pa.Array) -> pa.Array:
    """Exact integer squared-L2 between fixed-point component arrays —
    numpy per Arrow batch, same reason as _cosine."""
    return pa.array(np.square(_matrix(a) - _matrix(b)).sum(axis=1))


def _exact_l2_topk(embfp, k, n_queries, q_lo):
    """Brute-force integer-L2 top-k: the exactness baseline for the PQ
    path, same broadcast-queries shape as _exact_topk."""
    q = _queries(embfp, "x", q_lo, n_queries)
    scored = (embfp.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("query_id"))
              .withColumn("dist", _sqdist_fp(F.col("qx"), F.col("x"))))
    return _top_k(scored, F.col("dist").asc(), k, "dist")


def embedding_pq_recall(spark, sf_dir, k=ANN_K, n_queries=ANN_N_QUERIES,
                        q_lo=0, trained=False):
    """Recall@k of the PQ-ADC scan against the exact integer-L2 baseline —
    the acceptance query run before trusting a compressed index, in the
    SAME metric PQ approximates (L2 over the fixed-point components; recall
    vs a cosine baseline would conflate metric mismatch with quantization
    loss). Integer hit counts; recall = n_hits / n_exact. The registered
    query runs embedding_pq_topk's search; embedding_pq_recall_trained
    measures the per-subspace-k-means codebook instead of the
    deterministic stand-in — the number a deployment would quote —
    with k=10 over 30 queries at q_lo=200 >= PQ_KS, so the queries
    aren't codebook entries."""
    embfp = _emb_fp(spark, sf_dir)
    rows, q_rows = _driver_rows(embfp, PQ_KS, q_lo, n_queries)
    CB = (_pq_codebook_trained(embfp) if trained
          else _pq_codebook_from_rows(rows))
    return _recall_counts(_exact_l2_topk(embfp, k, n_queries, q_lo),
                          _pq_topk(spark, embfp, CB, q_rows, k))


def _l2_codebook(cent_rows: list) -> tuple:
    """(cent_ids, C, ‖c‖²) int64 arrays of sorted (cent_id, vector) rows —
    the integer-L2 codebook every assignment kernel binds."""
    cent_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    C = np.array([r[1] for r in cent_rows], dtype=np.int64)
    return cent_ids, C, np.square(C).sum(axis=1)


def _ivfpq_index(embfp: DataFrame, cent_rows: list, CB: np.ndarray) \
        -> DataFrame:
    """IVF-PQ index build in ONE map-only pass: each vector's IVF cell
    (integer-L2 nearest of the ~√n centroids) AND its M PQ codes come out
    of the same Arrow batch — full vectors are never stored, shuffled, or
    revisited after this scan, which is the entire point of the layout at
    10⁹ vectors. Output is M rows per vector: (vec_id, cell, sub, code)."""
    return _vector_stage(
        embfp, "x",
        partial(_ivfpq_kernel, *_l2_codebook(cent_rows),
                CB, np.square(CB).sum(axis=2)),
        "vec_id bigint, cell bigint, sub bigint, code bigint")


def _ivfpq_kernel(cent_ids, C, c_sq, CB, cb_sq, batch, X):
    vec_ids, subs, codes, _ = _pq_encode_kernel(CB, cb_sq, batch, X)
    best, _ = _argmin_l2(X, C, c_sq)
    return vec_ids, np.repeat(cent_ids[best], len(CB)), subs, codes


def _ivfpq_topk(spark, embfp: DataFrame, cent_rows: list, CB: np.ndarray,
                q_rows: list, k: int) -> DataFrame:
    """IVF-PQ search of the query rows (see embedding_ann_ivfpq): each
    query probes the N_IVF_PROBES cells of cent_rows nearest to it, ties
    to the lower cent_id, and ranks those cells' codes under CB by ADC."""
    cent_ids, C, _ = _l2_codebook(cent_rows)
    probe_rows = []
    for r in q_rows:
        qx = np.array(list(r["x"]), dtype=np.int64)
        d = np.square(C - qx[None, :]).sum(axis=1)
        order = np.lexsort((cent_ids, d))  # dist asc, cent_id asc on ties
        probe_rows.extend((int(r["vec_id"]), int(cent_ids[i]))
                          for i in order[:N_IVF_PROBES])
    probe_df = local_frame(spark, probe_rows, "query_id bigint, cell bigint")
    cand = (_ivfpq_index(embfp, cent_rows, CB)
            .join(F.broadcast(probe_df), "cell")
            .filter(F.col("vec_id") != F.col("query_id"))
            .join(F.broadcast(_adc_table(spark, q_rows, CB)),
                  ["query_id", "sub", "code"]))
    return _adc_top_k(cand, k)


def embedding_ann_ivfpq(spark, sf_dir):
    """IVF-PQ composed index — the FAISS-style architecture production ANN
    actually deploys at 10⁹+ vectors: the corpus inverts into ~√n cells by
    integer-L2 nearest centroid, vectors inside cells live ONLY as their
    M=4 PQ codes, and a query (a) probes its N_IVF_PROBES nearest cells and
    (b) ranks just those cells' codes by ADC. The search plan touches two
    broadcasts (the n_queries·probes probe list and the n_queries·M·KS ADC
    table) plus the compressed code table — never a full vector, never a
    non-probed cell. Everything is exact integer arithmetic, so the DuckDB
    oracle replays cell assignment, encoding, probing, and ADC ranking
    bit-identically. _ivfpq_topk takes any codebook and query window: the
    index/search plans are identical for the per-subspace-k-means
    codebook."""
    embfp = _emb_fp(spark, sf_dir)
    n_cent = _ivf_n_centroids(_emb_count(spark, sf_dir))
    # ONE driver collect serves the IVF centroids, the PQ codebook, and
    # the query vectors
    rows, q_rows = _driver_rows(embfp, max(n_cent, PQ_KS), 0, ANN_N_QUERIES)
    cent_rows = [(int(r["vec_id"]), list(r["x"])) for r in rows
                 if r["vec_id"] < n_cent]
    return _ivfpq_topk(spark, embfp, cent_rows, _pq_codebook_from_rows(rows),
                       q_rows, ANN_K)


def embedding_ann_ivfpq_recall(spark, sf_dir):
    """Recall@k of the composed IVF-PQ index vs the exact integer-L2
    baseline — the figure that separates cell-miss loss (a true neighbor in
    a non-probed cell) plus quantization loss from the exact scan; compare
    with embedding_pq_recall (quantization loss only) to attribute the
    gap."""
    return _recall_counts(
        _exact_l2_topk(_emb_fp(spark, sf_dir), ANN_K, ANN_N_QUERIES, 0),
        embedding_ann_ivfpq(spark, sf_dir))


# ---------------------------------------------------------------------------
# range join / distinct-count sketch
# ---------------------------------------------------------------------------

RANGE_WINDOW_MIN = 60  # attribution window: clicks in the hour before a purchase


def events_range_join(spark, sf_dir):
    """Interval/range join — the attribution query (clicks within the hour
    BEFORE each purchase, same user), an operator Spark has no native
    physical strategy for: an equi+range predicate hash-joins on user_id
    and post-filters, which is O(per-user clicks × per-user purchases) on a
    hot user. This plan buckets time by the window width W instead: a click
    lives in ONE bucket (floor(ts/W)), a purchase's look-back interval
    covers EXACTLY two (its own and the previous), so exploding purchases
    ×2 and equi-joining on (user_id, bucket) bounds candidates to the two
    adjacent buckets before the exact range filter — the standard bucketed
    interval-join decomposition, shuffle keyed on (user, bucket), never a
    per-user cross product. A click bucket is covered at most once per
    purchase, so no pair dedup is needed.

    All-integer outputs (µs gaps) keep the oracle compare exact; purchases
    with no attributable click survive with n_clicks = 0. µs offsets come
    from _ntz_micros (timezone-free naive-epoch µs = DuckDB epoch_us), the
    same helper the other event ops use."""
    w_us = RANGE_WINDOW_MIN * 60 * 1_000_000
    ev = _t(spark, sf_dir, "events")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"), "user_id",
                 _ntz_micros(F.col("ts")).alias("p_us")))
    c = (ev.filter(F.col("event_type") == "click")
         .select("user_id", _ntz_micros(F.col("ts")).alias("c_us"))
         .withColumn("bucket", F.expr(f"c_us div {w_us}")))
    p2 = p.withColumn("bucket", F.explode(F.array(
        F.expr(f"p_us div {w_us}") - F.lit(1), F.expr(f"p_us div {w_us}"))))
    matched = (p2.join(c, ["user_id", "bucket"])
               .filter((F.col("c_us") >= F.col("p_us") - F.lit(w_us))
                       & (F.col("c_us") < F.col("p_us")))
               .groupBy("purchase_id")
               .agg(F.count(F.lit(1)).alias("n_clicks"),
                    F.min(F.col("p_us") - F.col("c_us")).alias("min_gap_us")))
    return (p.select("purchase_id", "user_id")
            .join(matched, "purchase_id", "left")
            .select("purchase_id", "user_id",
                    F.coalesce("n_clicks", F.lit(0)).cast("long")
                    .alias("n_clicks"),
                    "min_gap_us"))


KMV_K = 16  # sketch size; per-source distinct counts at test SFs are >= 25


def corpus_distinct_kmv(spark, sf_dir):
    """Per-source distinct-document estimate via a K-minimum-values sketch —
    the portable alternative to HLL (approx_count_distinct) whose estimate
    the DuckDB oracle reproduces BIT-EXACTLY: hash every doc with the
    portable 32-bit md5 hash, keep the k smallest distinct values per
    source, estimate distinct ≈ (k−1)·2³² / h_k. Exact count, the kth
    minimum, and the floored estimate ship together so the query doubles
    as the sketch's own acceptance test (the error is visible per row).

    Scale shape: the distinct pass partial-aggregates below one exchange;
    the k-th minimum is a rank-k window (WindowGroupLimit installs a
    map-side per-source top-k before the exchange, so each upstream task
    ships k rows per source — the distributed-sketch merge shape). Groups
    with fewer than k distinct values fall back to their exact count,
    exactly as a KMV implementation does."""
    h = (_t(spark, sf_dir, "documents")
         .select("source",
                 _portable_hash32(F.col("text"), F.lit("kmv")).alias("h"))
         .distinct())
    stats = h.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    w = Window.partitionBy("source").orderBy(F.col("h").asc())
    kth = (h.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == KMV_K)
           .select("source", F.col("h").alias("kth_min")))
    est = (F.when(F.col("kth_min").isNull(), F.col("n_exact"))
           .otherwise(F.floor(F.lit(float(KMV_K - 1)) * F.lit(2.0 ** 32)
                              / F.col("kth_min"))))
    return (stats.join(kth, "source", "left")
            .select("source", "n_exact", "kth_min",
                    est.cast("long").alias("est_distinct")))


BADWORDS = ("slow", "big", "legacy")  # content blocklist (corpus-appropriate
                                      # stand-in for the C4/Dolma bad-words list)
BADWORDS_MAX_PCT = 5                  # keep iff blocked words <= 5% of words


def corpus_badwords_filter(spark, sf_dir):
    """Blocked-word content filter — the C4 "bad words" stage in its
    modern ratio form (C4 dropped a page on ANY hit; Dolma/RefinedWeb-style
    taggers use a ratio threshold so a quoted word doesn't nuke a good
    document). keep = blocked-word share ≤ BADWORDS_MAX_PCT%, decided as
    the pure INTEGER inequality n_blocked·100 ≤ n_words·BADWORDS_MAX_PCT —
    no float ever enters the decision, so the oracle compare is exact.

    Scale shape: blocklist ships as a literal array (real lists are a few
    thousand words — still a literal); occurrence counting is TWO-STEP so
    per-document cost is O(words + |blocklist|), not O(words·|blocklist|):
    array_intersect builds a hash set of the blocklist once per row and
    yields the (few) distinct blocked words PRESENT in the document, then
    the occurrence count filters the word array against that near-always-
    tiny matched set. Measured at sf0.01/local[8], 2000-word blocklist:
    0.71 s vs 1.11 s for per-word array_contains and 1.27 s for a literal
    map (map_contains_key on ArrayBasedMapData is a linear scan, not a
    hash probe — it does NOT fix the complexity). Still map-side codegen
    over the existing scan, zero shuffle, zero Python (plan-pinned)."""
    words = F.filter(F.split("text", " "), lambda w: w != "")
    blocked = F.array(*[F.lit(w) for w in BADWORDS])
    base = (_t(spark, sf_dir, "documents")
            .select("doc_id", words.alias("ws"),
                    F.array_intersect(words, blocked).alias("matched")))
    n_words = F.size("ws")
    n_blocked = F.size(F.filter(
        "ws", lambda w: F.array_contains(F.col("matched"), w)))
    return base.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_blocked.cast("long").alias("n_blocked"),
        (n_blocked * 100 <= n_words * F.lit(int(BADWORDS_MAX_PCT)))
        .cast("int").alias("keep"))
