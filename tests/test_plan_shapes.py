"""Physical-plan regression tests: pin the SCALE properties the operators
claim (exchange counts, broadcast joins, rank pushdowns, map-only stages)
so a refactor that silently adds a shuffle or demotes a broadcast fails
here, not at 100 TB. Assertions read the EXECUTED plan string — the same
evidence docs/PLANS.md documents."""
import os
import re
import sys

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from htmlparser_spark import ops

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[4]")
         .appName("plan-shape-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
    yield s
    s.stop()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _python_nodes(plan: str) -> list:
    """The Python-evaluating plan nodes named in ``plan``."""
    return [n for n in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                        "MapInArrow") if n in plan]


def test_sessionize_single_exchange(spark):
    """Lag window + running session numbering + session aggregate must all
    reuse ONE user_id exchange (group keys ⊇ window partition key)."""
    p = plan_of(ops.events_sessionize(spark, SF))
    assert p.count("Exchange") == 1, p
    assert "hashpartitioning(user_id" in p, p


def test_asof_join_single_exchange(spark):
    """Union-sort as-of join: one exchange on the join key, ties resolved
    in the sort — no pre-dedup aggregate, no range-join blowup."""
    p = plan_of(ops.asof_join_latest_order(spark, SF))
    assert p.count("Exchange") == 1, p


def test_heavy_hitters_distributed_topk(spark):
    """Global top-k must be TakeOrderedAndProject (per-partition top-k +
    k-row merge), never a full-vocabulary single-partition sort."""
    p = plan_of(ops.token_heavy_hitters(spark, SF))
    assert "TakeOrderedAndProject" in p, p


def test_ivf_assignment_is_map_only(spark):
    """Nearest-centroid assignment = codebook matmul in mapInArrow over an
    already-partitioned corpus: zero Exchange, zero joined rows."""
    import numpy as np
    rng = np.random.RandomState(0)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(64)],
        "vec_id long, v array<double>").repartition(4)
    cents = (emb.filter(F.col("vec_id") < 4)
             .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")))
    p = plan_of(ops._ivf_assign(emb, cents))
    # the input repartition is the only exchange; assignment adds none
    assert p.count("Exchange") == 1 and p.count("MapInArrow") == 1, p
    assert "Join" not in p, p


def test_simhash_map_only_on_partitioned_input(spark):
    """Signature computation adds NO shuffle when the scan already yields
    enough splits (the conditional fan-out must not re-shuffle)."""
    docs = (ops._t(spark, SF, "documents").select("doc_id", "text")
            .repartition(4))
    st = ops._shingle_stage(docs, simhash=True).select("doc_id", "simhash")
    p = plan_of(st)
    assert p.count("Exchange") == 1, p  # only the input repartition


def test_q3_broadcasts_customer_dim(spark):
    """The filtered customer dim must reach the join as a broadcast."""
    p = plan_of(ops.q3_revenue_by_order(spark, SF))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p


def test_kernel_pipeline_single_exchange_with_dedup(spark):
    """Parse map-only + ONE parsed exchange on part_key; the dedup window
    rides it (WindowGroupLimit, no second exchange) — docs/PLANS.md §1."""
    from pyspark.sql import Window
    from htmlparser_spark.pipeline.job import (parse_pages, with_part_key)
    from htmlparser_spark.synth import synth_pages

    pages = with_part_key(synth_pages(spark, 30, seed=1, partitions=4)) \
        .withColumn("content_hash", F.xxhash64("html")) \
        .select("url", "warc_ts", "html", "lang", "part_key", "content_hash")
    parsed = parse_pages(pages).repartition(4, "part_key")
    w = Window.partitionBy("part_key", "url").orderBy(
        F.col("warc_ts").desc(), F.col("content_hash").desc())
    deduped = (parsed.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") == 1).drop("_rn"))
    p = plan_of(deduped)
    assert p.count("Exchange") == 1, p
    assert "WindowGroupLimit" in p, p


def test_host_cap_rank_pushdown(spark):
    """The rank-≤-cap filter must trigger WindowGroupLimit: a map-side
    per-host top-k before the exchange, bounding hot-host skew."""
    p = plan_of(ops.corpus_host_cap(spark, SF))
    assert "WindowGroupLimit" in p, p


def test_decontaminate_broadcasts_eval_ngrams(spark):
    """The eval-set n-gram side is tiny by construction and must reach the
    overlap join as a broadcast — the training side never shuffles grams."""
    p = plan_of(ops.corpus_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in p, p


def test_url_dedup_single_exchange_no_python(spark):
    """URL synthesis + canonicalization are map-side codegen regexps; the
    only shuffle keys on canonical_url (partial count/min below it)."""
    p = plan_of(ops.corpus_url_dedup(spark, SF))
    assert p.count("Exchange") == 1, p
    assert "hashpartitioning(canonical_url" in p, p
    assert not _python_nodes(p), p


def test_dsir_scoring_broadcasts_log_ratio_table(spark):
    """The 256-row log-ratio table must broadcast into the per-doc scoring
    join; the corpus never sort-merge-joins on the bucket id."""
    p = plan_of(ops.text_dsir_weights(spark, SF))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "BatchEvalPython" not in p, p


def test_mix_temperature_broadcast_rates_only(spark):
    """The keep decision is a map-side hash compare against a broadcast
    rate table — the corpus itself is never shuffled or SMJ'd."""
    p = plan_of(ops.corpus_mix_temperature(spark, SF))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    # only the tiny source-histogram aggregation may exchange; the docs →
    # output path must not repartition the corpus on any key
    assert "hashpartitioning(doc_id" not in p, p


def test_span_scrub_no_cartesian_no_python(spark):
    """Duplicate-span removal must stay equi-join + HOF rebuild: no pair
    blowup, no Python eval anywhere."""
    p = plan_of(ops.text_span_scrub(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    assert not _python_nodes(p), p


def test_lm_perplexity_broadcasts_bucket_table(spark):
    """The ≤4096-row LM bucket table must broadcast into scoring; the
    corpus never sort-merge-joins on the bucket id."""
    p = plan_of(ops.text_lm_perplexity(spark, SF))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "BatchEvalPython" not in p, p


def test_curation_pipeline_keeps_host_cap_pushdown(spark):
    """The composed pass must retain the map-side per-host top-k rewrite
    and stay free of pair blowups."""
    p = plan_of(ops.corpus_curation_pipeline(spark, SF))
    assert "WindowGroupLimit" in p, p
    assert "CartesianProduct" not in p, p


def test_url_filter_map_only_broadcast_blocklist(spark):
    """URL-rule filtering must stay map-side narrow at any corpus size:
    the blocklist joins as a BROADCAST hash join on host and nothing in
    the op shuffles the corpus (zero Exchange of the documents scan)."""
    p = plan_of(ops.corpus_url_filter(spark, SF))
    assert "BroadcastHashJoin" in p, p
    # the only exchange allowed is the broadcast of the tiny blocklist
    assert "Exchange hashpartitioning" not in p, p


def test_bloom_probe_broadcasts_filter_bits(spark):
    """The Bloom probe must broadcast the (≤ m)-row bit-position set (one
    join per hash function) and the history hash set — per-ingest cost
    independent of history size. The new batch is never shuffled: the one
    hash exchange is the distinct of history's hashes."""
    p = plan_of(ops.dedup_bloom(spark, SF))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("BroadcastHashJoin") >= ops.BLOOM_K + 1, p
    assert "SortMergeJoin" not in p, p


def test_quality_classifier_broadcasts_weights(spark):
    """Frozen-classifier inference: the QC_BUCKETS-row weight table is
    broadcast; shuffles key (doc_id, bucket) counts / per-doc reduce,
    never raw tokens joined wide."""
    p = plan_of(ops.text_quality_classifier(spark, SF))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_line_dedup_no_cartesian_no_python(spark):
    """C4 line dedup must stay hash-keyed: line-hash frequency aggregate
    with partial counts, equi-join back, HOF rebuild — no pair blowup, no
    Python eval."""
    p = plan_of(ops.text_line_dedup(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    assert not _python_nodes(p), p
    assert "partial_count" in p, p


def test_ppl_buckets_one_doc_row_through_window(spark):
    """The tercile window must shuffle one (doc_id, ppl) row per doc keyed
    on lang — never text — and the LM stays a broadcast join."""
    p = plan_of(ops.corpus_ppl_buckets(spark, SF))
    assert "BroadcastHashJoin" in p, p
    assert "ntile(3)" in p, p
    assert "hashpartitioning(lang" in p, p


def test_gopher_rules_map_only_no_python(spark):
    """Gopher quality rules are pure codegen string/array arithmetic on the
    document's own text: zero Exchange, zero Python eval — the filter
    composes into any scan pipeline for free."""
    p = plan_of(ops.text_gopher_rules(spark, SF))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p


def test_badwords_filter_map_only_no_python(spark, monkeypatch):
    """The blocked-word ratio filter is pure codegen array arithmetic on
    the document's own text (the blocklist is a literal array): zero
    Exchange, zero Python eval — at corpus scale it rides the scan for
    free, exactly like the Gopher rules. Pinned at a REALISTIC blocklist
    size (500 words): the two-step array_intersect lookup must not change
    the plan shape however long the list grows."""
    p = plan_of(ops.corpus_badwords_filter(spark, SF))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p
    monkeypatch.setattr(
        ops, "BADWORDS", [f"blk{i}" for i in range(497)] + list(ops.BADWORDS))
    p = plan_of(ops.corpus_badwords_filter(spark, SF))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p


def test_robots_filter_no_corpus_shuffle(spark):
    """robots filtering joins the per-host rule ARRAYS as a broadcast and
    resolves longest-match in higher-order functions: the only hash
    exchange in the plan is the |rules|-row per-host rollup (20 hosts),
    never the documents scan."""
    p = plan_of(ops.corpus_robots_filter(spark, SF))
    assert "BroadcastHashJoin" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "EvalPython" not in p, p


def test_surt_keys_map_only_no_python(spark):
    """SURT key computation is pure codegen (parse_url/split/reverse):
    zero Exchange, zero Python eval — cheap enough to emit on every sink."""
    import __spark_entry__ as entry
    p = plan_of(entry.corpus_surt_keys(spark, SF))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p


def test_balanced_pair_join_broadcasts_subcell_table(spark):
    """The oversized-cell split's (cell, n_sub) table is ≤ |cells| rows and
    must broadcast — the corpus side of _with_subcells never shuffles to
    learn its sub-cell; the only exchanges in the balanced pair join key on
    (cell[, i, j]) for the pair joins themselves."""
    import numpy as np
    rng = np.random.RandomState(0)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(64)],
        "vec_id long, v array<double>").repartition(4)
    cents = (emb.filter(F.col("vec_id") < 4)
             .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")))
    assigned = ops._ivf_assign(emb, cents)
    p = plan_of(ops._cell_pairs_balanced(assigned, max_cell=8))
    assert "BroadcastHashJoin" in p, p           # the n_sub lookup
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_ivfpq_index_build_is_map_only(spark):
    """The IVF-PQ index build (cell + codes) must be ONE map-only pass:
    zero Exchange between the embeddings scan and mapInArrow."""
    embfp = ops._emb_fp(spark, SF)
    cent_rows = [(r["cent_id"], list(r["cx"])) for r in
                 embfp.filter(F.col("vec_id") < 16)
                 .select(F.col("vec_id").alias("cent_id"),
                         F.col("x").alias("cx"))
                 .orderBy("cent_id").collect()]
    p = plan_of(ops._ivfpq_index(embfp, cent_rows,
                                 ops._pq_codebook(embfp)))
    assert "Exchange" not in p, p
    assert "MapInArrow" in p, p


def test_pq_topk_broadcasts_adc_table(spark):
    """ADC search: the per-query partial-distance table must be broadcast
    (never shuffled against the codes) and sum(pdist) must map-side
    combine BELOW the (query_id, vec_id) exchange — matched specifically,
    so an unrelated partial aggregate elsewhere cannot satisfy it."""
    import re

    p = plan_of(ops.embedding_pq_topk(spark, SF))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    m = re.search(r"Exchange hashpartitioning\(query_id#\d+L?, vec_id", p)
    assert m, p
    assert "partial_sum(pdist" in p[m.end():], p


def test_ivfpq_search_broadcasts_probes_and_adc(spark):
    """Composed IVF-PQ search: BOTH small sides (probe list, ADC table)
    broadcast; the only exchange is the (query, vec) distance rollup +
    the top-k window."""
    p = plan_of(ops.embedding_ann_ivfpq(spark, SF))
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def _depth(line: str) -> int:
    """Where a plan line's node starts: past its ``+- `` / ``:- `` tree
    prefix (0 for the root)."""
    m = re.match(r"[ :]*[+:]- ", line)
    return m.end() if m else 0


def _subtrees(plan: str, node: str) -> list:
    """The text of every subtree of ``plan`` rooted at a ``node`` line: the
    node's line and the lines after it that sit deeper in the tree."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if not line[_depth(line):].startswith(node):
            continue
        end = i + 1
        while end < len(lines) and _depth(lines[end]) > _depth(line):
            end += 1
        out.append("\n".join(lines[i:end]))
    return out


@pytest.mark.parametrize("name", [
    "embedding_topk", "embedding_ann_lsh", "embedding_ann_ivf",
    "embedding_pq_topk", "embedding_ann_ivfpq", "_exact_l2_topk"])
def test_topk_plans_push_the_rank_down_past_a_broadcast_query_side(spark,
                                                                   name):
    """Every per-query top-k rides WindowGroupLimit (each task ships at most
    k rows per query into the query_id exchange), and the query side of
    the search is a broadcast, so the corpus never shuffles to meet it."""
    if name == "_exact_l2_topk":
        df = ops._exact_l2_topk(ops._emb_fp(spark, SF), ops.ANN_K,
                                ops.ANN_N_QUERIES, 0)
    else:
        df = getattr(ops, name)(spark, SF)
    p = plan_of(df)
    assert "WindowGroupLimit" in p, p
    assert any("query_id" in t
               for t in _subtrees(p, "BroadcastExchange")), p


def test_subtrees_reads_a_plan_tree():
    plan = """Project [a]
+- BroadcastHashJoin [k], [k]
   :- Filter x
   :  +- Scan t
   +- BroadcastExchange Mode
      +- LocalTableScan [query_id, k]
+- Other"""
    assert _subtrees(plan, "BroadcastExchange") == [
        "   +- BroadcastExchange Mode\n      +- LocalTableScan [query_id, k]"]
    assert _subtrees(plan, "Filter") == ["   :- Filter x\n   :  +- Scan t"]


def test_kmeans_update_partial_aggregates_below_exchange(spark):
    """The centroid update must map-side combine: a partial (cell, pos)
    hash aggregate BEFORE the exchange, so the shuffle carries
    partitions*k*dim partial rows, never n*dim exploded rows."""
    embfp = ops._emb_fp(spark, SF)
    cent_rows = [(r["cent_id"], list(r["cx"])) for r in
                 embfp.filter(F.col("vec_id") < ops.KMEANS_K)
                 .select(F.col("vec_id").alias("cent_id"),
                         F.col("x").alias("cx"))
                 .orderBy("cent_id").collect()]
    import re

    p = plan_of(ops._kmeans_update(ops._l2_assign(embfp, cent_rows)))
    # match the INNER (cell, pos) exchange specifically — the outer
    # collect_list exchange shares the "hashpartitioning(cell" prefix and
    # prints first, and its partial_collect_list must not satisfy this pin
    m = re.search(r"Exchange hashpartitioning\(cell#\d+L?, pos#", p)
    assert m, p
    below = p[m.end():]
    assert "partial_sum" in below and "partial_count" in below, p


def test_range_join_never_nested_loop(spark):
    """The bucketed interval join must plan as equi-joins — never the
    BroadcastNestedLoopJoin/CartesianProduct Spark falls back to for raw
    range predicates."""
    p = plan_of(ops.events_range_join(spark, SF))
    assert "NestedLoop" not in p, p
    assert "Cartesian" not in p, p


def test_kmv_rank_k_uses_window_group_limit(spark):
    """The k-th-minimum window must install the map-side per-source top-k
    (WindowGroupLimit) — each upstream task ships k rows per source, the
    distributed sketch-merge shape — and stay Python-free."""
    p = plan_of(ops.corpus_distinct_kmv(spark, SF))
    assert "WindowGroupLimit" in p, p
    assert "Python" not in p, p


def _final_plan(df) -> str:
    """The final adaptive plan of ``df`` after one ``collect()``, with the
    plans of cached relations cut out (they ran when they were cached)."""
    df.collect()
    kept, cut = [], None
    for line in plan_of(df).split("== Initial Plan ==")[0].splitlines():
        # a cached plan prints its own stages without a tree prefix, so
        # it ends at the first line no deeper than its InMemoryRelation
        start = len(line) - len(line.lstrip(" :+-"))
        if cut is not None and start > cut:
            continue
        cut = start if line[start:].startswith("InMemoryRelation") else None
        kept.append(line)
    return "\n".join(kept)


def test_lsh_signature_runs_once_per_join_side(spark):
    """The bucket is a vector-stage column, so the join's inferred
    isnotnull(bucket) filter reads it: one signature pass per side (the
    corpus and the broadcast queries), plus the cosine UDF."""
    p = _final_plan(ops.embedding_ann_lsh(spark, SF))
    assert p.count("MapInArrow") == 2, p
    assert p.count("ArrowEvalPython") == 1, p


@pytest.mark.parametrize("name", [
    "dedup_embedding_cosine", "dedup_embedding_cosine_balanced"])
def test_embedding_dedups_assign_cells_once(spark, name):
    """Both sides of the cell pair join read one cached IVF assignment:
    the op caches one plan holding the assignment stage, and its pair
    plan runs no assignment of its own."""
    n = len(ops._MATERIALIZED)
    p = _final_plan(getattr(ops, name)(spark, SF))
    cached = ops._MATERIALIZED[n:]
    assert len(cached) == 1
    assignment = plan_of(cached[0]).split("== Initial Plan ==")[0]
    assert assignment.count("MapInArrow") == 1, assignment
    assert "MapInArrow" not in p, p
    ops.cleanup_checkpoints()
