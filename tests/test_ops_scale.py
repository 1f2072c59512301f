"""Scale-path behaviors of the curation operators: release of cached
shared intermediates, the hot-shingle and hot-cell caps, IVF codebook
sizing, connected-components convergence, and the Bloom, URL-filter,
line-dedup and PageRank properties."""
import os
import sys

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from htmlparser_spark import ops


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[2]")
         .appName("ops-scale-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
    yield s
    s.stop()


def _write_docs(spark, tmp_path, rows):
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir, exist_ok=True)
    df = spark.createDataFrame(
        [(i, t, len(t), "en", "web") for i, t in enumerate(rows)],
        "doc_id long, text string, n_chars long, lang string, source string")
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    return sf_dir


def _cache_entries(spark):
    """Entries in the session's CacheManager: one per distinct cached plan
    (``cache()`` of a plan already cached adds none)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_cleanup_releases_every_materialized_frame(spark, tmp_path):
    """The two CC dedups share one cached MinHash pair set through the
    CacheManager, and cleanup_checkpoints() releases every frame
    _materialized cached; a DataFrame already returned recomputes what it
    read from the cache."""
    words = [f"w{i}" for i in range(40)]
    rows = [" ".join(words), " ".join(words[:39] + ["altword"]),
            "totally different words here one two three four five six"]
    sf_dir = _write_docs(spark, tmp_path, rows)
    ops.cleanup_checkpoints()
    assert _cache_entries(spark) == 0

    cc = ops.dedup_cluster_cc(spark, sf_dir)
    cc_rows = sorted(map(tuple, cc.collect()))
    n = _cache_entries(spark)
    assert n > 0
    best = ops.dedup_cluster_keep_best(spark, sf_dir)
    best_rows = sorted(map(tuple, best.collect()))
    assert _cache_entries(spark) == n  # the pair set is not cached twice
    assert len(cc_rows) == 3 and len(best_rows) == 3
    assert sum(r[-1] for r in cc_rows) == 2  # the near-dup pair is one cluster

    released = ops.cleanup_checkpoints()
    assert _cache_entries(spark) == 0
    assert released > 0
    assert ops.cleanup_checkpoints() == 0  # idempotent
    assert sorted(map(tuple, cc.collect())) == cc_rows
    assert sorted(map(tuple, best.collect())) == best_rows


def test_ivf_codebook_scales_with_corpus(spark, tmp_path):
    """The √n IVF design (the round-1 scale fix): centroid count must grow
    past the 16 floor once n > 256, and no cell may collect more than a
    small multiple of √n vectors — pins the 100 TB cell-population shape
    against regression to a fixed codebook."""
    import numpy as np

    n, dim = 400, 16
    rng = np.random.RandomState(7)
    vecs = rng.randn(n, dim)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, v array<double>")

    n_cent = ops._ivf_n_centroids(n)
    assert n_cent == 20  # ceil(sqrt(400)) > the 16 floor
    assert ops._ivf_n_centroids(4 * n) == 40  # grows as sqrt

    cents = (emb.filter(emb.vec_id < n_cent)
             .select(emb.vec_id.alias("cent_id"), emb.v.alias("cv")))
    assigned = ops._ivf_assign(emb, cents)
    sizes = {r["cell"]: r["n"] for r in
             assigned.groupBy("cell").count().withColumnRenamed(
                 "count", "n").collect()}
    assert sum(sizes.values()) == n  # every vector assigned exactly once
    assert len(sizes) > 10  # gaussian vectors spread across the codebook
    # no cell may hoard: bound at 6·√n (expected population is n/ncells ≈ √n)
    assert max(sizes.values()) <= 6 * int(n ** 0.5), sizes


def test_jaccard_hot_shingle_cap_drops_ubiquitous_shingles(spark, tmp_path):
    """A shingle present in more than SHINGLE_DF_CAP docs must not create
    candidate pairs on its own (the f² pair-blowup guard). The boilerplate
    docs are that one 3-gram and nothing else, so without the cap every
    pair of them scores Jaccard 1 — far above JACCARD_THRESHOLD."""
    hot = "common boiler plate"  # the one 3-gram of each boilerplate doc
    n = ops.SHINGLE_DF_CAP + 5
    rows = [hot] * n
    # plus one true near-dup pair sharing rare shingles (Jaccard 7/9)
    rows += ["rare one two three four five six seven eight nine",
             "rare one two three four five six seven eight ten"]
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = ops.dedup_ngram_jaccard(spark, sf_dir).collect()
    pairs = {(r.doc_a, r.doc_b) for r in got}
    # the hot shingle alone must not connect the n boilerplate docs
    assert all(a >= n or b >= n for a, b in pairs), pairs
    assert (n, n + 1) in pairs  # the genuine near-dup pair survives


def test_cc_converges_logarithmically_on_long_chain(spark):
    """The alternating large-star/small-star algorithm must converge in
    O(log n) rounds, NOT O(diameter): a 256-node path (diameter 255 — the
    worst case for naive min-label propagation, which needs ~255 rounds)
    must finish within 12 rounds, with every node labeled by the chain
    minimum. This pins the property that makes CC affordable at corpus
    scale, where a round is a full shuffle of the pair set."""
    n = 256
    pairs = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    labels = {r.doc_id: r.cluster_id
              for r in ops._cc_labels(df, max_iters=12).collect()}
    assert all(labels.get(i, i) == 0 for i in range(n))


def test_cc_handles_high_degree_hub(spark):
    """A 500-leaf star (one hot node) must not blow up pair counts or
    rounds — stars are the CONVERGED form, so 2-3 rounds suffice."""
    pairs = [(0, i) for i in range(1, 501)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    labels = {r.doc_id: r.cluster_id
              for r in ops._cc_labels(df, max_iters=4).collect()}
    assert all(labels.get(i, i) == 0 for i in range(501))


def test_bloom_never_false_negative(spark, tmp_path):
    """Bloom guarantee: every exact duplicate of history MUST test
    positive (maybe_dup ⊇ is_dup); uniques may false-positive but the
    ground-truth column separates them."""
    # doc_id % 5 == 0 is the new batch; give ids 0,5,10 history twins and
    # ids 15,20 fresh content
    rows = {0: "alpha beta gamma", 5: "delta epsilon zeta",
            10: "eta theta iota", 15: "totally new content one",
            20: "totally new content two",
            1: "alpha beta gamma", 2: "delta epsilon zeta",
            3: "eta theta iota", 4: "other history doc",
            6: "more history text"}
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(
        [(i, t, len(t), "en", "web") for i, t in sorted(rows.items())],
        "doc_id long, text string, n_chars long, lang string, source string"
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    got = {r.doc_id: r for r in ops.dedup_bloom(spark, sf_dir).collect()}
    assert set(got) == {0, 5, 10, 15, 20}
    for i in (0, 5, 10):
        assert got[i].is_dup == 1 and got[i].maybe_dup == 1, got[i]
    for i in (15, 20):
        assert got[i].is_dup == 0  # maybe_dup may be 0 or a rare FP


def test_url_filter_each_rule_fires(spark, tmp_path):
    """Every rule class fires on its residue and a clean doc keeps."""
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir, exist_ok=True)
    docs = [(1, "clean", "srcA"), (11, "tagpath", "srcA"),
            (13, "params", "srcA"), (17, "digits", "srcA"),
            (23, "long", "srcA"), (2, "blocked", "src3")]
    spark.createDataFrame(
        [(i, t, len(t), "en", s) for i, t, s in docs],
        "doc_id long, text string, n_chars long, lang string, source string"
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    got = {r.doc_id: r for r in ops.corpus_url_filter(spark, sf_dir).collect()}
    assert got[1].keep == 1 and got[1].reject_reasons == ""
    assert got[11].reject_reasons == "path_keyword"
    assert got[13].reject_reasons == "too_many_params"
    assert got[17].reject_reasons == "digit_heavy"
    assert got[23].reject_reasons == "too_long"
    assert got[2].reject_reasons == "blocklist"
    assert all(got[i].keep == 0 for i in (11, 13, 17, 23, 2))


def test_line_dedup_removes_global_boilerplate(spark, tmp_path):
    """A 10-word chunk repeated across >= 3 docs is removed from ALL of
    them; unique chunks survive byte-exact."""
    import hashlib
    banner = "accept cookies to continue using this site thank you kindly"
    uniq = ["u{0}a u{0}b u{0}c u{0}d u{0}e u{0}f u{0}g u{0}h u{0}i u{0}j"
            .format(i) for i in range(4)]
    rows = [f"{banner} {uniq[i]}" for i in range(3)] + [uniq[3]]
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = {r.doc_id: r for r in ops.text_line_dedup(spark, sf_dir).collect()}
    for i in range(3):
        assert got[i].n_lines == 2 and got[i].n_removed_lines == 1
        assert got[i].clean_md5 == hashlib.md5(
            uniq[i].encode()).hexdigest()  # banner gone, unique tail kept
    assert got[3].n_removed_lines == 0
    assert got[3].clean_md5 == hashlib.md5(uniq[3].encode()).hexdigest()


def test_pagerank_fixed_point_properties(spark, tmp_path):
    """Fixed-point PageRank invariants: determinism across runs (integer
    arithmetic), total mass bounded by the scale unit, every host at
    least the teleport term."""
    rows = [f"doc for host {i}" for i in range(6)]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(
        [(i, t, len(t), "en", f"h{i % 6}") for i, t in enumerate(rows)],
        "doc_id long, text string, n_chars long, lang string, source string"
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    a = sorted((r.host, r.rank_fp)
               for r in ops.host_pagerank(spark, sf_dir).collect())
    b = sorted((r.host, r.rank_fp)
               for r in ops.host_pagerank(spark, sf_dir).collect())
    assert a == b  # bit-identical re-run
    n = 6
    base = (ops.PR_SCALE * 15 // 100) // n
    assert all(r >= base for _h, r in a)
    assert sum(r for _h, r in a) <= ops.PR_SCALE  # mass never created


TESTDATA_SF = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def test_ivf_hot_cell_split_bounds_tasks_and_keeps_pairs(spark):
    """Clustered corpora make argmax IVF assignment skewed (hot blob-aligned
    cells → straggler tasks in within-cell pair joins at 100 TB). The
    oversized-cell hash split must (a) bound every (cell, sub) population,
    and (b) emit the EXACT pair set of the plain within-cell self-join —
    no pair lost, no pair duplicated."""
    from pyspark.sql import functions as F

    max_cell = 16
    emb = ops._emb_clustered(spark, TESTDATA_SF)
    n_cent = ops._ivf_n_centroids(ops._emb_count(spark, TESTDATA_SF))
    cents = (emb.filter(F.col("vec_id") < n_cent)
             .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")))
    assigned = ops._materialized(ops._ivf_assign(emb, cents))

    pops = {r["cell"]: r["pop"] for r in ops._cell_pops(assigned).collect()}
    mean = sum(pops.values()) / len(pops)
    assert max(pops.values()) > 2 * mean  # the skew this test is about is real

    sub_pops = (ops._with_subcells(assigned, max_cell)
                .groupBy("cell", "sub").count().collect())
    assert max(r["count"] for r in sub_pops) <= 2 * max_cell
    # every oversized cell actually split
    n_sub = {}
    for r in sub_pops:
        n_sub[r["cell"]] = max(n_sub.get(r["cell"], 0), r["sub"] + 1)
    for cell, pop in pops.items():
        if pop > max_cell:
            assert n_sub[cell] > 1, f"hot cell {cell} (pop {pop}) not split"

    plain = sorted(
        (r["vec_a"], r["vec_b"])
        for r in assigned.select("cell", F.col("vec_id").alias("vec_a"),
                                 F.col("v").alias("va"))
        .join(assigned.select("cell", F.col("vec_id").alias("vec_b")), "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b").collect())
    balanced = sorted(
        (r["vec_a"], r["vec_b"])
        for r in ops._cell_pairs_balanced(assigned, max_cell)
        .select("vec_a", "vec_b").collect())
    assert balanced == plain          # exact: nothing lost, nothing added
    assert len(balanced) == len(set(balanced))  # and no duplicates
    ops.cleanup_checkpoints()


def test_embedding_cosine_balanced_pairs_equal_plain_join(spark):
    """dedup_embedding_cosine's plain within-cell join and the split join
    (_cell_pairs_balanced) keep the identical near-dup pair set on the
    uniform embeddings: the split only changes task granularity."""
    emb = ops._emb(spark, TESTDATA_SF)
    cents = ops._ivf_centroids(
        emb, ops._ivf_n_centroids(ops._emb_count(spark, TESTDATA_SF)))
    pairs = ops._cell_pairs_balanced(ops._ivf_assign(emb, cents), 8)
    bal = sorted(map(tuple, ops._cosine_dups(
        pairs, ops.COSINE_DUP_THRESHOLD).collect()))
    base = sorted(map(tuple,
                      ops.dedup_embedding_cosine(spark, TESTDATA_SF).collect()))
    assert bal == base and base


@pytest.mark.parametrize("seed,n,n_cells,max_cell", [
    (0, 30, 2, 3),    # tiny cells, aggressive split
    (1, 60, 3, 5),
    (2, 50, 1, 7),    # ONE cell holding everything
    (3, 40, 5, 1),    # max_cell=1: every cell splits to ~pop sub-cells
    (4, 80, 4, 100),  # cap never reached: no cell splits at all
])
def test_cell_pairs_balanced_property(spark, seed, n, n_cells, max_cell):
    """Parameter sweep of the skew-split pair join's exactness: random cell
    assignments, degenerate shapes included (single mega-cell, max_cell=1,
    cap-never-hit). The balanced join must equal the plain within-cell
    self-join's pair set with zero duplicates in every configuration."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(seed)
    # v encodes the id so the schema contract is checkable: va must be
    # vec_a's vector and vb vec_b's (ADVICE r4: the cross-sub branch once
    # canonicalized the ids but left the vectors in join order)
    rows = [(i, [float(i)], rng.randrange(n_cells)) for i in range(n)]
    assigned = spark.createDataFrame(
        rows, "vec_id long, v array<double>, cell long")

    plain = sorted(
        (r["vec_a"], r["vec_b"]) for r in
        assigned.select("cell", F.col("vec_id").alias("vec_a"))
        .join(assigned.select("cell", F.col("vec_id").alias("vec_b")), "cell")
        .filter(F.col("vec_a") < F.col("vec_b")).collect())
    got = ops._cell_pairs_balanced(assigned, max_cell).collect()
    bal = [(r["vec_a"], r["vec_b"]) for r in got]
    assert sorted(bal) == plain
    assert len(bal) == len(set(bal))
    for r in got:
        assert r["va"] == [float(r["vec_a"])]
        assert r["vb"] == [float(r["vec_b"])]


def test_cluster_keep_best_picks_quality_maximum(spark):
    """dedup_cluster_keep_best must produce the SAME clustering as
    dedup_cluster_cc and elect exactly one keeper per cluster — the
    member maximizing (rounded quality_score, -doc_id)."""
    sf = "/root/testdata/sf0.001"
    cc = {r.doc_id: r.cluster_id
          for r in ops.dedup_cluster_cc(spark, sf).collect()}
    rows = ops.dedup_cluster_keep_best(spark, sf).collect()
    assert {r.doc_id: r.cluster_id for r in rows} == cc
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for members in by_cluster.values():
        keepers = [r for r in members if r.keep == 1]
        assert len(keepers) == 1
        best = max(members, key=lambda r: (r.quality_score, -r.doc_id))
        assert keepers[0].doc_id == best.doc_id
