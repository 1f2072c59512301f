"""Property tests for the event-stream/corpus relational ops: the Spark
implementations must match straightforward pure-Python references on
randomized (seeded) inputs — shapes the sf tables don't necessarily hit
(ties, empty users, straddling sessions, customers with no orders)."""
import datetime
import os
import random
import sys

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from htmlparser_spark import ops

EPOCH = datetime.datetime(2024, 1, 1)


def _us(delta: datetime.timedelta) -> int:
    """Exact integer microseconds (total_seconds() is a float and drops
    the odd microsecond on large spans)."""
    return (delta.days * 86_400_000_000 + delta.seconds * 1_000_000
            + delta.microseconds)


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[4]")
         .appName("ops-property-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
    yield s
    s.stop()


def _sf_dir(spark, tmp_path, **tables):
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    for name, (rows, schema) in tables.items():
        spark.createDataFrame(rows, schema).write.mode("overwrite") \
            .parquet(os.path.join(d, f"{name}.parquet"))
    return d


def test_sessionize_matches_python_reference(spark, tmp_path):
    rng = random.Random(11)
    rows = []
    eid = 0
    for user in range(6):
        t = 0
        for _ in range(rng.randint(0, 40)):
            # mix sub-gap and super-gap deltas, microsecond precision,
            # including EXACTLY the 30-min boundary (gap > threshold rule)
            t += rng.choice([1, 1_000_000, 1800 * 1_000_000,
                             1800 * 1_000_000 + 1, 7200 * 1_000_000])
            rows.append((eid, EPOCH + datetime.timedelta(microseconds=t),
                         user, "c", 1.0, ""))
            eid += 1
    sf = _sf_dir(spark, tmp_path, events=(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string"))

    got = {(r.user_id, r.session_id): (r.n_events, r.duration_us)
           for r in ops.events_sessionize(spark, sf).collect()}

    # python reference: split at gap > 30 min, sessions numbered from 1
    expect = {}
    by_user = {}
    for e_id, ts, user, *_ in rows:
        by_user.setdefault(user, []).append((ts, e_id))
    for user, evs in by_user.items():
        evs.sort()
        sess, cur = [], []
        for ts, e_id in evs:
            if cur and _us(ts - cur[-1][0]) > ops.SESSION_GAP_US:
                sess.append(cur)
                cur = []
            cur.append((ts, e_id))
        if cur:
            sess.append(cur)
        for i, s in enumerate(sess, start=1):
            dur = _us(s[-1][0] - s[0][0])
            expect[(user, i)] = (len(s), dur)
    assert got == expect


def test_asof_join_matches_python_reference(spark, tmp_path):
    rng = random.Random(7)
    events = [(i, EPOCH + datetime.timedelta(seconds=rng.randint(0, 5000)),
               rng.randint(0, 9), "c", 1.0, "")
              for i in range(120)]
    # customers 8,9 get no orders; include equal-timestamp order ties
    orders = []
    for ok in range(60):
        cust = rng.randint(0, 7)
        od = EPOCH + datetime.timedelta(seconds=rng.choice([0, 100, 100, 2500,
                                                            2500, 4000]))
        orders.append((ok, cust, "O", 1.0, od, "p", 0, "x"))
    sf = _sf_dir(
        spark, tmp_path,
        events=(events, "event_id long, ts timestamp_ntz, user_id long, "
                        "event_type string, value double, props string"),
        orders=(orders, "o_orderkey long, o_custkey long, o_orderstatus "
                        "string, o_totalprice double, o_orderdate "
                        "timestamp_ntz, o_orderpriority string, o_shippriority"
                        " long, o_comment string"))

    got = {r.event_id: (r.last_orderkey, r.last_orderdate)
           for r in ops.asof_join_latest_order(spark, sf).collect()}

    for e_id, ts, user, *_ in events:
        cand = [(od, ok) for ok, cust, _s, _p, od, *_ in orders
                if cust == user and od <= ts]
        if cand:
            od, ok = max(cand)  # latest date; max orderkey breaks ties
            assert got[e_id] == (ok, od), e_id
        else:
            assert got[e_id] == (None, None), e_id


def test_pack_sequences_contiguous_per_shard(spark, tmp_path):
    rng = random.Random(3)
    docs = [(i, " ".join("w" for _ in range(rng.randint(0, 900))),
             0, "en", "web") for i in range(300)]
    sf = _sf_dir(spark, tmp_path, documents=(
        docs, "doc_id long, text string, n_chars long, lang string, "
              "source string"))
    rows = ops.corpus_pack_sequences(spark, sf).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(rows) == len(docs)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:  # token stream is contiguous in doc_id order
            assert r.start_tok == cum, (shard, r)
            assert r.seq_first == r.start_tok // ops.PACK_BUDGET
            end = max(r.start_tok + r.n_tokens - 1, r.start_tok - 1)
            assert r.seq_last == end // ops.PACK_BUDGET
            cum += r.n_tokens


def _cc_python(pairs, nodes):
    """Union-find reference: min doc_id per component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress everything to the component min
    return {n: find(n) for n in nodes}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_cc_labels_match_union_find(spark, seed):
    """large-star/small-star must agree with a union-find reference on
    random graphs (chains, stars, multi-component, isolated pairs)."""
    rng = random.Random(seed)
    n = 60
    pairs = set()
    # random sparse edges + one long chain (worst case for naive label
    # propagation: diameter ~ n)
    for _ in range(40):
        a, b = rng.sample(range(n), 2)
        pairs.add((min(a, b), max(a, b)))
    chain = rng.sample(range(n, n + 20), 20)
    for a, b in zip(chain, chain[1:]):
        pairs.add((min(a, b), max(a, b)))
    nodes = sorted({x for p in pairs for x in p})
    expect = _cc_python(pairs, nodes)

    df = spark.createDataFrame(sorted(pairs), "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in ops._cc_labels(df).collect()}
    # _cc_labels only emits non-root nodes of multi-node components plus
    # roots-as-children never appear; fill roots/singletons like the op does
    for node in nodes:
        assert got.get(node, node) == expect[node], (node, seed)


def test_cc_labels_empty_and_single_pair(spark):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert ops._cc_labels(empty).count() == 0
    one = spark.createDataFrame([(7, 3)], "doc_a long, doc_b long")
    rows = {r["doc_id"]: r["cluster_id"] for r in ops._cc_labels(one).collect()}
    assert rows == {7: 3}


DOC_SCHEMA = ("doc_id long, text string, n_chars long, lang string, "
              "source string")


def _doc(i, text):
    return (i, text, len(text), "en", "web")


def test_dedup_incremental_edge_shapes(spark, tmp_path):
    """New batch = doc_id % 5 == 0. Exact copy of a historical doc must be
    flagged with dup_of = that doc; unique and zero-shingle new docs pass
    clean; output covers exactly the new batch."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        _doc(1, base),                      # history
        _doc(2, "one two three four five six seven"),   # history
        _doc(5, base),                      # new: exact dup of 1
        _doc(10, "totally different words nothing shared here at all"),
        _doc(15, ""),                       # new: zero shingles
        _doc(20, base),                     # new: dup of 1 too
    ]
    sf = _sf_dir(spark, tmp_path, documents=(docs, DOC_SCHEMA))
    got = {r.doc_id: (r.dup_of, r.is_dup)
           for r in ops.dedup_incremental(spark, sf).collect()}
    assert set(got) == {5, 10, 15, 20}   # exactly the new batch
    assert got[5] == (1, 1)
    assert got[20] == (1, 1)
    assert got[10] == (None, 0)
    assert got[15] == (None, 0)


def test_decontaminate_flags_only_real_overlap(spark, tmp_path):
    """Eval set = doc_id % 50 == 0. A training doc sharing a 4-gram with an
    eval doc is flagged with the DISTINCT shared-gram count; short docs
    (<4 words) and clean docs never appear; eval docs never appear."""
    ev_text = "red green blue yellow purple"          # doc 0: eval
    docs = [
        _doc(0, ev_text),
        # shares BOTH 4-grams of doc 0 exactly once each
        _doc(1, "red green blue yellow purple and more tail words"),
        # shares one 4-gram, repeated — distinct count must still be 1
        _doc(2, "x red green blue yellow z red green blue yellow"),
        _doc(3, "red green blue"),                    # <4 words: never
        _doc(4, "completely unrelated text with many boring words"),
        _doc(50, ev_text),                            # eval too: excluded
    ]
    sf = _sf_dir(spark, tmp_path, documents=(docs, DOC_SCHEMA))
    got = {r.doc_id: r.n_shared
           for r in ops.corpus_decontaminate(spark, sf).collect()}
    assert got == {1: 2, 2: 1}


def test_url_dedup_canonicalization(spark, tmp_path):
    # doc_ids chosen to hit every variant class; same (source, doc_id % 50)
    # must collapse to one canonical URL regardless of the mess
    ids = [0, 3, 4, 5, 6, 7, 9, 50, 100, 150, 300, 53, 103]
    rows = [(i, "t", "en", "srcA", 1) for i in ids]
    d = _sf_dir(spark, tmp_path,
                documents=(rows, "doc_id long, text string, lang string, "
                                 "source string, n_chars int"))
    out = {r["canonical_url"]: r for r in
           ops.corpus_url_dedup(spark, d).collect()}
    for u in out:
        assert u.startswith("http://"), u          # scheme lowercased
        assert ".example.com" in u and u == u.lower() or "?id=" in u, u
        assert ":80" not in u and "#" not in u, u  # port + fragment gone
        assert "utm_" not in u, u                  # tracking params gone
        assert not u.endswith("/") and not u.endswith("?"), u
    # 0, 50, 100, 150, 300 all → /p/0 ; 3,53,103 → /p/3
    assert out["http://srca.example.com/p/0"]["n_variants"] == 5
    assert out["http://srca.example.com/p/0"]["keeper_id"] == 0
    assert out["http://srca.example.com/p/3"]["n_variants"] == 3
    # a real (non-tracking) param survives: 9 % 9 == 0 → ?id=7 kept
    assert "http://srca.example.com/p/9?id=7" in out


def _scrub_reference(docs):
    """Pure-Python mirror of text_span_scrub semantics."""
    import hashlib
    words = {d: [w for w in t.split(" ") if w] for d, t in docs}
    span_docs, wins = {}, []
    for d, ws in sorted(words.items()):
        if len(ws) >= 16:
            for i in range((len(ws) - 16) // 8 + 1):
                span = " ".join(ws[i * 8:i * 8 + 16])
                span_docs.setdefault(span, set()).add(d)
                wins.append((d, i, span))
    keeper = {s: min(ds) for s, ds in span_docs.items() if len(ds) >= 2}
    rm = {}
    for d, i, s in wins:
        if s in keeper and d != keeper[s]:
            rm.setdefault(d, set()).update(range(i * 8, i * 8 + 16))
    out = {}
    for d, ws in words.items():
        kept = [w for j, w in enumerate(ws) if j not in rm.get(d, set())]
        out[d] = (len(ws), len(ws) - len(kept),
                  hashlib.md5(" ".join(kept).encode()).hexdigest())
    return out


def test_span_scrub_matches_python_reference(spark, tmp_path):
    rng = random.Random(23)
    vocab = [f"w{k}" for k in range(8)]  # tiny vocab → real collisions
    docs = []
    shared = " ".join(rng.choice(vocab) for _ in range(24))
    for d in range(30):
        n = rng.choice([0, 5, 16, 17, 24, 40, 64])
        t = " ".join(rng.choice(vocab) for _ in range(n))
        if d % 3 == 0:  # plant a guaranteed cross-doc duplicate run
            t = (t + " " + shared).strip()
        docs.append((d, t))
    sf = _sf_dir(spark, tmp_path,
                 documents=([(d, t, "en", "s", len(t)) for d, t in docs],
                            "doc_id long, text string, lang string, "
                            "source string, n_chars int"))
    got = {r["doc_id"]: (r["n_words"], r["n_removed"], r["clean_md5"])
           for r in ops.text_span_scrub(spark, sf).collect()}
    assert got == _scrub_reference(docs)
    # keepers really keep: at least one doc with a planted dup removed 0
    assert any(v[1] > 0 for v in got.values())
    assert any(d % 3 == 0 and got[d][1] == 0 for d in got)


def test_dsir_weights_rank_target_vocab_higher(spark, tmp_path):
    # en docs speak vocab A, fr docs vocab B; two unlabeled probes (lang
    # 'xx' so they sit only in the raw pool) must rank A-probe > B-probe
    a = "alpha beta gamma delta epsilon zeta"
    b = "uno dos tres cuatro cinco seis"
    rows = [(i, a, "en", "s", 1) for i in range(20)]
    rows += [(100 + i, b, "fr", "s", 1) for i in range(20)]
    rows += [(900, a, "xx", "s", 1), (901, b, "xx", "s", 1)]
    sf = _sf_dir(spark, tmp_path,
                 documents=(rows, "doc_id long, text string, lang string, "
                                  "source string, n_chars int"))
    got = {r["doc_id"]: r for r in ops.text_dsir_weights(spark, sf).collect()}
    assert got[900]["dsir_weight"] > got[901]["dsir_weight"]
    assert got[900]["n_grams"] == 6 + 5  # uni + bigrams
    en_mean = sum(got[i]["dsir_weight"] for i in range(20)) / 20
    fr_mean = sum(got[100 + i]["dsir_weight"] for i in range(20)) / 20
    assert en_mean > 0 > fr_mean


def test_mix_temperature_flattens_sources(spark, tmp_path):
    rows = []
    for src, n in (("big", 400), ("mid", 100), ("tiny", 25)):
        base = {"big": 0, "mid": 10000, "tiny": 20000}[src]
        rows += [(base + i, "t", "en", src, 1) for i in range(n)]
    sf = _sf_dir(spark, tmp_path,
                 documents=(rows, "doc_id long, text string, lang string, "
                                  "source string, n_chars int"))
    out = ops.corpus_mix_temperature(spark, sf).collect()
    kept = {}
    thr = {}
    for r in out:
        kept[r["source"]] = kept.get(r["source"], 0) + 1
        thr[r["source"]] = r["keep_thr"]
    # T=2 flattening: smaller sources keep a HIGHER fraction
    assert thr["tiny"] > thr["mid"] > thr["big"]
    assert kept["tiny"] / 25 > kept["big"] / 400
    # budget respected in expectation: thresholds encode rates whose
    # weighted sum is the 0.5*N budget (up to the min(1,·) cap)
    expected = sum(min(t, 10**6) / 10**6 * n
                   for t, n in ((thr["big"], 400), (thr["mid"], 100),
                                (thr["tiny"], 25)))
    assert expected <= 0.5 * 525 + 1e-6
    # determinism
    out2 = ops.corpus_mix_temperature(spark, sf).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_lm_perplexity_scores_target_vocab_lower(spark, tmp_path):
    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "uno dos tres cuatro cinco seis siete ocho"
    rows = [(i, a, "en", "s", 1) for i in range(10)]
    rows += [(900, a, "xx", "s", 1), (901, b, "xx", "s", 1)]
    sf = _sf_dir(spark, tmp_path,
                 documents=(rows, "doc_id long, text string, lang string, "
                                  "source string, n_chars int"))
    got = {r["doc_id"]: r for r in
           ops.text_lm_perplexity(spark, sf).collect()}
    # in-LM vocab → fewer bits → lower perplexity than unseen vocab
    assert got[900]["h_bits"] < got[901]["h_bits"]
    assert got[900]["ppl"] < got[901]["ppl"]
    # ppl is a pure function of the ROUNDED bits (cross-engine contract)
    for r in got.values():
        assert r["ppl"] == round(2.0 ** r["h_bits"], 4)
        assert r["n_tokens"] == 8


def test_curation_pipeline_composes_all_gates(spark):
    sf = "/root/testdata/sf0.01"
    out = ops.corpus_curation_pipeline(spark, sf).collect()
    assert out, "curation must keep something at sf0.01"
    kept = {r["doc_id"] for r in out}
    # every survivor passes each stage's own gate
    qf = {r["doc_id"] for r in ops.corpus_quality_filter(spark, sf).collect()}
    urlkeep = {r["keeper_id"] for r in
               ops.corpus_url_dedup(spark, sf).collect()}
    contaminated = {r["doc_id"] for r in
                    ops.corpus_decontaminate(spark, sf).collect()}
    assert kept <= qf and kept <= urlkeep
    assert not (kept & contaminated)
    per_host = {}
    for r in out:
        per_host.setdefault(r["source"], []).append(r["host_rank"])
        assert 1 <= r["host_rank"] <= ops.HOST_CAP
    for ranks in per_host.values():  # ranks are dense from 1
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_gopher_rules_fire_per_dimension(spark, tmp_path):
    stop_rich = ("the be to of and that have with " * 7).strip()  # 56 words
    docs = [
        (0, stop_rich, "en", "src0", len(stop_rich)),          # passes all
        (1, "short doc only", "en", "src1", 14),               # word_count+stopwords
        (2, stop_rich + " " + "#" * 9 + " ... ... ...", "en", "src2", 1),
        (3, ("the of " + "1 2 3 4 5 6 " * 10).strip(), "en", "src3", 1),
        (4, ("the of " + "extraordinarily " * 60).strip(), "en", "src4", 1),
        (5, "\n".join(["- item one", "- item two", "* item three"]),
         "en", "src5", 1),                                 # 100% bullet lines
        (6, stop_rich + "\n" + "\n".join(
            ["read more...", "continued…", "the end of that story"]),
         "en", "src6", 1),                                 # 50% ellipsis lines
    ]
    d = _sf_dir(spark, tmp_path, documents=(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"))
    got = {r["doc_id"]: r for r in ops.text_gopher_rules(spark, d).collect()}
    assert got[0]["reject_reasons"] == "" and got[0]["keep"] == 1
    assert "word_count" in got[1]["reject_reasons"]
    assert "stopwords" in got[1]["reject_reasons"]
    assert "symbol_ratio" in got[2]["reject_reasons"]
    assert "alpha_frac" in got[3]["reject_reasons"]       # digit-heavy words
    assert "mean_word_len" in got[4]["reject_reasons"]    # awl > 10
    assert got[2]["symbol_ratio"] > 0.1 and got[3]["alpha_frac"] < 0.8
    assert "bullet_lines" in got[5]["reject_reasons"]
    assert got[5]["bullet_line_frac"] == 1.0
    assert "ellipsis_lines" in got[6]["reject_reasons"]
    assert got[6]["ellipsis_line_frac"] == 0.5
    assert "bullet_lines" not in got[6]["reject_reasons"]


def test_robots_longest_match_and_tie_semantics(spark, tmp_path):
    # doc 91 -> src11 (/p/9 Disallow AND /p/91 Allow match; longer wins)
    # doc 94 -> src14 (/p/9 Disallow only), doc 0 -> src0 /tag/ Disallow,
    # doc 1 -> src1 no matching rule, doc 5 -> unknown host (no rules row)
    rows = [(91, "t", "en", "src11", 1), (94, "t", "en", "src14", 1),
            (0, "t", "en", "src0", 1), (1, "t", "en", "src1", 1),
            (5, "t", "en", "zzz", 1)]
    d = _sf_dir(spark, tmp_path, documents=(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"))
    got = {r["doc_id"]: r for r in
           ops.corpus_robots_filter(spark, d).collect()}
    assert (got[91]["allowed"], got[91]["best_prefix_len"],
            got[91]["n_rules_matched"]) == (1, 5, 2)  # Allow /p/91 overrides
    assert (got[94]["allowed"], got[94]["best_prefix_len"]) == (0, 4)
    assert got[0]["allowed"] == 0 and got[0]["path"] == "/tag/0"
    assert got[1]["allowed"] == 1 and got[1]["n_rules_matched"] == 0
    assert got[5]["allowed"] == 1 and got[5]["n_rules_matched"] == 0


def test_range_join_matches_python_reference(spark, tmp_path):
    """The bucketed interval join must equal a brute-force reference on
    random events, including clicks placed EXACTLY on both window
    boundaries (lower inclusive, upper exclusive) and purchases whose
    look-back spans a bucket edge."""
    rng = random.Random(29)
    W = ops.RANGE_WINDOW_MIN * 60 * 1_000_000
    rows, eid = [], 0
    for user in range(5):
        for _ in range(rng.randint(5, 25)):
            t = rng.randrange(0, 6 * W)
            typ = rng.choice(["purchase", "click", "view"])
            rows.append((eid, EPOCH + datetime.timedelta(microseconds=t),
                         user, typ, 1.0, ""))
            eid += 1
    # boundary pins on a dedicated user: click at exactly p−W (IN) and at
    # exactly p (OUT — strict upper bound)
    p_t = 3 * W + 12345
    boundary_purchase = eid
    for t, typ in ((p_t, "purchase"), (p_t - W, "click"), (p_t, "click")):
        rows.append((eid, EPOCH + datetime.timedelta(microseconds=t),
                     7, typ, 1.0, ""))
        eid += 1
    sf = _sf_dir(spark, tmp_path, events=(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string"))

    got = {r.purchase_id: (r.n_clicks, r.min_gap_us)
           for r in ops.events_range_join(spark, sf).collect()}

    clicks = {}
    for e, t, u, typ, *_ in rows:
        if typ == "click":
            clicks.setdefault(u, []).append(_us(t - EPOCH))
    want = {}
    for e, t, u, typ, *_ in rows:
        if typ != "purchase":
            continue
        pt = _us(t - EPOCH)
        gaps = [pt - ct for ct in clicks.get(u, []) if pt - W <= ct < pt]
        want[e] = (len(gaps), min(gaps) if gaps else None)
    assert got == want
    assert got[boundary_purchase] == (1, W)  # only the p−W click counts


def test_kmv_sketch_matches_python_reference(spark):
    """The KMV distinct sketch must be bit-identical to a pure-python
    replica (portable hash, k-th smallest distinct, floored estimate)."""
    import hashlib

    import pandas as pd

    sf = "/root/testdata/sf0.001"
    pdf = pd.read_parquet(os.path.join(sf, "documents.parquet"),
                          columns=["source", "text"])
    by_src = {}
    for src, text in zip(pdf["source"], pdf["text"]):
        h = int(hashlib.md5(f"kmv:{text}".encode()).hexdigest()[:8], 16)
        by_src.setdefault(src, set()).add(h)
    k = ops.KMV_K
    want = {}
    for src, hs in by_src.items():
        ordered = sorted(hs)
        if len(ordered) >= k:
            kth = ordered[k - 1]
            est = int((k - 1) * 2.0 ** 32 / kth)
            want[src] = (len(ordered), kth, est)
        else:
            want[src] = (len(ordered), None, len(ordered))
    got = {r.source: (r.n_exact, r.kth_min, r.est_distinct)
           for r in ops.corpus_distinct_kmv(spark, sf).collect()}
    assert got == want
    # the sketch must actually estimate: every group here has >= k distinct
    for src, (n, kth, est) in got.items():
        assert kth is not None and est > 0


def test_kmv_under_k_groups_fall_back_to_exact(spark, tmp_path):
    """A source with fewer than k distinct documents has no k-th minimum:
    kth_min must be NULL and the estimate must equal the exact count."""
    rows = [(i, "tiny", f"doc {i}", "en") for i in range(ops.KMV_K - 3)]
    rows += [(100 + i, "big", f"text {i} " * 3, "en")
             for i in range(ops.KMV_K + 9)]
    sf = _sf_dir(spark, tmp_path, documents=(
        rows, "doc_id long, source string, text string, lang string"))
    got = {r.source: (r.n_exact, r.kth_min, r.est_distinct)
           for r in ops.corpus_distinct_kmv(spark, sf).collect()}
    n_tiny = ops.KMV_K - 3
    assert got["tiny"] == (n_tiny, None, n_tiny)
    n_big, kth, est = got["big"]
    assert n_big == ops.KMV_K + 9 and kth is not None and est > 0


def test_badwords_filter_matches_python_reference(spark, monkeypatch):
    """Integer keep rule (n_blocked*100 <= n_words*max_pct) vs a pure
    python recount on the real table; both keep and drop sides non-empty
    so the threshold actually discriminates on this corpus."""
    import pandas as pd

    sf = "/root/testdata/sf0.001"
    pdf = pd.read_parquet(os.path.join(sf, "documents.parquet"),
                          columns=["doc_id", "text"])
    want = {}
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        ws = [w for w in text.split(" ") if w]
        nb = sum(w in ops.BADWORDS for w in ws)
        want[doc_id] = (len(ws), nb,
                        int(nb * 100 <= len(ws) * ops.BADWORDS_MAX_PCT))
    got = {r.doc_id: (r.n_words, r.n_blocked, r.keep)
           for r in ops.corpus_badwords_filter(spark, sf).collect()}
    assert got == want
    keeps = {k for _, (_, _, k) in got.items()}
    assert keeps == {0, 1}
    # a realistic-size blocklist (500 words, mostly never-matching) must
    # count identically — the two-step intersect lookup is occurrence-
    # exact regardless of list size
    monkeypatch.setattr(
        ops, "BADWORDS", [f"blk{i}" for i in range(497)] + list(ops.BADWORDS))
    got_big = {r.doc_id: (r.n_words, r.n_blocked, r.keep)
               for r in ops.corpus_badwords_filter(spark, sf).collect()}
    assert got_big == want
