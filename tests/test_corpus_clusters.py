"""Tests for the corpus-hygiene operators (repetition signals, PII scrub,
source stats) and near-dup connected-components clustering, checked
against a pure-Python union-find reference."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from supercrawler_spark.operators import clusters, corpus, dedup


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long")


# ---------------------------------------------------------------- repetition

def test_repetition_signals_known_values(spark):
    rows = [
        "a b a b a b",          # grams: ab ba ab ba ab -> top ab 3/5
        "x y z w",              # all distinct: top 1/3, dup 0
        "solo",                 # <2 tokens: gram fracs 0.0
        "t t t t",              # grams tt tt tt: top 3/3, dup 2/3
    ]
    out = {r["doc_id"]: r for r in
           corpus.repetition_signals(_docs(spark, rows)).collect()}
    r0 = out[0]
    assert r0["n_tokens"] == 6
    assert r0["unique_token_ratio"] == pytest.approx(2 / 6, abs=1e-6)
    assert r0["top_2gram_frac"] == pytest.approx(3 / 5, abs=1e-6)
    # 5 gram occurrences, 2 distinct -> dup frac 3/5
    assert r0["dup_2gram_frac"] == pytest.approx(3 / 5, abs=1e-6)
    r1 = out[1]
    assert r1["top_2gram_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert r1["dup_2gram_frac"] == 0.0
    r2 = out[2]
    assert (r2["top_2gram_frac"], r2["dup_2gram_frac"]) == (0.0, 0.0)
    assert r2["unique_token_ratio"] == 1.0
    r3 = out[3]
    assert r3["unique_token_ratio"] == pytest.approx(1 / 4, abs=1e-6)
    assert r3["top_2gram_frac"] == 1.0
    assert r3["dup_2gram_frac"] == pytest.approx(2 / 3, abs=1e-6)


def test_repetition_signals_shuffle_free(spark):
    plan = corpus.repetition_signals(
        _docs(spark, ["a b c"]))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ----------------------------------------------------------------------- pii

def test_scrub_pii_redacts_and_counts(spark):
    rows = [
        "write to alice.smith+x@mail.example.com today",
        "server at 10.2.3.4 and 192.168.0.1 up",
        "call +1-555-0100-22 now",
        "mixed bob@x.co from 8.8.8.8 tel +44-20-7946-0958",
        "clean text with no pii at all",
    ]
    out = {r["doc_id"]: r for r in
           corpus.scrub_pii(_docs(spark, rows)).collect()}
    assert out[0]["n_emails"] == 1 and "<EMAIL>" in out[0]["redacted"]
    assert "alice" not in out[0]["redacted"]
    assert out[1]["n_ips"] == 2 and out[1]["redacted"].count("<IP>") == 2
    assert out[2]["n_phones"] == 1 and "<PHONE>" in out[2]["redacted"]
    r3 = out[3]
    assert (r3["n_emails"], r3["n_ips"], r3["n_phones"]) == (1, 1, 1)
    assert r3["redacted"] == "mixed <EMAIL> from <IP> tel <PHONE>"
    r4 = out[4]
    assert (r4["n_emails"], r4["n_ips"], r4["n_phones"]) == (0, 0, 0)
    assert r4["redacted"] == rows[4]


def test_scrub_pii_order_ip_not_rematched_as_phone(spark):
    # the digits of a redacted IP must not later match the phone pattern,
    # and an email's host must not be eaten as an IP-like string
    out = corpus.scrub_pii(_docs(spark, ["ip 10.20.30.40 mail a@b.io"])) \
        .collect()[0]
    assert out["n_phones"] == 0
    assert out["redacted"] == "ip <IP> mail <EMAIL>"


# --------------------------------------------------------------- source stats

def test_source_stats(spark):
    df = spark.createDataFrame(
        [(0, "a b c", "en", "web", 5), (1, "d e", "de", "web", 3),
         (2, "f", "en", "books", 1)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = {r["source"]: r for r in corpus.source_stats(df).collect()}
    web = out["web"]
    assert web["n_docs"] == 2 and web["total_tokens"] == 5
    assert web["total_chars"] == 8 and web["n_langs"] == 2
    assert web["mean_tokens"] == pytest.approx(2.5)
    assert out["books"]["n_docs"] == 1 and out["books"]["n_langs"] == 1


# ------------------------------------------------------------------- clusters

def _pairs(spark, edges):
    return spark.createDataFrame(edges, "a_id long, b_id long")


def _union_find_cc(edges):
    """Reference connected components: {vertex: min vertex of its
    component} over the vertices of ``edges`` — pure-Python union-find
    whose root is always the component minimum."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


# A~B through one band, B~C through another, A and C share no band: the
# shortest fixture whose cluster needs transitive propagation
_CHAIN_TEXTS = ["w0 w1 w2 w3 w4 w5 w6 w7 w8 w9",
                "w0 w1 w2 w3 w4 x5 x6 x7 x8 x9",
                "y0 y1 y2 y3 y4 x5 x6 x7 x8 x9"]


def test_connected_components_chain_and_island(spark):
    # chain 1-2-3-4 (transitive, no direct 1-4 pair) + island 7-8
    edges = [(1, 2), (2, 3), (3, 4), (7, 8)]
    want = {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}
    cc = {r["doc_id"]: r["cluster_id"] for r in
          clusters.connected_components_star(_pairs(spark, edges)).collect()}
    assert cc == want
    assert _union_find_cc(edges) == want


def test_connected_components_merge_via_shared_member(spark):
    # two cliques sharing one vertex collapse to one cluster
    edges = [(5, 6), (6, 9), (9, 5), (9, 11)]
    cc = {r["doc_id"]: r["cluster_id"] for r in
          clusters.connected_components_star(_pairs(spark, edges)).collect()}
    assert cc == {5: 5, 6: 5, 9: 5, 11: 5}
    assert _union_find_cc(edges) == cc


def test_dedup_clusters_on_duplicated_docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the green quiet woods tonight")
    rows = [base, base, base + " extra", "totally different words here "
            "about spark shuffles and parquet readers at scale today"]
    out = clusters.dedup_clusters(_docs(spark, rows))
    got = {r["doc_id"]: (r["cluster_id"], r["is_keeper"]) for r in out.collect()}
    # identical docs 0 and 1 must cluster together with 0 as keeper
    assert got[0] == (0, True)
    assert got[1][0] == 0 and not got[1][1]
    # the unrelated doc never joins their cluster
    assert 3 not in got or got[3][0] != 0


def test_connected_components_nonconvergence_raises(spark):
    # the chain needs two propagation rounds plus a fixpoint round;
    # partial labels would silently split the component, so the operator
    # must fail loud instead
    with pytest.raises(RuntimeError, match="did not converge"):
        clusters.dedup_clusters(_docs(spark, _CHAIN_TEXTS),
                                max_iters=1).collect()


def test_connected_components_string_ids(spark):
    """ids of any orderable type must converge (string doc keys/urls);
    a numeric-only fixpoint check would crash under ANSI or silently
    return partial labels with ANSI off."""
    edges = [("urlB", "urlC"), ("urlA", "urlB"), ("urlX", "urlY")]
    cc = {r["doc_id"]: r["cluster_id"]
          for r in clusters.connected_components_star(spark.createDataFrame(
              edges, "a_id string, b_id string")).collect()}
    want = {"urlA": "urlA", "urlB": "urlA", "urlC": "urlA",
            "urlX": "urlX", "urlY": "urlX"}
    assert cc == want
    assert _union_find_cc(edges) == want
    # the block path's fixpoint check is type-free too
    docs = spark.createDataFrame(
        [(f"url{c}", t) for c, t in zip("ABC", _CHAIN_TEXTS)],
        "doc_id string, text string")
    got = {r["doc_id"]: r["cluster_id"]
           for r in clusters.dedup_clusters(docs).collect()}
    assert got == {"urlA": "urlA", "urlB": "urlA", "urlC": "urlA"}


def test_resolve_duplicates_string_ids(spark):
    docs = spark.createDataFrame(
        [("k1", "the quick brown fox jumps over the lazy dog tonight ok"),
         ("k2", "the quick brown fox jumps over the lazy dog tonight ok")],
        "doc_id string, text string")
    out = clusters.resolve_duplicates(docs).collect()
    assert {r["doc_id"] for r in out} == {"k1", "k2"}
    assert all(isinstance(r["keeper_id"], str) for r in out)


def test_filter_corpus_single_scan_no_join(spark):
    from supercrawler_spark.operators import textquality
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = textquality.filter_corpus(docs) \
        ._jdf.queryExecution().executedPlan().toString()
    # all three signals come from ONE projection over one scan
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan and "Exchange" not in plan


def test_clusters_no_cached_leak(spark):
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    clusters.dedup_clusters(_docs(spark, _CHAIN_TEXTS)).collect()
    # the operator must not leave anything new cached behind
    assert jsc.getPersistentRDDs().size() <= before

def test_resolve_duplicates_picks_highest_quality_keeper(spark):
    # doc 0/1/2 near-dup cluster; doc 0 (min id) carries a punctuation-junk
    # suffix that lowers its composite quality below clean doc 1, so the
    # keeper must be 1, not the positional min-id 0
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the green quiet woods tonight")
    rows = [base + " #@!$%^&*()!!", base, base + " extra!!",
            "totally different words here "
            "about spark shuffles and parquet readers at scale today"]
    out = {r["doc_id"]: r for r in
           clusters.resolve_duplicates(_docs(spark, rows)).collect()}
    assert {0, 1, 2} <= set(out)
    cluster0 = {d for d, r in out.items() if r["cluster_id"] == 0}
    assert cluster0 == {0, 1, 2}
    keeper = {r["keeper_id"] for d, r in out.items() if d in cluster0}
    assert keeper == {1}, f"expected quality keeper 1, got {keeper}"
    assert out[1]["keep"] and not out[0]["keep"] and not out[2]["keep"]
    # quality actually ordered the pick
    assert out[1]["quality"] > out[0]["quality"]
    # singleton doc 3 is omitted like dedup_clusters
    assert 3 not in cluster0


def test_resolve_duplicates_tie_breaks_min_id(spark):
    # exact copies → identical quality; min doc_id wins the tie
    txt = ("the quick brown fox jumps over the lazy dog and runs far "
           "away into the green quiet woods tonight")
    out = {r["doc_id"]: r for r in
           clusters.resolve_duplicates(_docs(spark, [txt, txt, txt])).collect()}
    assert {r["keeper_id"] for r in out.values()} == {0}
    assert out[0]["keep"] and not out[1]["keep"] and not out[2]["keep"]


def test_resolve_duplicates_accepts_precomputed_clusters(spark):
    docs = _docs(spark, ["aaa bbb ccc ddd eee fff ggg hhh iii jjj kkk",
                         "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp"])
    pre = spark.createDataFrame([(0, 0), (1, 0)], "doc_id long, cluster_id long")
    out = {r["doc_id"]: r for r in
           clusters.resolve_duplicates(docs, clusters=pre).collect()}
    assert set(out) == {0, 1}
    assert len({r["keeper_id"] for r in out.values()}) == 1

# ------------------------------------------------------------- anchor corpus

def test_anchor_corpus_aggregation_and_plan(spark):
    from supercrawler_spark.operators import anchors
    html = lambda body: f"<html><head><title>t</title></head><body>{body}</body></html>"
    rows = [
        ("https://a.example.com/1",
         html('<p><a href="https://t.example.com/x">Click here</a>'
              '<a href="https://t.example.com/x">Click here</a>'
              '<a href="https://t.example.com/x">x page</a>'
              '<a href="https://t.example.com/y">y page</a></p>')),
        ("https://b.example.com/2",
         html('<p><a href="https://t.example.com/x">Click here</a>'
              '<a href="https://t.example.com/x">best page</a>'
              '<a href="https://t.example.com/x">zzz</a>'
              '<a href="https://t.example.com/x"></a></p>')),  # empty dropped
    ]
    pages = spark.createDataFrame(rows, "url string, html string") \
        .withColumn("html", F.col("html").cast("binary"))
    pairs = anchors.anchor_pairs(pages)
    out = anchors.anchor_corpus(pairs, top_k=2)
    x = {r["anchor"]: r for r in
         out.filter(F.col("target_url") == "https://t.example.com/x").collect()}
    # top-2 of {Click here:3, x page:1, best page:1, zzz:1} with asc tie-break
    assert set(x) == {"Click here", "best page"}
    assert x["Click here"]["rank"] == 1 and x["Click here"]["n_with_anchor"] == 3
    assert x["best page"]["rank"] == 2 and x["best page"]["n_with_anchor"] == 1
    # n_inlinks is the TRUE in-degree: 7 anchors incl. the empty-text one
    assert x["Click here"]["n_inlinks"] == 7
    y = out.filter(F.col("target_url") == "https://t.example.com/y").collect()
    assert len(y) == 1 and y[0]["n_inlinks"] == 1
    # plan: Arrow-vectorized UDF and the rank filter pushed to WindowGroupLimit
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    assert "WindowGroupLimit" in plan


def test_star_cc_matches_min_label_on_random_graphs(spark):
    """large-star/small-star must produce exactly the min-label contract:
    (doc_id, cluster_id=min reachable id) over pair-participating
    vertices — checked against an independent union-find."""
    import random
    rng = random.Random(7)
    for trial in range(3):
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
        edges = [(a, b) for a, b in edges if a != b]
        got = {r["doc_id"]: r["cluster_id"] for r in
               clusters.connected_components_star(
                   _pairs(spark, edges)).collect()}
        assert got == _union_find_cc(edges), f"trial {trial}"


def test_star_cc_long_chain_beyond_min_label_budget(spark):
    """A 120-node path has diameter 119 — min-label propagation would need
    ~119 rounds; star rounds converge in O(log n). A budget too small for
    the star loop still fails loud."""
    short = _pairs(spark, [(i, i + 1) for i in range(29)])
    with pytest.raises(RuntimeError, match="did not converge"):
        clusters.connected_components_star(short, max_iters=2)
    edges = [(i, i + 1) for i in range(119)]
    out = clusters.connected_components_star(
        _pairs(spark, edges), max_iters=20).collect()
    assert len(out) == 120
    assert all(r["cluster_id"] == 0 for r in out)


def test_star_cc_string_ids_and_cache_release(spark):
    sc = spark.sparkContext._jsc.sc()
    before = sc.getPersistentRDDs().size()
    df = spark.createDataFrame(
        [("url-b", "url-a"), ("url-c", "url-b"), ("url-z", "url-y")],
        "a_id string, b_id string")
    out = {r["doc_id"]: r["cluster_id"]
           for r in clusters.connected_components_star(df).collect()}
    assert out == {"url-a": "url-a", "url-b": "url-a", "url-c": "url-a",
                   "url-y": "url-y", "url-z": "url-y"}
    # the checkpointed loop itself caches nothing new
    assert sc.getPersistentRDDs().size() == before


def test_blocks_cc_matches_pairwise_dedup_clusters(spark):
    """Bipartite block propagation must reproduce connected components of
    the LSH pair graph exactly: same members, same min-id clusters, same
    keepers."""
    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(12):
        rows.append((i, base + f" tail{i % 3}"))       # 3 near-dup groups
    rows.append((50, "totally unrelated text body one two three four"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = [(r["a_id"], r["b_id"])
             for r in dedup.minhash_lsh_pairs(docs).collect()]
    ref = {(d, c, d == c) for d, c in _union_find_cc(pairs).items()}
    got = {(r["doc_id"], r["cluster_id"], r["is_keeper"])
           for r in clusters.dedup_clusters(docs).collect()}
    assert got == ref and got


def test_blocks_cc_chain_through_shared_blocks(spark):
    """Transitivity across blocks: A~B via one band, B~C via another —
    all three land in one cluster even though A,C share no block."""
    docs = _docs(spark, _CHAIN_TEXTS)
    pairs = {(r["a_id"], r["b_id"])
             for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert pairs == {(0, 1), (1, 2)}
    got = {(r["doc_id"], r["cluster_id"])
           for r in clusters.dedup_clusters(docs, num_hashes=8,
                                            band_size=2).collect()}
    assert got == {(0, 0), (1, 0), (2, 0)}


def test_band_keys_match_grouped_band_blocks(spark):
    """Slice-based band keys give the same non-singleton blocks as the
    per-(doc, band) collect_list form over the tall signature table,
    including a partial last band (7 hashes in bands of 2)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(i, base + f" tail{i % 4}" + (" more" if i % 3 else ""))
         for i in range(12)]
        + [(20, "w0 w1 w2 w3 w4 w5 w6 w7"), (21, "w0 w1 w2 w3 w4 w5 w6 w7")],
        "doc_id long, text string")

    def blocks(rows):
        members = {}
        for d, band, key in rows:
            members.setdefault((band, key), set()).add(d)
        return {(band, frozenset(m)) for (band, _), m in members.items()
                if len(m) >= 2}

    sig = dedup.minhash_sig_array(docs, num_hashes=7)
    got = dedup.band_keys(sig, 2).collect()
    assert {len(r["band_key"].split(":")) for r in got if r["band"] == 3} \
        == {1}                                       # partial last band
    assert len(got) == 4 * docs.count()
    grouped = (dedup.minhash_signatures(docs, num_hashes=7)
               .withColumn("band", (F.col("hash_id") / 2).cast("long"))
               .groupBy("doc_id", "band")
               .agg(F.concat_ws(",", F.sort_array(F.collect_list(
                   F.concat_ws(":", F.col("hash_id"), F.col("min_hash")))))
                   .alias("band_key"))
               .collect())
    want = blocks((r["doc_id"], r["band"], r["band_key"]) for r in grouped)
    assert blocks((r["doc_id"], r["band"], r["band_key"]) for r in got) \
        == want
    assert any(b[0] == 3 for b in want) and len(want) > 4


# ---------------------------------------------------------------- purity

def test_cluster_purity_identical_and_planted_suspect(spark):
    """Identical-text members agree on every minhash (est 1.0); a planted
    wrong-cluster member (disjoint text) scores ~0 and flips n_suspect.
    The injected clusters_df exercises the arithmetic without relying on
    an actual band collision (which is rare by design)."""
    rows = [
        "alpha beta gamma delta epsilon zeta",   # 0 keeper
        "alpha beta gamma delta epsilon zeta",   # 1 true dup of 0
        "one two three four five six seven",     # 2 planted into cluster 0
        "unrelated words entirely different here",  # 3 its own cluster
        "unrelated words entirely different here",  # 4 true dup of 3
    ]
    docs = _docs(spark, rows)
    planted = spark.createDataFrame(
        [(0, 0, True), (1, 0, False), (2, 0, False),
         (3, 3, True), (4, 3, False)],
        "doc_id long, cluster_id long, is_keeper boolean")
    out = {r["cluster_id"]: r for r in
           clusters.cluster_purity(docs, clusters=planted,
                                   p=dedup.P_ORACLE).collect()}
    c0, c3 = out[0], out[3]
    assert c0["n_members"] == 3
    assert c0["avg_sim"] < 1.0 and c0["min_sim"] < 0.5
    assert c0["n_suspect"] == 1            # doc 2 cannot be supported
    assert c3["n_members"] == 2
    assert (c3["min_sim"], c3["avg_sim"], c3["n_suspect"]) == (1.0, 1.0, 0)


def test_cluster_purity_end_to_end_blocks_path(spark):
    """Default path (clusters from dedup_clusters): identical docs
    cluster together and score est 1.0; singletons are omitted."""
    rows = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy dog today",
        "completely different content with no shared shingles at all",
    ]
    out = clusters.cluster_purity(_docs(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_members"] == 2
    assert (r["min_sim"], r["avg_sim"], r["n_suspect"]) == (1.0, 1.0, 0)


def test_cluster_purity_requires_modulus_with_given_clusters(spark):
    """Caller-built clusters carry no record of their minhash modulus, so
    auditing them without ``p`` must fail instead of defaulting to
    P_ORACLE (which would re-admit a P_WIDE deployment's collision tail)."""
    docs = _docs(spark, ["a b c d e f", "a b c d e f"])
    given = spark.createDataFrame(
        [(0, 0, True), (1, 0, False)],
        "doc_id long, cluster_id long, is_keeper boolean")
    with pytest.raises(ValueError, match="modulus"):
        clusters.cluster_purity(docs, clusters=given)
