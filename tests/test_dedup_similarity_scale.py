"""Semantics tests for the scale-grade dedup/similarity paths: brute-force
Python ground truth on tiny inputs, plan audits for the no-cartesian bar."""

import io
import itertools
import math
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from supercrawler_spark.operators import dedup, similarity


def _ham(a, b):
    return bin(a ^ b).count("1")


def test_simhash_near_pairs_exact_within_radius(spark):
    """Chunked-signature banding is EXACT within the radius: compare against
    the brute-force all-pairs Hamming computation on the same signatures."""
    docs = spark.createDataFrame(
        [(i, f"crawl frontier spark shuffle word{i % 7} tail{i % 3}")
         for i in range(60)], "doc_id LONG, text STRING")
    sigs = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash(docs, bits=16).collect()}
    radius = 3
    expected = {(a, b, _ham(sigs[a], sigs[b]))
                for a, b in itertools.combinations(sorted(sigs), 2)
                if _ham(sigs[a], sigs[b]) <= radius}
    got = {(r["a_id"], r["b_id"], r["hamming"])
           for r in dedup.simhash_near_pairs(docs, bits=16,
                                             radius=radius).collect()}
    assert got == expected
    assert len(got) > 0, "fixture produced no near pairs — weaken it"


def test_simhash_chunk_bounds_cover_all_bits():
    for bits, chunks in [(16, 4), (16, 3), (64, 4), (64, 5)]:
        bounds = dedup._chunk_bounds(bits, chunks)
        covered = sorted(itertools.chain.from_iterable(
            range(off, off + w) for off, w in bounds))
        assert covered == list(range(bits))


def test_ngram_df_cap_drops_hot_shingles(spark):
    """Documents glued together only by a boilerplate shingle must produce NO
    pair once the cap drops it; genuinely similar pairs survive."""
    boiler = "accept all cookies now"
    rows = [(i, f"{boiler} unique{i} token{i} filler{i}") for i in range(20)]
    rows += [(100, "alpha beta gamma delta epsilon"),
             (101, "alpha beta gamma delta zeta")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {(r["a_id"], r["b_id"])
           for r in dedup.ngram_jaccard_pairs(
               docs, n=3, threshold=0.3, max_shingle_df=5).collect()}
    assert got == {(100, 101)}
    # uncapped, the boilerplate shingles glue all 20 docs into pairs
    uncapped = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.01, max_shingle_df=None).count()
    assert uncapped > 1


def test_chunk_documents_coverage_and_overlap(spark):
    from supercrawler_spark.operators import textquality
    text = " ".join(f"w{i}" for i in range(100))
    docs = spark.createDataFrame([(1, text), (2, "short doc"), (3, "")],
                                 "doc_id LONG, text STRING")
    out = {(r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
           for r in textquality.chunk_documents(
               docs, window=32, overlap=8).collect()}
    # doc 1: 100 tokens, stride 24 -> starts 0,24,48,72,96 -> 5 chunks
    assert sorted(k[1] for k in out if k[0] == 1) == [0, 1, 2, 3, 4]
    c0, n0 = out[(1, 0)]
    c1, _ = out[(1, 1)]
    assert n0 == 32 and c0.split()[:3] == ["w0", "w1", "w2"]
    # overlap: chunk 1 starts 8 tokens before chunk 0 ends
    assert c1.split()[0] == "w24" and c0.split()[-8:] == c1.split()[:8]
    # last chunk is the tail remainder
    assert out[(1, 4)][1] == 4 and out[(1, 4)][0] == "w96 w97 w98 w99"
    # every token appears in some chunk (coverage)
    covered = set()
    for (d, _), (txt, _n) in out.items():
        if d == 1:
            covered.update(txt.split())
    assert covered == {f"w{i}" for i in range(100)}
    # short doc -> one chunk; empty doc -> none
    assert out[(2, 0)] == ("short doc", 2)
    assert not any(k[0] == 3 for k in out)


def test_train_val_split_deterministic_and_proportional(spark):
    from supercrawler_spark.operators import textquality
    docs = spark.range(5000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"]
         for r in textquality.train_val_split(docs, val_pct=10).collect()}
    b = {r["doc_id"]: r["split"]
         for r in textquality.train_val_split(docs, val_pct=10).collect()}
    assert a == b                                    # deterministic
    frac = sum(1 for v in a.values() if v == "val") / len(a)
    assert 0.07 < frac < 0.13                        # ~10%
    c = {r["doc_id"]: r["split"] for r in textquality.train_val_split(
        docs, val_pct=10, salt="split-2").collect()}
    assert c != a                                    # independent draw


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a))
                  * math.sqrt(sum(y * y for y in b)))


def test_embedding_near_dups_finds_planted_dups_no_cartesian(spark):
    """Planted near-identical vectors are recovered through the banded LSH
    blocks, and the plan contains no BroadcastNestedLoopJoin (the all-pairs
    theta-join anti-pattern this operator previously had)."""
    import random
    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(40)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # plant dups: tiny perturbation of vectors 0..4 → cosine ~1
    for j in range(5):
        rows.append((100 + j,
                     [float(x + 0.001 * j) for x in base[j]]))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    nd = similarity.embedding_near_dups(emb, threshold=0.98)
    got = {(r["a_id"], r["b_id"]) for r in nd.collect()}
    assert {(j, 100 + j) for j in range(5)} <= got
    buf = io.StringIO()
    with redirect_stdout(buf):
        nd.explain(mode="formatted")
    assert "BroadcastNestedLoopJoin" not in buf.getvalue()


def test_ivf_ann_recovers_twins_and_prunes_cells(spark):
    """IVF: planted twins quantize to the same cell (near-identical vectors
    → same argmax centroid), so nprobe search recovers them; and the number
    of scored candidates per query is bounded by the probed cells' sizes,
    not the corpus."""
    import random
    rng = random.Random(23)
    rows = []
    for i in range(60):
        v = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((i, [float(x) for x in v]))
        rows.append((1000 + i, [float(x + 0.005) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    queries = emb.filter(F.col("vec_id") < 5)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in similarity.ivf_ann_topk(emb, queries, k=1).collect()}
    for q in range(5):
        assert got[(q, 1)] == 1000 + q, "twin not recovered by IVF probe"
    # cell assignment is a partition: every vector in exactly one cell
    cells = similarity.ivf_cells(emb)
    assert cells.count() == emb.count()
    assert cells.select("vec_id").distinct().count() == emb.count()


def test_lsh_ann_recall_against_exact(spark):
    """Banded ANN recall on clustered data: every query's true top-1 has
    near-identical sign pattern, so OR-of-bands must recover it."""
    import random
    rng = random.Random(11)
    rows = []
    for i in range(50):
        v = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((i, [float(x) for x in v]))
        rows.append((1000 + i, [float(x + 0.01) for x in v]))  # twin
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    queries = emb.filter(F.col("vec_id") < 5)
    ann = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in similarity.lsh_ann_topk(emb, queries, k=1).collect()}
    for q in range(5):
        assert ann[(q, 1)] == 1000 + q, "twin not recovered by banded LSH"


def test_zero_norm_embedding_never_tops_ranking(spark):
    """An all-zero embedding must score sim 0.0 (not NaN, which Spark sorts
    GREATEST) against every query, so it cannot displace real neighbors."""
    import random
    rng = random.Random(11)
    rows = [(i, [float(rng.uniform(-1, 1)) for _ in range(64)])
            for i in range(10)]
    rows.append((99, [0.0] * 64))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    q = emb.filter(F.col("vec_id") == 0)
    top = similarity.cosine_topk(emb, q, k=3).collect()
    assert all(r["neighbor_id"] != 99 or r["sim"] == 0.0 for r in top)
    assert all(not math.isnan(r["sim"]) for r in top)
    # and the zero vector as the QUERY yields defined sims too
    qz = emb.filter(F.col("vec_id") == 99)
    topz = similarity.cosine_topk(emb, qz, k=3).collect()
    assert [r["sim"] for r in topz] == [0.0, 0.0, 0.0]


def test_ann_accepts_out_of_corpus_queries(spark):
    """lsh/ivf ANN take query vectors from the queries frame itself: a query
    id absent from the corpus must return real neighbors, not silently zero
    rows (they previously semi-joined vectors out of the corpus)."""
    import random
    rng = random.Random(31)
    base = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(40)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id LONG, embedding ARRAY<FLOAT>")
    # out-of-corpus query = tiny perturbation of corpus vector 3
    qv = [float(x + 0.002) for x in base[3]]
    q = spark.createDataFrame([(9999, qv)], "vec_id LONG, embedding ARRAY<FLOAT>")
    lsh = similarity.lsh_ann_topk(emb, q, k=1).collect()
    assert len(lsh) == 1 and lsh[0]["neighbor_id"] == 3
    ivf = similarity.ivf_ann_topk(emb, q, k=1).collect()
    assert len(ivf) == 1 and ivf[0]["neighbor_id"] == 3


def test_simhash_near_pairs_rejects_radius_ge_bits(spark):
    """radius+1 chunks over `bits` bits needs every chunk >= 1 bit — a
    zero-width chunk would bucket ALL docs together (n^2 cross product)."""
    docs = spark.createDataFrame([(0, "a b c"), (1, "d e f")],
                                 "doc_id LONG, text STRING")
    with pytest.raises(AssertionError):
        dedup.simhash_near_pairs(docs, bits=4, radius=4)


def test_frame_sample_plan_zero_frames_zero_rows(spark):
    """Videos whose computed frame count is 0 contribute NO rows (previously
    a spurious frame 0 appeared for short/metadata-less videos)."""
    from supercrawler_spark.operators import multimodal
    media = spark.createDataFrame(
        [(1, "video/mp4", b"x", 5, None),     # 5/10 -> 0 frames
         (2, "video/mp4", b"x", None, None),  # null width -> 0 frames
         (3, "video/mp4", b"x", 25, None)],   # 25/10 -> 2 frames
        "media_id LONG, media_type STRING, payload BINARY, "
        "meta_width LONG, meta_height LONG")
    rows = multimodal.frame_sample_plan(media, every_n=10).collect()
    got = {}
    for r in rows:
        got.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert 1 not in got and 2 not in got
    assert sorted(got[3]) == [0, 1]

def test_minhash_bucket_cap_drops_mega_cluster(spark):
    """max_bucket_size: a planted 10-copy boilerplate cluster (10 identical
    signatures -> every band block has 10 members -> 45 pairs) is dropped by
    cap=4, while an ordinary 2-doc near-dup pair survives."""
    boiler = "repeat this exact boilerplate text again and again ok " * 3
    rows = [(i, boiler) for i in range(10)]
    rows += [(20, "some unique interesting document text here today friends"),
             (21, "some unique interesting document text here today people")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = {(r["a_id"], r["b_id"])
            for r in dedup.minhash_lsh_pairs(docs).collect()}
    capped = {(r["a_id"], r["b_id"])
              for r in dedup.minhash_lsh_pairs(docs, max_bucket_size=4)
              .collect()}
    mega = {p for p in full if p[0] < 10}
    assert len(mega) == 45                       # 10-choose-2
    assert capped.isdisjoint(mega)               # guard dropped the cluster
    assert capped == full - mega                 # ...and ONLY the cluster


def test_minhash_salted_pairs_identical_and_bounded(spark):
    """Salt-and-recombine on hot band blocks: (a) pairs AND n_bands are
    identical with salting on/off — salting is a physical re-plan only;
    (b) the salted grid actually bounds per-join-key fan-in: no
    (band, band_key, sa, sb) cell sees the whole 24-member hot block."""
    boiler = "repeat this exact boilerplate text again and again ok " * 3
    rows = [(i, boiler) for i in range(24)]
    rows += [(30, "some unique interesting document text here today friends"),
             (31, "some unique interesting document text here today people")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {(r["a_id"], r["b_id"]): r["n_bands"]
             for r in dedup.minhash_lsh_pairs(docs).collect()}
    salted = {(r["a_id"], r["b_id"]): r["n_bands"]
              for r in dedup.minhash_lsh_pairs(
                  docs, salt_buckets=4, salt_threshold=8).collect()}
    assert salted == plain
    assert len({p for p in plain if p[0] < 24}) == 276  # 24-choose-2 kept
    # boundedness: replay the grid assignment — the largest per-cell side
    # must be well under the 24-member block (σ is ~uniform over S=4)
    salt = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(4))
    sizes = (docs.filter(F.col("doc_id") < 24)
             .select(salt.alias("s")).groupBy("s").count().collect())
    assert len(sizes) > 1                      # block actually split
    assert max(r["count"] for r in sizes) < 24


def test_minhash_salted_composes_with_cap(spark):
    """salt_buckets + max_bucket_size: the cap still drops the degenerate
    mega-cluster; salting carries the mid-size block losslessly."""
    boiler = "repeat this exact boilerplate text again and again ok " * 3
    mid = "medium sized shared paragraph content for the block test " * 3
    rows = [(i, boiler) for i in range(40)]          # mega: dropped by cap
    rows += [(100 + i, mid) for i in range(10)]      # mid: salted, kept
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["a_id"], r["b_id"])
           for r in dedup.minhash_lsh_pairs(
               docs, max_bucket_size=20, salt_buckets=4,
               salt_threshold=4).collect()}
    assert {p for p in got if p[0] < 40} == set()    # mega dropped
    mid_pairs = {p for p in got if p[0] >= 100}
    assert len(mid_pairs) == 45                      # 10-choose-2 kept


def test_embedding_near_dups_bucket_cap(spark):
    """Same guard on the hyperplane-banded near-dup path: 8 identical
    vectors form over-crowded (band, bucket) blocks that cap=4 drops; a
    distinct near-identical pair survives."""
    base = [float((7 * d) % 13 - 6) for d in range(64)]
    twin = list(base); twin[0] += 0.001
    other = [float((11 * d) % 17 - 8) for d in range(64)]
    other2 = list(other); other2[1] += 0.001
    rows = [(i, base) for i in range(8)]
    rows += [(20, other), (21, other2)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    full = {(r["a_id"], r["b_id"])
            for r in similarity.embedding_near_dups(emb, threshold=0.99)
            .collect()}
    capped = {(r["a_id"], r["b_id"])
              for r in similarity.embedding_near_dups(
                  emb, threshold=0.99, max_bucket_size=4).collect()}
    mega = {p for p in full if p[0] < 8}
    assert len(mega) == 28                       # 8-choose-2
    assert capped.isdisjoint(mega)
    assert (20, 21) in capped

def test_minhash_jaccard_estimate_known_pairs(spark):
    """Identical docs estimate 1.0; disjoint docs produce no pair; a real
    overlap pair lands strictly between with the unbiased estimator."""
    a = "the quick brown fox jumps over the lazy dog and runs far away now"
    rows = [(0, a), (1, a),                       # identical -> est 1.0
            (2, a + " with a small extra tail appended here"),
            (3, "completely different words about parquet shuffles and "
                "spark plans at large scale tonight my friends")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["a_id"], r["b_id"]): r for r in
           dedup.minhash_jaccard_estimate(docs).collect()}
    assert out[(0, 1)]["jaccard_est"] == 1.0
    assert out[(0, 1)]["n_agree"] == 8
    assert all(p[0] != 3 and p[1] != 3 for p in out)
    if (0, 2) in out:        # banding may or may not surface the partial pair
        assert 0.0 < out[(0, 2)]["jaccard_est"] <= 1.0


def test_semdedup_pair_join_is_equi_join_on_cell(spark):
    """The SemDeDup self-join must be an equi-join keyed on the cell (the
    blocking invariant) — the only BroadcastNestedLoopJoins in the plan are
    kmeans' bounded one-row centroid broadcasts, never the pair join."""
    import io
    from contextlib import redirect_stdout
    from supercrawler_spark.operators.kmeans import semdedup
    rows = [(i, [float((i * 7 + d) % 5) for d in range(8)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    sd = semdedup(emb, k=4, n_iters=2, threshold=0.9, dim=8)
    buf = io.StringIO()
    with redirect_stdout(buf):
        sd.explain(mode="formatted")
    plan = buf.getvalue()
    # the BNLJ nodes present are all Cross joins against a 1-row aggregate
    # (the centroid array); the a_id/b_id pair join is a keyed join
    assert "CartesianProduct" not in plan
    pair_join_lines = [ln for ln in plan.splitlines()
                       if "Join" in ln and "a_id" in ln]
    for ln in pair_join_lines:
        assert "BroadcastNestedLoopJoin" not in ln


def test_tfidf_topk_uses_window_group_limit(spark):
    import io
    from contextlib import redirect_stdout
    from supercrawler_spark.operators.terms import tfidf_topterms
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(10)],
        "doc_id long, text string")
    out = tfidf_topterms(docs, n_docs=10, k=2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain(mode="formatted")
    assert "WindowGroupLimit" in buf.getvalue()


def test_pq_ann_recovers_twins_and_codes_valid(spark):
    """PQ/ADC: a planted near-identical twin encodes to the same (or
    ADC-nearest) codes, so it ranks first for its query; codes are in
    [0, k_codes) for every subspace and one row per vector."""
    import random
    rng = random.Random(29)
    rows = []
    for i in range(60):
        v = [rng.uniform(-0.5, 0.5) for _ in range(64)]
        rows.append((i, [float(x) for x in v]))
        rows.append((1000 + i, [float(x + 0.005) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    queries = emb.filter(F.col("vec_id") < 5)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in similarity.pq_ann_topk(emb, queries, k=1).collect()}
    for q in range(5):
        assert got[(q, 1)] == 1000 + q, "twin not recovered by PQ ADC"
    codes = similarity.pq_codes(emb)
    assert codes.count() == emb.count()
    bad = codes.select(F.explode("codes").alias("c")) \
        .filter((F.col("c") < 0) | (F.col("c") >= 16)).count()
    assert bad == 0


def test_pq_trained_beats_fixed_and_recovers_twins(spark):
    """Trained codebooks must (a) recover planted near-identical twins at
    rank 1 and (b) reach recall@3 >= 0.5 vs exact L2 on random vectors —
    the regime where the fixed-span codebook reads ~0 recall."""
    import random
    rng = random.Random(37)
    rows = [(i, [float(rng.uniform(-0.5, 0.5)) for _ in range(64)])
            for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.l2_topk(emb, q, k=3).collect()}
    got = {(r["query_id"], r["neighbor_id"])
           for r in similarity.pq_ann_topk_trained(
               emb, q, k=3, m_sub=16, k_codes=32, rerank=16).collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, f"trained-PQ recall@3 {recall} < 0.5"
    # twin recovery: rank-1 for a +0.005 perturbed copy
    twins = [(1000 + i, [float(x + 0.005) for x in v])
             for i, v in rows[:5]]
    emb2 = emb.unionByName(
        spark.createDataFrame(twins, "vec_id LONG, embedding ARRAY<FLOAT>"))
    r1 = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in similarity.pq_ann_topk_trained(
              emb2, emb.filter(F.col("vec_id") < 5), k=1,
              m_sub=16, k_codes=32, rerank=16).collect()}
    for qid in range(5):
        assert r1[(qid, 1)] == 1000 + qid, "twin not recovered"


def test_pq_trained_plan_is_jvm_only(spark):
    """Training + encode + ADC + rerank must stay pure JVM expressions:
    no Python eval, no CartesianProduct; the only nested-loop joins are
    the deliberate one-row codebook broadcasts and the broadcast query
    table."""
    rows = [(i, [float((i * 7 + j) % 11 - 5) for j in range(64)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = similarity.pq_ann_topk_trained(
        emb, emb.filter(F.col("vec_id") < 3), k=3, m_sub=8, k_codes=16,
        rerank=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "Cross" in ln  # one-row codebook / broadcast qt only


def test_pq_adist_matches_table_reconstruction(spark):
    """The ADC distance must equal the sum of per-subspace table entries at
    the neighbor's codes — reconstructed independently in Python."""
    import random
    rng = random.Random(31)
    rows = [(i, [float(rng.uniform(-0.5, 0.5)) for _ in range(64)])
            for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    q = emb.filter(F.col("vec_id") < 2)
    out = {(r["query_id"], r["neighbor_id"]): r["adist"]
           for r in similarity.pq_ann_topk(emb, q, k=11).collect()}
    codes = {r["vec_id"]: r["codes"]
             for r in similarity.pq_codes(emb).collect()}
    vecs = dict(rows)

    def cent(c, j):
        return float((c * 193 + j * 29 + 7) % 89 - 44) / 88.0

    import numpy as np
    for (qid, nid), adist in out.items():
        qv = np.array(vecs[qid], dtype=np.float32).astype(float)
        expect = 0.0
        for m in range(4):
            c = codes[nid][m]
            expect += sum((qv[j] - cent(c, j)) ** 2
                          for j in range(m * 16, (m + 1) * 16))
        assert abs(adist - expect) < 1e-6, (qid, nid, adist, expect)


def test_host_mirrors_semantics(spark):
    from supercrawler_spark.operators.dedup import host_mirrors
    rows = ([("a.com", f"text {i}") for i in range(10)]
            + [("b.com", f"text {i}") for i in range(10)]       # full mirror
            + [("c.com", f"text {i}") for i in range(5)]
            + [("c.com", f"other {i}") for i in range(5)]       # half mirror
            + [("d.com", f"unique {i}") for i in range(10)])    # disjoint
    pages = spark.createDataFrame(rows, "host string, text string")
    out = {(r["host_a"], r["host_b"]): r["jaccard"]
           for r in host_mirrors(pages, threshold=0.3).collect()}
    assert out[("a.com", "b.com")] == 1.0
    assert abs(out[("a.com", "c.com")] - 5 / 15) < 1e-6  # round-6 output
    assert ("a.com", "d.com") not in out
    # hot-digest cap: a fingerprint on >cap hosts is excluded from overlap
    boiler = [(h, "boilerplate parked page") for h in
              ("a.com", "b.com", "c.com", "d.com")]
    capped = host_mirrors(spark.createDataFrame(rows + boiler,
                                                "host string, text string"),
                          threshold=0.3, max_hosts_per_digest=3)
    got = {(r["host_a"], r["host_b"]): r["jaccard"] for r in capped.collect()}
    assert got[("a.com", "b.com")] == 1.0  # boiler digest dropped by cap


def test_ivf_trained_beats_fixed_quantizer(spark):
    """The k-means-trained coarse quantizer must recall strictly more of
    the exact cosine top-3 than the fixed centroid recurrence at the same
    (n_cells, nprobe) budget on random vectors, and recover planted
    near-identical twins at rank 1 (the twin lands in the same cell as
    its query under any data-following quantizer)."""
    import random
    rng = random.Random(41)
    rows = [(i, [float(rng.uniform(-0.5, 0.5)) for _ in range(64)])
            for i in range(80)]
    twins = [(1000 + i, [float(x + 0.005) for x in v]) for i, v in rows[:5]]
    emb = spark.createDataFrame(rows + twins,
                                "vec_id LONG, embedding ARRAY<FLOAT>")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(emb, q, k=3).collect()}
    trained = {(r["query_id"], r["neighbor_id"])
               for r in similarity.ivf_ann_topk_trained(emb, q, k=3).collect()}
    fixed = {(r["query_id"], r["neighbor_id"])
             for r in similarity.ivf_ann_topk(emb, q, k=3).collect()}
    r_t = len(trained & exact) / len(exact)
    r_f = len(fixed & exact) / len(exact)
    assert r_t > r_f, f"trained {r_t} <= fixed {r_f}"
    rank1 = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in similarity.ivf_ann_topk_trained(emb, q, k=1).collect()}
    for i in range(5):
        assert rank1[(i, 1)] == 1000 + i, "twin not recovered at rank 1"


def test_ivfpq_recovers_twins_and_beats_pure_adc(spark):
    """IVF-PQ composition: (a) planted near-identical twins return at
    rank 1 (coarse cell + codes + rerank all agree on a twin), (b) the
    exact-L2 rerank recovers most of what pure ADC order loses at the
    same probe budget."""
    import random
    rng = random.Random(43)
    rows = [(i, [float(rng.uniform(-0.5, 0.5)) for _ in range(64)])
            for i in range(80)]
    twins = [(1000 + i, [float(x + 0.005) for x in v]) for i, v in rows[:5]]
    emb = spark.createDataFrame(rows + twins,
                                "vec_id LONG, embedding ARRAY<FLOAT>")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.l2_topk(emb, q, k=3).collect()}
    rr = {(r["query_id"], r["neighbor_id"])
          for r in similarity.ivfpq_ann_topk(
              emb, q, k=3, m_sub=16, k_codes=32, rerank=16).collect()}
    adc = {(r["query_id"], r["neighbor_id"])
           for r in similarity.ivfpq_ann_topk(
               emb, q, k=3, m_sub=16, k_codes=32, rerank=None).collect()}
    r_rr = len(rr & exact) / len(exact)
    r_adc = len(adc & exact) / len(exact)
    assert r_rr >= r_adc and r_rr >= 0.5, f"rerank {r_rr} vs adc {r_adc}"
    rank1 = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in similarity.ivfpq_ann_topk(
                 emb, q, k=1, m_sub=16, k_codes=32, rerank=16).collect()}
    for i in range(5):
        assert rank1[(i, 1)] == 1000 + i, "twin not recovered at rank 1"


def test_ivfpq_staged_index_query_equals_oneshot(spark):
    """The index-once-query-many split (ivfpq_index + ivfpq_query) must
    return exactly what the one-shot composition returns — including when
    the code table is persisted between build and query (the production
    mode the ann_rehearsal bench measures) and across two different query
    batches against the same index."""
    import random
    rng = random.Random(44)
    rows = [(i, [float(rng.uniform(-0.5, 0.5)) for _ in range(64)])
            for i in range(90)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    kw = dict(m_sub=16, k_codes=32, n_cells=16, n_iters=2)
    codes, cents_row, cb_row = similarity.ivfpq_index(
        emb, n_cells=16, m_sub=16, k_codes=32, n_iters=2)
    codes = codes.persist()
    try:
        assert codes.count() == 90
        for lo, hi in ((0, 5), (40, 44)):
            q = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            got = sorted(map(tuple, similarity.ivfpq_query(
                codes, cents_row, cb_row, emb, q, k=3, nprobe=4,
                m_sub=16, rerank=16).collect()))
            ref = sorted(map(tuple, similarity.ivfpq_ann_topk(
                emb, q, k=3, nprobe=4, rerank=16, **kw).collect()))
            assert got == ref
    finally:
        codes.unpersist()


def test_hard_negatives_band_and_rank(spark):
    """Positives (sim >= hi) and easy negatives (sim < lo) are excluded;
    survivors rank by descending sim — checked against a tiny hand-built
    geometry: q's duplicate (sim 1.0) out, orthogonal (0.0) out, two
    mid-band vectors kept in similarity order."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # query
        (1, [1.0, 0.0, 0.0, 0.0]),   # duplicate -> positive, excluded
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal -> easy negative, excluded
        (3, [1.0, 1.0, 0.0, 0.0]),   # sim ~0.7071 -> hard negative
        (4, [1.0, 2.0, 0.0, 0.0]),   # sim ~0.4472 -> hard negative
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = similarity.hard_negatives(
        emb, emb.filter(F.col("vec_id") == 0), k=3, lo=0.1, hi=0.9).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in out]
    assert got == [(3, 1), (4, 2)]
    assert abs(out[0]["sim"] - 0.707107) < 1e-6
    assert abs(out[1]["sim"] - 0.447214) < 1e-6


def test_rerank_negatives_composes_with_ann_shortlist(spark):
    """The corpus-scale path: rerank an exact-cosine candidate table ==
    hard_negatives run end-to-end (same band, same ranking contract)."""
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    q = emb.filter(F.col("vec_id") < 3)
    direct = similarity.hard_negatives(emb, q, k=3, lo=0.2, hi=0.95)
    # candidate table built separately (what an ANN shortlist would feed)
    qd = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    nd = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"))
    cand = (qd.join(nd, F.col("query_id") != F.col("neighbor_id"))
            .withColumn("sim", F.round(similarity.cosine(F.col("qv"), F.col("nv")), 6))
            .select("query_id", "neighbor_id", "sim"))
    via_rerank = similarity.rerank_negatives(cand, k=3, lo=0.2, hi=0.95)
    assert sorted(map(tuple, direct.collect())) \
        == sorted(map(tuple, via_rerank.collect()))


def test_minhash_wide_modulus_contract(spark):
    """P_WIDE (~2^59) is the oracle-free cluster modulus: values stay in
    [0, p), identical docs share full signatures, and the default path is
    untouched (P_ORACLE produces the historical 30-bit values)."""
    from supercrawler_spark.operators.dedup import (
        P_ORACLE, P_WIDE, minhash_sig_array, minhash_signatures)
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon"),
         (1, "alpha beta gamma delta epsilon"),
         (2, "one two three four five")],
        "doc_id long, text string")
    assert 15 * P_WIDE + 120 < 2 ** 63          # a*h+b BIGINT-safe
    wide = minhash_signatures(docs, p=P_WIDE).collect()
    assert all(0 <= r["min_hash"] < P_WIDE for r in wide)
    # wide hashes actually use the headroom (30-bit values would all be
    # < 2^30; 8 hashes over 2 distinct texts make that astronomically
    # unlikely at p~2^59)
    assert max(r["min_hash"] for r in wide) >= 1 << 30
    sigs = {r["doc_id"]: r["sig"]
            for r in minhash_sig_array(docs, p=P_WIDE).collect()}
    assert sigs[0] == sigs[1] and sigs[0] != sigs[2]
    # default path unchanged: p omitted == P_ORACLE explicitly
    a = sorted(map(tuple, minhash_signatures(docs).collect()))
    b = sorted(map(tuple, minhash_signatures(docs, p=P_ORACLE).collect()))
    assert a == b
    assert all(v < P_ORACLE for r in minhash_sig_array(docs).collect()
               for v in r["sig"])


def test_dedup_clusters_blocks_wide_p_equiv_on_dups(spark):
    """Clustering contract is modulus-independent for identical docs."""
    from supercrawler_spark.operators import dedup
    from supercrawler_spark.operators.clusters import dedup_clusters
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["x y z w v u", "x y z w v u", "a b c d e f",
             "a b c d e f", "lone wolf text row here"])],
        "doc_id long, text string")
    got = sorted(map(tuple,
                     dedup_clusters(docs, p=dedup.P_WIDE).collect()))
    assert got == [(0, 0, True), (1, 0, False), (2, 2, True), (3, 2, False)]
