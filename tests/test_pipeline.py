"""End-to-end corpus-preparation pipeline: every stage exercised once, with
report arithmetic and survivor identity checked."""

import pytest
from pyspark.sql import functions as F

from supercrawler_spark.pipeline import CorpusPipelineConfig, \
    prepare_training_corpus


GOOD = ("the quick brown fox jumps over the lazy dog and it runs far away "
        "into the green quiet woods tonight with a friend on the hill")
B2 = ("a tall ship sails on the wide open sea and the crew is happy to see "
      "the land after many long days of salt wind and waves out there")
B5 = ("please remember that the weather in the mountains can change fast so "
      "pack a warm coat and tell a friend where you are going this weekend")
B6 = ("cooking a good soup takes time and patience because the broth needs "
      "to simmer for hours while you stir it and add the fresh vegetables")


@pytest.fixture(scope="module")
def raw(spark):
    rows = [
        (0, GOOD),
        (1, "too short"),                                   # quality gate
        (2, B2),
        (3, B2),                                            # exact dup of 2
        # near-dup of 0: punct-junk copy loses to 0 on quality
        (4, GOOD + " #@!$%^!!"),
        (5, B5 + " it contains the secret benchmark answer token stream "
                 "for the famous eval question here"),
        (6, B6 + " write to me at someone@example.com for more of it"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def bench(spark):
    return spark.createDataFrame(
        [(100, "the secret benchmark answer token stream for the famous "
               "eval question")],
        "doc_id long, text string")


def test_pipeline_stages_and_report(spark, raw, bench):
    cfg = CorpusPipelineConfig(min_tokens=10, scrub_pii=True)
    clean, report = prepare_training_corpus(raw, benchmark=bench, config=cfg)
    kept = {r["doc_id"]: r["text"] for r in clean.collect()}

    assert report["input_docs"] == 7
    assert report["quality_gate_dropped"] == 1          # doc 1
    assert report["exact_dup_dropped"] == 1             # doc 3 (min-id 2 kept)
    assert report["near_dup_dropped"] >= 1              # doc 4 loses to 0
    assert report["decontaminated_dropped"] == 1        # doc 5
    assert report["output_docs"] == len(kept)
    # identity: survivors are exactly the clean ones
    assert set(kept) == {0, 2, 6}
    # near-dup resolution kept the HIGH-quality copy (0), not the junk (4)
    assert 4 not in kept
    # PII scrub rewrote doc 6's email
    assert "someone@example.com" not in kept[6]
    assert "<EMAIL>" in kept[6]
    assert report["pii_docs_touched"] == 1
    # untouched docs keep their text byte-identically
    assert kept[0] == GOOD


def test_pipeline_no_benchmark_no_pii(spark, raw):
    cfg = CorpusPipelineConfig(min_tokens=10)
    clean, report = prepare_training_corpus(raw, config=cfg)
    assert "decontaminated_dropped" not in report
    assert "pii_docs_touched" not in report
    kept = {r["doc_id"] for r in clean.collect()}
    assert {0, 2, 5, 6} == kept        # doc 5 survives without decontam
    # text column untouched when no rewrite stage is on
    row6 = clean.filter(F.col("doc_id") == 6).first()
    assert "someone@example.com" in row6["text"]


@pytest.mark.parametrize("purity_gate", [False, True])
def test_pipeline_near_dedup_builds_no_pairs(spark, raw, monkeypatch,
                                             purity_gate):
    """Near-dup resolution runs on LSH blocks only: the pipeline (with or
    without the purity gate) and resolve_duplicates never build the
    within-block pair list."""
    from supercrawler_spark.operators import clusters, dedup

    def no_pairs(*a, **k):
        raise AssertionError("minhash_lsh_pairs called")

    monkeypatch.setattr(dedup, "minhash_lsh_pairs", no_pairs)
    clean, report = prepare_training_corpus(
        raw, config=CorpusPipelineConfig(min_tokens=10,
                                         purity_gate=purity_gate))
    assert report["near_dup_dropped"] == 1               # doc 4
    assert {r["doc_id"] for r in clean.collect()} == {0, 2, 5, 6}
    res = clusters.resolve_duplicates(raw).collect()
    assert {r["doc_id"] for r in res if not r["keep"]} >= {3, 4}


# Engineered band-collision partner for GOOD at p=P_ORACLE: word-shingle
# Jaccard is only 0.091, yet minhash band (hash pairs) collision occurs and
# signature agreement with GOOD is 3/8 = 0.375 < 0.5 — a spurious LSH merge
# the purity gate must catch. Found by deterministic search over md5-based
# signatures (pure-Python mirror of dedup.minhash_signatures); pinned here.
SPURIOUS_B = ("river0 quick brown meadow23 jumps river43 prairie8 lantern35 "
              "forest37 orchard16 hollow48 runs far away into willow12 "
              "willow24 breeze14 woods tonight with stone34 friend on the "
              "copper5")


def test_pipeline_purity_gate_protects_spurious_merge(spark):
    """Without the gate, the engineered band collision merges two documents
    whose real Jaccard is 0.09 and near-dup resolution silently deletes one
    of them; with purity_gate=True the cluster's min_sim (0.375) falls
    below suspect_below and BOTH documents survive."""
    docs = spark.createDataFrame(
        [(0, GOOD), (1, SPURIOUS_B), (2, B2)],
        "doc_id long, text string")
    base = dict(min_tokens=10, langs=("en",))
    clean_off, rep_off = prepare_training_corpus(
        docs, config=CorpusPipelineConfig(**base))
    assert rep_off["near_dup_dropped"] == 1          # the silent deletion
    assert {r["doc_id"] for r in clean_off.collect()} == {0, 2}

    clean_on, rep_on = prepare_training_corpus(
        docs, config=CorpusPipelineConfig(purity_gate=True, **base))
    assert rep_on["purity_suspect_clusters"] == 1
    assert rep_on["near_dup_dropped"] == 0
    assert {r["doc_id"] for r in clean_on.collect()} == {0, 1, 2}


def test_pipeline_purity_gate_noop_at_wide_modulus(spark, raw):
    """At dedup.P_WIDE the band-collision tail is empty (no spurious
    merges to exempt) and true near-dups agree far above suspect_below, so
    the gate must change nothing: identical survivors, zero suspect
    clusters, and the genuine near-dup (doc 4) still resolved away."""
    from supercrawler_spark.operators import dedup
    base = dict(min_tokens=10, minhash_p=dedup.P_WIDE)
    clean_off, rep_off = prepare_training_corpus(
        raw, config=CorpusPipelineConfig(**base))
    clean_on, rep_on = prepare_training_corpus(
        raw, config=CorpusPipelineConfig(purity_gate=True, **base))
    assert rep_on["purity_suspect_clusters"] == 0
    assert rep_on["near_dup_dropped"] == rep_off["near_dup_dropped"] >= 1
    off = {r["doc_id"] for r in clean_off.collect()}
    on = {r["doc_id"] for r in clean_on.collect()}
    assert off == on and 4 not in on


def test_pipeline_line_dedup_stage(spark):
    boiler = "subscribe to our newsletter for updates today friends"
    rows = [(i, GOOD + f" unique part {i}\n" + boiler) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = CorpusPipelineConfig(min_tokens=10, near_dedup=False,
                               line_dedup_min_df=2)
    clean, report = prepare_training_corpus(docs, config=cfg)
    assert report["line_deduped_docs"] == 4
    for r in clean.collect():
        assert boiler not in r["text"]
        assert f"unique part {r['doc_id']}" in r["text"]


def test_pipeline_semantic_dedup_stage(spark):
    # docs 0 and 1 share the exact token multiset in different order ->
    # identical hashing-trick vectors (cosine 1); doc 2 is unrelated
    en = "the and of to a in is it for on "      # langid gate needs en hits
    t = en + ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
              "lambda mu nu xi omicron pi rho sigma tau upsilon ") * 2
    shuffled = " ".join(reversed(t.split()))     # same token multiset as t
    other = en + ("one two three four five six seven eight nine ten eleven "
                  "twelve thirteen fourteen fifteen sixteen seventeen ") * 2
    docs = spark.createDataFrame(
        [(0, t), (1, shuffled), (2, other)], "doc_id long, text string")
    cfg = CorpusPipelineConfig(min_tokens=5, langs=("en", "de", "fr", "es"), near_dedup=False,
                               semantic_dedup=True, semantic_k=2,
                               semantic_threshold=0.95)
    clean, report = prepare_training_corpus(docs, config=cfg)
    ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    assert report["semantic_dup_dropped"] == 1
    assert ids == {0, 2}                       # min-id keeper wins
    # stage off by default: nothing semantic-dropped
    cfg_off = CorpusPipelineConfig(min_tokens=5, langs=("en", "de", "fr", "es"),
                                   near_dedup=False)
    _, rep_off = prepare_training_corpus(docs, config=cfg_off)
    assert "semantic_dup_dropped" not in rep_off


def test_pipeline_semantic_dedup_work_dir_path(spark, tmp_path):
    # the parquet lineage-cut path produces the same result as
    # localCheckpoint (and leaves the embeddings artifact behind)
    t = ("the and of to a in is it for on "
         "alpha beta gamma delta epsilon zeta eta theta iota kappa ") * 2
    docs = spark.createDataFrame(
        [(0, t), (1, " ".join(reversed(t.split())))],
        "doc_id long, text string")
    cfg = CorpusPipelineConfig(min_tokens=5, langs=("en", "de", "fr", "es"),
                               near_dedup=False, semantic_dedup=True,
                               semantic_k=2, semantic_threshold=0.95,
                               work_dir=str(tmp_path))
    clean, report = prepare_training_corpus(docs, config=cfg)
    assert report["semantic_dup_dropped"] == 1
    assert {r["doc_id"] for r in clean.collect()} == {0}
    emb = spark.read.parquet(str(tmp_path / "semantic_embeddings.parquet"))
    assert emb.count() == 2 and set(emb.columns) == {"vec_id", "embedding"}


def test_pipeline_dsir_selection_stage(spark):
    """DSIR stage: weights fit on the cleaned corpus, deterministic
    resampling to ~n docs, report arithmetic consistent. Works both with a
    declared lang column and via the langid fallback."""
    rows = [(i, GOOD + f" extra token{i}", "en") for i in range(20)] \
        + [(100 + i, B2 + f" mar y sol {i} el la los un una es no por y",
            "es") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    cfg = CorpusPipelineConfig(langs=("en", "es"), near_dedup=False,
                               dsir_target_n=10)
    out, report = prepare_training_corpus(docs, config=cfg)
    assert report["dsir_selected"] == out.count()
    assert report["dsir_dropped"] + report["dsir_selected"] \
        == report["input_docs"] - report["quality_gate_dropped"] \
        - report["exact_dup_dropped"]
    assert 1 <= report["dsir_selected"] <= 30
    # deterministic: same config -> same survivors
    out2, _ = prepare_training_corpus(docs, config=cfg)
    assert {r["doc_id"] for r in out.collect()} \
        == {r["doc_id"] for r in out2.collect()}
    # langid fallback path (no lang column)
    cfg2 = CorpusPipelineConfig(near_dedup=False, dsir_target_n=10)
    out3, rep3 = prepare_training_corpus(docs.drop("lang"), config=cfg2)
    assert rep3["dsir_selected"] == out3.count() >= 1


def test_pipeline_mojibake_repair_unlocks_dedup(spark):
    """With repair on, two docs identical up to double-encoding dedup to
    one; with repair off they both survive (different bytes)."""
    from supercrawler_spark.operators.mojibake import corrupt_str
    from supercrawler_spark.pipeline import (CorpusPipelineConfig,
                                             prepare_training_corpus)
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "café résumé naïve coöperate ") * 3
    rows = [(0, base, "en", "s"), (1, corrupt_str(base), "en", "s"),
            (2, base + "tail words here for distinctness", "en", "s")]
    docs = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING")
    cfg_on = CorpusPipelineConfig(repair_mojibake=True, near_dedup=False)
    out_on, rep_on = prepare_training_corpus(docs, config=cfg_on)
    assert rep_on["mojibake_repaired"] == 1
    ids_on = {r["doc_id"] for r in out_on.select("doc_id").collect()}
    assert len(ids_on & {0, 1}) == 1          # exact dedup collapsed them
    texts_on = {r["text"] for r in out_on.collect()}
    assert all("Ã" not in t for t in texts_on)
    cfg_off = CorpusPipelineConfig(repair_mojibake=False, near_dedup=False)
    out_off, rep_off = prepare_training_corpus(docs, config=cfg_off)
    assert "mojibake_repaired" not in rep_off
    assert {r["doc_id"] for r in out_off.select("doc_id").collect()} \
        >= {0, 1}
