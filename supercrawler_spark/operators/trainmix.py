"""Training-mix assembly operators: benchmark decontamination, deterministic
corpus shuffle, and stratified (per-stratum) sampling.

These are the last-mile stages between a cleaned corpus and a training run:
remove documents that leak evaluation benchmarks, fix a global sample order
once (so downstream sharding is reproducible), and draw an exact,
deterministic data mix per source/language. Like the rest of ``operators/``
everything is built-in JVM expressions — no Python UDFs, no driver loops —
and each operator has an exact DuckDB-oracle twin in
``__spark_entry__.oracle_sql``.

The reference (duggal1/supercrawler) stops at document collection; these
extend it per SURVEY.md §2 "training-data operators". Decontamination
follows the n-gram-overlap practice of GPT-3 appendix C / Dodge et al. 2021:
a document is contaminated when it shares >= ``min_hits`` distinct word
n-grams with any benchmark text.

Scale design (100 TB corpus, ~MB-scale benchmark):

- ``decontaminate``: the benchmark shingle set is tiny by construction, so
  it is BROADCAST and the corpus (doc, shingle) rows are filtered map-side —
  the only shuffle is the per-doc aggregation of the (rare) hit rows. The
  output is a removal list, not a per-doc annotation, so nothing joins back
  against the full corpus.
- ``shuffle_corpus``: one shuffle keyed on the salted-hash shard plus an
  in-partition sort — the "shuffle once, then shard" pattern. md5-based
  ranks are uniform, so shards are balanced by construction.
- ``stratified_sample``: shuffle-free scan-speed filter; membership is a
  pure function of (salt, doc_id), so the sample is stable under re-runs,
  reshuffling, and cluster size.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, Window, functions as F

from supercrawler_spark.operators.dedup import shingles


def md5long(col):
    """First 60 bits of md5 as a non-negative BIGINT — the engine/oracle
    portable hash (DuckDB lacks xxhash64): mirrors the SQL macro
    ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15),
                  16, 10).cast("long")


def _salted_id_hash(salt: str, id_col: str):
    return md5long(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                  min_hits: int = 1, text_col: str = "text",
                  id_col: str = "doc_id",
                  bench_id_col: str = "doc_id") -> DataFrame:
    """Benchmark-decontamination removal list: (doc_id, bench_hits) for every
    document sharing at least ``min_hits`` DISTINCT word ``n``-grams with the
    benchmark corpus (GPT-3 appendix C style n-gram collision test).

    The benchmark's distinct shingle hashes are broadcast; corpus shingles
    are filtered against them map-side, so corpus-sized data never shuffles
    for the membership test — only the hit rows aggregate per doc."""
    bench_sh = (shingles(benchmark, text_col, bench_id_col, n)
                .select(md5long(F.col("shingle")).alias("sh_hash"))
                .distinct())
    doc_sh = (shingles(docs, text_col, id_col, n)
              .select("doc_id", md5long(F.col("shingle")).alias("sh_hash")))
    return (doc_sh.join(F.broadcast(bench_sh), "sh_hash")
            .groupBy("doc_id")
            .agg(F.countDistinct("sh_hash").alias("bench_hits"))
            .filter(F.col("bench_hits") >= min_hits))


def decontaminate_fuzzy(docs: DataFrame, benchmark: DataFrame,
                        num_hashes: int = 8, band_size: int = 2,
                        min_jaccard_est: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_id_col: str = "doc_id") -> DataFrame:
    """Near-verbatim benchmark decontamination: MinHash-LSH candidate pairs
    between the corpus and the benchmark, verified by the
    signature-agreement Jaccard estimate. The exact n-gram collision test
    (``decontaminate``) misses lightly edited benchmark copies — a
    reworded stem or shifted formatting breaks every verbatim 8-gram while
    the shingle SET stays mostly intact; this is the fuzzy second pass the
    Dolma/FineWeb-style pipelines run. Output
    (doc_id, bench_id, n_agree, jaccard_est) for pairs whose estimated
    Jaccard is at least ``min_jaccard_est``.

    Scale shape: benchmarks are tiny (thousands of rows), so the benchmark
    band rows (carrying their full signature) BROADCAST; the corpus pays
    the minhash signature aggregation (shingle explode → map-side min per
    hash) EXACTLY ONCE — the full signature array rides on every band row,
    so candidate generation and the agreement count come out of the same
    single pass (no re-derivation of the corpus lineage, no corpus
    self-join, no text-keyed corpus shuffle). Candidate fan-out is bounded
    by benchmark size × band collisions. The estimator floor/variance
    caveats of ``minhash_jaccard_estimate`` apply (floor
    band_size/num_hashes)."""
    from supercrawler_spark.operators.dedup import band_keys, minhash_sig_array

    sig_d = minhash_sig_array(docs, num_hashes, text_col, id_col)
    sig_b = (minhash_sig_array(benchmark, num_hashes, text_col,
                               bench_id_col)
             .withColumnRenamed("doc_id", "bench_id")
             .withColumnRenamed("sig", "sigb"))

    matched = (band_keys(sig_d, band_size)
               .join(F.broadcast(band_keys(sig_b, band_size, "sigb")),
                     ["band", "band_key"])
               .select("doc_id", "bench_id",
                       F.size(F.filter(
                           F.zip_with("sig", "sigb",
                                      lambda a, b: a == b),
                           lambda eq: eq)).cast("long").alias("n_agree")))
    return (matched
            .groupBy("doc_id", "bench_id")
            .agg(F.max("n_agree").alias("n_agree"))
            .withColumn("jaccard_est",
                        F.round(F.col("n_agree") / num_hashes, 6))
            .filter(F.col("jaccard_est") >= min_jaccard_est))


def shuffle_corpus(docs: DataFrame, n_shards: int = 1024,
                   salt: str = "shuffle-1", id_col: str = "doc_id") -> DataFrame:
    """Deterministic global shuffle: (doc_id, shard, pos) with
    shard = salted-md5(doc_id) mod ``n_shards`` and ``pos`` the dense rank of
    the hash within its shard (ties broken by doc_id). Reading shards in
    (shard, pos) order visits the corpus in a fixed pseudo-random
    permutation — the reproducible "shuffle once before sharding" a training
    run needs, independent of input partitioning or cluster size."""
    h = _salted_id_hash(salt, id_col)
    d = docs.select(F.col(id_col).alias("doc_id"), h.alias("_h"),
                    F.pmod(h, F.lit(n_shards)).alias("shard"))
    w = Window.partitionBy("shard").orderBy("_h", "doc_id")
    return (d.withColumn("pos", F.row_number().over(w).cast("long"))
            .select("doc_id", "shard", "pos"))


def weighted_epochs(docs: DataFrame, weights: Mapping[str, float],
                    stratum_col: str = "source", salt: str = "epochs-1",
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic data-mix epoch expansion for weights that may exceed 1
    (the GPT-3 table-2.2 "epochs elapsed when training" mix): a stratum with
    weight ``w`` contributes ``floor(w)`` full copies of every document plus
    one more with probability ``frac(w)``, decided by the salted-md5 draw —
    so the realized mix hits the target weight exactly in expectation and
    every copy is reproducible. Output (doc_id, stratum, epoch) with
    epoch = 0..n-1; weight-0 / unlisted strata emit nothing.

    Scale: shuffle-free — one scan, a per-row arithmetic decision and a
    bounded ``explode`` (fan-out = ceil(w), a small constant). Downstream
    shuffling (e.g. ``shuffle_corpus`` keyed on (doc_id, epoch)) spreads the
    copies, so no skew is introduced here."""
    pairs = [x for k, v in sorted(weights.items())
             for x in (F.lit(k), F.lit(float(v)))]
    w = F.coalesce(F.create_map(*pairs)[F.col(stratum_col)], F.lit(0.0))
    draw = F.pmod(_salted_id_hash(salt, id_col), F.lit(1_000_000))
    extra = (draw < F.round((w - F.floor(w)) * 1_000_000).cast("long"))
    n = (F.floor(w).cast("long") + extra.cast("long")).alias("_n")
    return (docs
            .select(F.col(id_col).alias("doc_id"),
                    F.col(stratum_col).alias("stratum"), n)
            .filter(F.col("_n") >= 1)
            .select("doc_id", "stratum",
                    F.explode(F.sequence(F.lit(0).cast("long"),
                                         F.col("_n") - 1)).alias("epoch")))


def stratified_sample(docs: DataFrame, fractions: Mapping[str, float],
                      stratum_col: str = "source", salt: str = "sample-1",
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-stratum Bernoulli sample — the data-mix draw: keep a
    document iff salted-md5(doc_id) mod 10^6 < fraction(stratum) * 10^6.
    Strata absent from ``fractions`` are dropped (fraction 0). Output
    (doc_id, stratum). Membership depends only on (salt, doc_id), so the
    draw is exactly reproducible and two salts give independent samples."""
    pairs = [x for k, v in sorted(fractions.items())
             for x in (F.lit(k), F.lit(float(v)))]
    frac = F.coalesce(F.create_map(*pairs)[F.col(stratum_col)], F.lit(0.0))
    draw = F.pmod(_salted_id_hash(salt, id_col), F.lit(1_000_000))
    return (docs
            .filter(draw < (frac * 1_000_000).cast("long"))
            .select(F.col(id_col).alias("doc_id"),
                    F.col(stratum_col).alias("stratum")))


def importance_sample(weights: DataFrame, n: int, salt: str = "isample-1",
                      id_col: str = "doc_id",
                      logw_col: str = "dsir_logweight") -> DataFrame:
    """Deterministic Poisson importance resampling — the R in DSIR: keep
    document i with probability min(1, n * w_i / W), w_i = exp(logw_i),
    so the expected sample size is ~n and inclusion probability is
    proportional to the importance weight.

    The inclusion test is INTEGER-exact in both engines: weights are
    fixed-pointed to 6 decimals (w6 = round(exp(logw), 6) * 1e6), the
    pseudo-random draw u is the md5 hash of (salt, id) reduced mod 1e6,
    and the comparison ``u * W6 < n * w6 * 1e6`` multiplies BIGINTs only —
    no float threshold to disagree on at the boundary. One scan plus a
    broadcast one-row total; no shuffle of the corpus. Overflow headroom:
    u*W6 < 1e6 * W6, so this exact form holds to W6 ~ 9e12 (≈ 9e6 docs of
    mean weight 1); beyond that, rescale w6 to coarser fixed point or
    compare in DOUBLE with a documented boundary tolerance.

    Returns (doc_id, weight, u) for the kept rows — u exposed so an audit
    can recheck the draw."""
    scale = 1_000_000
    # round to the integer BEFORE the cast: Spark's double->long cast
    # truncates while DuckDB's rounds, so `round(x*1e6, 0)` is the portable
    # fixed-point step (a bare `round(x, 6) * 1e6` can land at
    # n-epsilon and truncate to n-1 on one engine only)
    w6 = F.round(F.exp(F.col(logw_col)) * scale, 0).cast("long")
    d = weights.select(F.col(id_col).alias("doc_id"), w6.alias("w6"))
    tot = d.agg(F.sum("w6").alias("w6_total"))
    u = F.pmod(_salted_id_hash(salt, "doc_id"), F.lit(scale))
    return (d.crossJoin(F.broadcast(tot))
            .withColumn("u", u)
            .filter(F.col("u") * F.col("w6_total")
                    < F.lit(n) * F.col("w6") * F.lit(scale))
            .select("doc_id",
                    F.round(F.col("w6") / scale, 6).alias("weight"), "u"))


def domain_kl(docs: DataFrame, text_col: str = "text",
              source_col: str = "source") -> DataFrame:
    """(source, n_docs, n_tokens, vocab, kl_bits, h_source_bits,
    h_cross_bits): per-source unigram divergence from the corpus — the
    DoReMi / domain-reweighting signal (Xie et al. 2023): a source whose
    token distribution sits far from the mix (high KL) is the one whose
    sampling weight most changes what the model sees, and cross-entropy
    H(p_s, q) = H(p_s) + KL(p_s || q) is its per-token coding cost under
    the corpus-mix model.

    KL(p_s || q) = sum_t p_s(t) * log2(p_s(t) / q(t)) needs no smoothing:
    every source token is in the corpus by construction, so q(t) > 0
    wherever p_s(t) > 0.

    Scale shape — the exploded token stream is aggregated EXACTLY ONCE
    (plan-audited: one (source, token) count shuffle). Corpus token
    counts, per-source totals, and per-source vocab all come from
    windows OVER that small count table (token-keyed and source-keyed
    window shuffles of vocab-sized rows, never the raw stream again).
    The one global quantity, n_all, never touches the exploded stream:
    it is a column-pruned explode-free sum of per-doc token-array sizes
    (one-row broadcast), injected algebraically after aggregation —
    log2 factors: p*log2(p/q) = p*log2(cnt_st/(n_s*cnt_t)) +
    p*log2(n_all), and sum_t p = 1 exactly, so kl = partial +
    log2(n_all) (same regrouped form mirrored in the oracle, so float
    results stay engine-identical). Per-source sums are rounded to 6 dp
    (the repo's float-agg convention — terms.py bm25)."""
    from supercrawler_spark.operators.textquality import _tokens

    occ = docs.select(F.col(source_col).alias("source"),
                      F.explode(_tokens(text_col)).alias("token"))
    st = occ.groupBy("source", "token").agg(F.count("*").alias("cnt_st"))
    w_tok = Window.partitionBy("token")
    w_src = Window.partitionBy("source")
    en = (st.withColumn("cnt_t", F.sum("cnt_st").over(w_tok))
          .withColumn("n_s", F.sum("cnt_st").over(w_src))
          .withColumn("vocab", F.count(F.lit(1)).over(w_src)))
    grand = docs.agg(F.sum(F.size(_tokens(text_col))).alias("n_all"))
    ndocs = (docs.groupBy(F.col(source_col).alias("source"))
             .agg(F.count("*").alias("n_docs")))
    p = F.col("cnt_st") / F.col("n_s")
    agg = (en.select(
            "source", "n_s", "vocab",
            (p * F.log2(F.col("cnt_st")
                        / (F.col("n_s").cast("double") * F.col("cnt_t"))))
            .alias("_klp"),
            (-p * F.log2(F.col("cnt_st") / F.col("n_s").cast("double")))
            .alias("_hs"),
            (-p * F.log2(F.col("cnt_t").cast("double"))).alias("_hxp"))
           .groupBy("source", "n_s", "vocab")
           .agg(F.sum("_klp").alias("_klp"), F.sum("_hs").alias("_hs"),
                F.sum("_hxp").alias("_hxp")))
    return (agg.crossJoin(F.broadcast(grand))
            .join(F.broadcast(ndocs), "source")
            .select("source", "n_docs",
                    F.col("n_s").cast("long").alias("n_tokens"),
                    F.col("vocab").cast("long").alias("vocab"),
                    F.round(F.col("_klp") + F.log2("n_all"), 6)
                    .alias("kl_bits"),
                    F.round("_hs", 6).alias("h_source_bits"),
                    F.round(F.col("_hxp") + F.log2("n_all"), 6)
                    .alias("h_cross_bits")))


def temperature_mix(docs: DataFrame, alpha: float = 0.5,
                    stratum_col: str = "source") -> DataFrame:
    """(stratum, n_docs, share, temp_weight, epochs): temperature-scaled
    source sampling rates (T5/mT5 practice: rate_s ∝ share_s^alpha,
    alpha < 1 upweights low-resource strata). ``epochs`` =
    temp_weight / share is how many passes over stratum s a
    target-mix training run makes relative to natural sampling — the
    per-source repetition factor that pairs with :func:`weighted_epochs`
    to realize the mix.

    Scale shape: one map-side-combinable groupBy(stratum) count; every
    later step runs on the few-row stratum table (one-row totals
    broadcast). Float outputs are 6-dp rounded per the repo convention."""
    counts = (docs.groupBy(F.col(stratum_col).alias("stratum"))
              .agg(F.count("*").alias("n_docs")))
    tot = counts.agg(F.sum("n_docs").alias("n_all"))
    s = (counts.crossJoin(F.broadcast(tot))
         .withColumn("share", F.col("n_docs") / F.col("n_all"))
         .withColumn("_pw", F.pow(F.col("share"), F.lit(float(alpha)))))
    z = s.agg(F.sum("_pw").alias("z"))
    return (s.crossJoin(F.broadcast(z))
            .select("stratum", F.col("n_docs").cast("long").alias("n_docs"),
                    F.round("share", 6).alias("share"),
                    F.round(F.col("_pw") / F.col("z"), 6)
                    .alias("temp_weight"),
                    F.round((F.col("_pw") / F.col("z")) / F.col("share"), 6)
                    .alias("epochs")))


def token_budget_select(docs: DataFrame, budget_tokens: int,
                        text_col: str = "text", id_col: str = "doc_id"
                        ) -> tuple[DataFrame, DataFrame]:
    """Greedy best-quality-first corpus selection under a global token
    budget: order every document by (quality desc, doc_id asc), keep the
    prefix whose running token total stays within ``budget_tokens`` —
    the "give me the best N tokens" stage between scoring and training.

    Output (doc_id, quality, n_tokens, cum_tokens, kept); the full
    ranking is returned (not just the kept prefix) so the budget can be
    re-cut without recomputing scores.

    The global running sum is the two-phase pattern (attach_dense_seq
    family): range-repartition on the order key, windowed sum WITHIN each
    partition, then add per-partition token offsets (driver collect of
    one row per partition — bounded by partition count, not data). No
    single-task global window. Returns ``(out, cache)``; the CALLER MUST
    ``unpersist()`` the cache once the result is materialized (the
    persist pins the sampled range bounds so the offsets job and the
    output job see the same partitioning)."""
    from supercrawler_spark.operators.textquality import quality_score

    q = quality_score(docs, text_col=text_col, id_col=id_col).select(
        F.col("doc_id"), F.col("quality"),
        F.col("n_tokens").cast("long").alias("n_tokens"))
    d = q.repartitionByRange(F.col("quality").desc(), F.col("doc_id").asc())
    d = d.withColumn("_pid", F.spark_partition_id()).persist()
    parts = {r["_pid"]: r["t"]
             for r in d.groupBy("_pid")
             .agg(F.sum("n_tokens").alias("t")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(parts):
        offsets[pid] = acc
        acc += parts[pid]
    off_df = docs.sparkSession.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()],
        "_pid INT, _offset BIGINT")
    w = (Window.partitionBy("_pid")
         .orderBy(F.col("quality").desc(), F.col("doc_id").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (d.join(F.broadcast(off_df), "_pid")
           .withColumn("cum_tokens",
                       (F.col("_offset") + F.sum("n_tokens").over(w))
                       .cast("long"))
           .withColumn("kept", F.col("cum_tokens") <= budget_tokens)
           .select("doc_id", "quality", "n_tokens", "cum_tokens", "kept"))
    return out, d
