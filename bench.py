#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set:
  - crawl_scan  : full-corpus fetch+extract (depth-0 crawl, every url a seed)
                  over the synthetic Common-Crawl-style pages table — the
                  BASELINE.json "frontier URLs processed/sec" number and the
                  scaling-efficiency job (BENCH/BASELINE.md runs it at
                  local[8] vs local[32]).
  - crawl_bfs   : multi-round BFS (sampled seeds, depth 2) — "fetch-extract
                  rounds wall-time".
  - crawl_bfs_polite : same with robots + crawl-delay politeness on.
  - dedup/similarity/text ops over the driver testdata tables.

Env:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local cores (default 32)
  SPARK_GRAFT_BENCH_ONLY  comma-separated subset of bench names
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    only = set(only.split(",")) if only else None
    sf = 0.1
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            sf = float(base[2:])
        except ValueError:
            pass

    from pyspark.sql import functions as F

    from supercrawler_spark.crawler import CrawlConfig, crawl
    from supercrawler_spark.operators import (
        clusters, corpus, dedup, graph, linededup, multimodal, normalize,
        pagerank, recrawl, similarity, textquality, trainmix,
    )
    from supercrawler_spark.session import get_spark
    from supercrawler_spark.sources import synth

    synth_sf = float(os.environ.get("SPARK_GRAFT_SYNTH_SF", sf))
    corpus_dir = synth.ensure_corpus(synth_sf)  # cached after first generation
    spark = get_spark("supercrawler-bench", cores=cpus)
    pages, seeds, robots = synth.load_tables(spark, corpus_dir)
    n_pages = pages.count()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # warm JVM codegen + Arrow + python-worker paths so benches measure
    # steady state (one-time session costs are not the 100 TB design point)
    from supercrawler_spark.functions import udfs
    (pages.limit(32)
     .select(udfs.make_round_udf()("url", "html", "content_type",
                                   F.lit(True)).alias("p"))
     .write.mode("overwrite").parquet(tempfile.mkdtemp(prefix="bw_") + "/w"))

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def bench(name, fn):
        if only is not None and name not in only:
            return
        t0 = time.monotonic()
        fn()
        timings[name] = round(time.monotonic() - t0, 3)

    def crawl_scan():
        all_seeds = pages.select(
            "url", F.pmod(F.xxhash64("url"), F.lit(1 << 40)).alias("seed_order"))
        cfg = CrawlConfig(crawl_depth=0, num_buckets=32)
        res = crawl(spark, pages, all_seeds, cfg,
                    store_dir=tempfile.mkdtemp(prefix="bench_scan_"))
        extras["crawl_scan_urls"] = n_pages
        extras["crawl_scan_docs"] = res.docs.count()

    def crawl_scan_bucketwise():
        """Same full-width scan with broadcast_frontier_max=0: forces the
        bucket-wise emulated storage-partitioned join on every round —
        reports the strategy the engine uses when the frontier exceeds the
        broadcast cap (pages html still never shuffles)."""
        all_seeds = pages.select(
            "url", F.pmod(F.xxhash64("url"), F.lit(1 << 40)).alias("seed_order"))
        cfg = CrawlConfig(crawl_depth=0, num_buckets=32,
                          broadcast_frontier_max=0)
        res = crawl(spark, pages, all_seeds, cfg,
                    store_dir=tempfile.mkdtemp(prefix="bench_scanbw_"))
        extras["crawl_scan_bucketwise_docs"] = res.docs.count()

    def crawl_bfs():
        some_seeds = (pages
                      .filter(F.pmod(F.xxhash64("url"), F.lit(100)) == 0)
                      .select("url", F.pmod(F.xxhash64("url"), F.lit(1 << 40))
                              .alias("seed_order")))
        cfg = CrawlConfig(crawl_depth=2, num_buckets=32)
        res = crawl(spark, pages, some_seeds, cfg,
                    store_dir=tempfile.mkdtemp(prefix="bench_bfs_"))
        m = res.metrics.agg(F.sum("processed")).collect()[0][0]
        extras["crawl_bfs_processed"] = int(m or 0)
        extras["crawl_bfs_rounds"] = res.rounds_run

    def crawl_bfs_bloom():
        """BFS with the Bloom seen-prefilter on: candidates the filter
        proves new skip the exact anti-join (bloom_definite_new metric)."""
        some_seeds = (pages
                      .filter(F.pmod(F.xxhash64("url"), F.lit(100)) == 0)
                      .select("url", F.pmod(F.xxhash64("url"), F.lit(1 << 40))
                              .alias("seed_order")))
        cfg = CrawlConfig(crawl_depth=2, num_buckets=32, seen_bloom=True)
        res = crawl(spark, pages, some_seeds, cfg,
                    store_dir=tempfile.mkdtemp(prefix="bench_bfsbl_"))
        extras["crawl_bloom_definite_new"] = int(
            res.metrics.agg(F.sum("bloom_definite_new")).collect()[0][0] or 0)
        extras["crawl_bloom_candidates"] = int(
            res.metrics.agg(F.sum("candidates")).collect()[0][0] or 0)

    def crawl_bfs_polite():
        some_seeds = (pages
                      .filter(F.pmod(F.xxhash64("url"), F.lit(100)) == 0)
                      .select("url", F.pmod(F.xxhash64("url"), F.lit(1 << 40))
                              .alias("seed_order")))
        # round_budget_ms models the wall budget a CLUSTER round amortizes
        # the per-host crawl delay over; 240 s is realistic for multi-minute
        # rounds and keeps the deferral drain to a few extra rounds. (Since
        # the deferral-depth fix the polite crawl processes ALL deferred
        # work — the earlier 60 s-budget number silently truncated it.)
        cfg = CrawlConfig(crawl_depth=2, num_buckets=32, politeness=True,
                          round_budget_ms=240_000)
        res = crawl(spark, pages, some_seeds, cfg,
                    store_dir=tempfile.mkdtemp(prefix="bench_bfsp_"),
                    robots=robots)
        extras["crawl_polite_blocked"] = int(
            res.metrics.agg(F.sum("robots_blocked")).collect()[0][0] or 0)
        extras["crawl_polite_deferrals"] = int(
            res.metrics.agg(F.sum("deferred")).collect()[0][0] or 0)
        extras["crawl_polite_rounds"] = res.rounds_run
        extras["crawl_polite_processed"] = int(
            res.metrics.agg(F.sum("processed")).collect()[0][0] or 0)

    # recall bookkeeping runs OUTSIDE the timed region: the timing is the
    # ANN query alone; the exact baseline + multiprobe variant are extras
    ann_sets: dict[str, set] = {}

    def lsh_ann():
        q = emb.filter(F.col("vec_id") < 20)
        ann_sets["lsh"] = {(r["query_id"], r["neighbor_id"])
                           for r in similarity.lsh_ann_topk(emb, q, k=3)
                           .collect()}

    def lsh_recall_extras():
        """Measured recall@3 vs the exact baseline (BENCH/BASELINE.md)."""
        q = emb.filter(F.col("vec_id") < 20)
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in similarity.cosine_topk(emb, q, k=3).collect()}
        ann_sets["exact"] = exact
        extras["lsh_ann_recall_at3"] = round(
            len(ann_sets["lsh"] & exact) / max(1, len(exact)), 4)
        mp = {(r["query_id"], r["neighbor_id"])
              for r in similarity.lsh_ann_topk(emb, q, k=3,
                                               multiprobe=True).collect()}
        extras["lsh_ann_multiprobe_recall_at3"] = round(
            len(mp & exact) / max(1, len(exact)), 4)

    bench("crawl_scan", crawl_scan)
    bench("crawl_scan_bucketwise", crawl_scan_bucketwise)
    bench("crawl_bfs", crawl_bfs)
    bench("crawl_bfs_bloom", crawl_bfs_bloom)
    bench("crawl_bfs_polite", crawl_bfs_polite)
    def cuckoo_seen():
        """Build the deletable cuckoo seen-set over half the corpus urls,
        probe the full corpus through the packed broadcast table."""
        from supercrawler_spark.operators import cuckoo as _cuckoo
        from supercrawler_spark.operators import graph as _graph
        d = _graph.with_url(docs)
        h = F.xxhash64("url")
        hashed = d.select("doc_id", h.alias("url_hash"),
                          F.pmod(h, F.lit(32)).alias("bucket"))
        ent = _cuckoo.cuckoo_entries(
            hashed.filter(F.col("doc_id") % 2 == 0), m_buckets=1 << 10)
        flags = _cuckoo.cuckoo_prefilter(
            hashed, _cuckoo.pack_cuckoo(ent), m_buckets=1 << 10)
        flags.agg(F.sum(F.col("maybe_seen").cast("long"))).collect()

    bench("cuckoo_seen", cuckoo_seen)
    bench("exact_dedup", lambda: dedup.exact_dedup(docs).count())
    bench("minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(docs).count())
    bench("simhash", lambda: dedup.simhash(docs).count())
    bench("simhash_near_pairs", lambda: dedup.simhash_near_pairs(
        docs, bits=16, radius=3).count())
    bench("ngram_jaccard_pairs", lambda: dedup.ngram_jaccard_pairs(
        docs, threshold=0.2, max_shingle_df=1000).count())
    bench("token_quality", lambda: textquality.quality_score(docs)
          .agg(F.sum("n_tokens")).collect())
    bench("chunk_documents", lambda: textquality.chunk_documents(
        docs, window=128, overlap=16).count())
    bench("fingerprint", lambda: textquality.fingerprint(docs).count())
    bench("entropy_signals", lambda: textquality.entropy_signals(docs)
          .agg(F.sum("n_tokens")).collect())
    bench("script_detect", lambda: textquality.script_detect(docs)
          .groupBy("script").count().collect())
    bench("normalize_text", lambda: normalize.normalize_text(docs)
          .agg(F.sum("n_chars_norm")).collect())
    bench("repetition_signals", lambda: corpus.repetition_signals(docs)
          .agg(F.sum("n_tokens")).collect())
    bench("scrub_pii", lambda: corpus.scrub_pii(docs)
          .agg(F.sum("n_emails"), F.sum(F.length("redacted"))).collect())
    bench("source_stats", lambda: corpus.source_stats(docs).count())
    bench("decontaminate", lambda: trainmix.decontaminate(
        docs, docs.filter(F.col("doc_id") % 37 == 0), n=8).count())
    bench("decontaminate_fuzzy", lambda: trainmix.decontaminate_fuzzy(
        docs, docs.filter(F.col("doc_id") % 37 == 0)).count())
    bench("shuffle_corpus", lambda: trainmix.shuffle_corpus(
        docs, n_shards=256).count())
    bench("stratified_sample", lambda: trainmix.stratified_sample(
        docs, {"src0": 0.8, "src1": 0.5, "src2": 0.25, "src3": 0.1}).count())
    bench("frame_sample", lambda: multimodal.frame_sample_plan(
        multimodal.docs_as_media(docs), every_n=10).count())
    bench("weighted_epochs", lambda: trainmix.weighted_epochs(
        docs, {"src0": 2.5, "src1": 1.25, "src2": 0.75}).count())

    def _multiline_docs():
        # same injected 5-line structure as the line_dedup oracle query
        return docs.select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.lit("NAV | Home | About | Contact"),
                F.concat(F.lit("SOURCE "), F.col("source"),
                         F.lit(" FOOTER")),
                F.substring("text", 1, 60),
                F.substring("text", 61, 60),
                F.concat(F.lit("doc "), F.col("doc_id").cast("string"),
                         F.lit(" unique line"))).alias("text"))

    bench("line_dedup", lambda: linededup.line_dedup(
        _multiline_docs(), min_df=5)
        .agg(F.sum("n_dropped"), F.sum(F.length("text_clean"))).collect())
    bench("pagerank", lambda: pagerank.pagerank(docs, iters=2)
          .agg(F.sum("rank")).collect())

    def recrawl_bench():
        d = graph.with_url(docs).select("doc_id", "url", "host")
        snap = lambda extra: d.select(
            "url", "host",
            F.to_timestamp(F.date_sub(
                F.lit("2026-01-01").cast("date"),
                ((F.col("doc_id") % 400) + extra).cast("int")))
            .alias("warc_ts"))
        return recrawl.recrawl_schedule(
            snap(0).union(snap(37)), "2026-01-01 00:00:00",
            min_age_days=60, per_host_cap=50).count()

    bench("recrawl_schedule", recrawl_bench)

    def snapshot_diff_bench():
        from supercrawler_spark.operators import graph as _graph
        from supercrawler_spark.operators.recrawl import snapshot_diff
        d = _graph.with_url(docs).select("doc_id", "url", "text")
        old_s = d.select("url", F.col("text").alias("html"))
        new_s = (d.filter(F.col("doc_id") % 17 != 0)
                 .select("url", F.when(F.col("doc_id") % 13 == 0,
                                       F.concat(F.col("text"), F.lit(" v2")))
                         .otherwise(F.col("text")).alias("html")))
        extras["snapshot_delta_rows"] = snapshot_diff(old_s, new_s).count()

    bench("snapshot_diff", snapshot_diff_bench)

    def sessionize_bench():
        from supercrawler_spark.operators.sessions import sessionize
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        extras["sessions"] = sessionize(ev, gap_minutes=30).count()

    bench("sessionize", sessionize_bench)

    def pack_sequences_bench():
        from supercrawler_spark.operators.packing import pack_sequences
        packed = pack_sequences(docs, budget=2048, n_shards=64)
        row = packed.agg(F.count("*").alias("n"),
                         F.countDistinct("shard", "pack").alias("p")).collect()[0]
        extras["packed_docs"] = int(row["n"])
        extras["packs"] = int(row["p"])

    bench("pack_sequences", pack_sequences_bench)

    def unigram_logprob_bench():
        from supercrawler_spark.operators.lm import unigram_logprob
        scored = unigram_logprob(docs, vocab_size=1000)
        row = scored.agg(F.avg("avg_nll").alias("m"),
                         F.count("*").alias("n")).collect()[0]
        extras["unigram_mean_nll"] = round(float(row["m"]), 3)

    bench("unigram_logprob", unigram_logprob_bench)

    def span_dup_stats_bench():
        from supercrawler_spark.operators.spans import span_dup_stats
        st = span_dup_stats(docs, w=8, min_count=2)
        row = st.agg(F.sum("dup_windows").alias("d"),
                     F.sum("n_windows").alias("n")).collect()[0]
        extras["dup_window_fraction"] = round(
            float(row["d"]) / float(row["n"]), 4)

    bench("span_dup_stats", span_dup_stats_bench)

    def remove_spans_bench():
        from supercrawler_spark.operators.spans import remove_duplicate_spans
        out = remove_duplicate_spans(docs, w=8, min_count=2)
        row = out.agg(F.sum("removed_tokens").alias("r"),
                      F.sum("n_tokens").alias("n")).collect()[0]
        extras["cut_token_fraction"] = round(
            float(row["r"]) / float(row["n"]), 4)

    bench("remove_duplicate_spans", remove_spans_bench)

    def bm25_bench():
        from supercrawler_spark.operators.terms import bm25_topk
        return bm25_topk(docs, ["dup", "vector", "spark", "batch"],
                         k=10).count()

    bench("bm25_topk", bm25_bench)

    def trap_signals_bench():
        import __spark_entry__ as entry_mod
        out = entry_mod.q_trap_signals(spark, sf_dir)
        extras["trap_hosts"] = out.filter(F.col("suspect") == 1).count()

    bench("trap_signals", trap_signals_bench)

    def kmeans_bench():
        from supercrawler_spark.operators.kmeans import kmeans_assign
        out = kmeans_assign(emb, k=16, n_iters=3)
        extras["kmeans_cells"] = out.select("cell").distinct().count()

    bench("kmeans_assign", kmeans_bench)

    def tfidf_bench():
        from supercrawler_spark.operators.terms import tfidf_topterms
        out = tfidf_topterms(docs, n_docs=docs.count(), k=5)
        extras["tfidf_rows"] = out.count()

    bench("tfidf_topterms", tfidf_bench)

    def bigram_pmi_bench():
        from supercrawler_spark.operators.terms import bigram_pmi
        out = bigram_pmi(docs, min_count=5, k=50)
        extras["pmi_top_pairs"] = out.count()

    bench("bigram_pmi", bigram_pmi_bench)

    def hll_bench():
        from supercrawler_spark.operators.sketches import hll_distinct
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        est = {r["event_type"]: r["hll_distinct"]
               for r in hll_distinct(ev, ["event_type"], "user_id").collect()}
        exact = {r["event_type"]: r["d"] for r in
                 ev.groupBy("event_type")
                 .agg(F.countDistinct("user_id").alias("d")).collect()}
        relerr = max(abs(est[k] - exact[k]) / exact[k] for k in exact)
        extras["hll_event_types"] = len(est)
        extras["hll_max_relerr"] = round(relerr, 4)

    bench("hll_distinct", hll_bench)

    def semdedup_bench():
        from supercrawler_spark.operators.kmeans import semdedup
        out = semdedup(emb, k=16, n_iters=2, threshold=0.4)
        extras["semdedup_pairs"] = out.count()

    bench("semdedup", semdedup_bench)

    def zorder_bench():
        import __spark_entry__ as entry_mod
        extras["zorder_rows"] = entry_mod.q_zorder_key(spark, sf_dir).count()

    bench("zorder_key", zorder_bench)

    def hash_embed_bench():
        from supercrawler_spark.operators.embed import hash_embed
        out = hash_embed(docs, dim=64)
        extras["hash_embed_docs"] = out.count()

    bench("hash_embed", hash_embed_bench)

    def hits_bench():
        import __spark_entry__ as entry_mod
        out = entry_mod.q_hits(spark, sf_dir)
        extras["hits_nodes"] = out.count()

    bench("hits", hits_bench)

    def cms_bench():
        import __spark_entry__ as entry_mod
        est = {r["key"]: r["est"] for r in
               entry_mod.q_cms_token_counts(spark, sf_dir).collect()}
        extras["cms_probe_keys"] = len(est)
        extras["cms_absent_est"] = int(est["zqx_absent_1"])

    bench("cms_token_counts", cms_bench)

    def url_templates_bench():
        import __spark_entry__ as entry_mod
        out = entry_mod.q_url_templates(spark, sf_dir)
        extras["url_template_families"] = out.count()

    bench("url_templates", url_templates_bench)

    def length_histogram_bench():
        from supercrawler_spark.operators.corpus import length_histogram
        extras["length_buckets"] = length_histogram(docs).count()

    bench("length_histogram", length_histogram_bench)

    def sitemap_seeds_bench():
        from supercrawler_spark.operators import sitemaps
        extras["sitemap_entries"] = sitemaps.sitemap_seeds(docs).count()

    bench("sitemap_seeds", sitemap_seeds_bench)

    def sitemap_index_bench():
        from supercrawler_spark.operators import sitemaps
        extras["sitemap_index_entries"] = \
            sitemaps.sitemap_index_seeds(docs).count()

    bench("sitemap_index", sitemap_index_bench)

    def sitemap_refresh_bench():
        import __spark_entry__ as entry_mod
        extras["sitemap_refresh_due"] = \
            entry_mod.q_sitemap_refresh(spark, sf_dir).count()

    bench("sitemap_refresh", sitemap_refresh_bench)

    def host_quantiles_bench():
        extras["host_quantile_rows"] = corpus.host_quantiles(docs).count()

    bench("host_quantiles", host_quantiles_bench)

    def resolve_redirects_bench():
        from supercrawler_spark.operators import redirects
        r = redirects.resolve_redirects(docs)
        hops_max, rows = r.agg(F.max("hops"), F.count("*")).first()
        extras["redirect_hops_max"] = hops_max or 0
        extras["redirect_rows"] = rows

    bench("resolve_redirects", resolve_redirects_bench)

    def jaccard_estimate_bench():
        # 32 hashes: the LSH-candidate conditioning floor drops to 2/32 and
        # the estimator resolves the full similarity spectrum (see operator
        # docstring). Timed cell = the estimator pass alone (like
        # lsh_ann_topk); the accuracy comparison below runs untimed.
        est = dedup.minhash_jaccard_estimate(docs, num_hashes=32)
        extras["jaccard_est_pairs"] = est.count()

    bench("minhash_jaccard_estimate", jaccard_estimate_bench)

    # untimed extras: estimate-vs-exact accuracy over the SAME uncapped
    # Jaccard the signatures estimate (df cap disabled on the exact side;
    # threshold=0 keeps low-J candidates in the comparison). Gated with
    # the timed cell: the uncapped exact pass is the expensive quadratic
    # one, and a SPARK_GRAFT_BENCH_ONLY run focused elsewhere must not
    # pay for it
    if only is None or "minhash_jaccard_estimate" in only:
        est = dedup.minhash_jaccard_estimate(docs, num_hashes=32)
        exact = dedup.ngram_jaccard_pairs(docs, threshold=0.0,
                                          max_shingle_df=None)
        row = (est.join(exact, ["a_id", "b_id"])
               .agg(F.corr("jaccard_est", "jaccard").alias("c"),
                    F.avg(F.abs(F.col("jaccard_est") - F.col("jaccard")))
                    .alias("mae")).collect()[0])
        extras["jaccard_est_corr"] = round(float(row["c"] or 0.0), 4)
        extras["jaccard_est_mae"] = round(float(row["mae"] or 0.0), 4)

    def anchor_corpus_bench():
        from supercrawler_spark.operators import anchors as _anchors
        from supercrawler_spark.operators import graph as _graph
        ap = _anchors.pages_with_text_anchors(docs, _graph.doc_count(docs))
        out = _anchors.anchor_corpus(_anchors.anchor_pairs(ap), top_k=3)
        extras["anchor_targets"] = out.filter(F.col("rank") == 1).count()

    bench("anchor_corpus", anchor_corpus_bench)

    def host_graph_bench():
        from supercrawler_spark.operators import graph as _graph
        extras["host_graph_edges"] = _graph.host_graph(
            docs, _graph.doc_count(docs)).count()

    bench("host_graph", host_graph_bench)
    bench("top_tokens", lambda: corpus.top_tokens(docs, k=50).count())

    cc_cache = {}

    def dedup_clusters_bench():
        # bipartite doc<->block propagation: rows shuffled per round are
        # docs x bands, never k^2 block pairs
        out = clusters.dedup_clusters(docs).persist()
        extras["dedup_cluster_members"] = out.count()
        cc_cache["cc"] = out

    bench("dedup_clusters", dedup_clusters_bench)

    def resolve_duplicates_bench():
        # pipeline shape: resolve over the materialized cluster table
        cc = cc_cache.get("cc") or clusters.dedup_clusters(docs)
        out = clusters.resolve_duplicates(docs, clusters=cc)
        extras["resolve_keepers"] = out.filter(F.col("keep")).count()

    bench("resolve_duplicates", resolve_duplicates_bench)
    if "cc" in cc_cache:
        cc_cache["cc"].unpersist()
    bench("cosine_topk", lambda: similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=3).count())
    def ivf_ann():
        q = emb.filter(F.col("vec_id") < 20)
        ann_sets["ivf"] = {(r["query_id"], r["neighbor_id"])
                           for r in similarity.ivf_ann_topk(emb, q, k=3)
                           .collect()}

    def exact_baseline():
        # computed once, shared by both recall extras; self-contained so a
        # bench subset without lsh_ann_topk still reports ivf recall
        if "exact" not in ann_sets:
            q = emb.filter(F.col("vec_id") < 20)
            ann_sets["exact"] = {
                (r["query_id"], r["neighbor_id"])
                for r in similarity.cosine_topk(emb, q, k=3).collect()}
        return ann_sets["exact"]

    bench("lsh_ann_topk", lsh_ann)
    if "lsh" in ann_sets:
        lsh_recall_extras()
    bench("ivf_ann_topk", ivf_ann)
    if "ivf" in ann_sets:
        exact = exact_baseline()
        extras["ivf_ann_recall_at3"] = round(
            len(ann_sets["ivf"] & exact) / max(1, len(exact)), 4)

    def ivf_ann_trained():
        q = emb.filter(F.col("vec_id") < 20)
        ann_sets["ivf_t"] = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_ann_topk_trained(emb, q, k=3).collect()}

    bench("ivf_ann_topk_trained", ivf_ann_trained)
    if "ivf_t" in ann_sets:
        exact = exact_baseline()
        extras["ivf_trained_recall_at3"] = round(
            len(ann_sets["ivf_t"] & exact) / max(1, len(exact)), 4)

    def ivfpq_ann():
        q = emb.filter(F.col("vec_id") < 20)
        ann_sets["ivfpq"] = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivfpq_ann_topk(emb, q, k=3).collect()}

    bench("ivfpq_ann_topk", ivfpq_ann)
    if "ivfpq" in ann_sets:
        # IVF-PQ quantizes L2 — metric-matched baseline, like pq_* cells
        if "exact_l2" not in ann_sets:
            q = emb.filter(F.col("vec_id") < 20)
            ann_sets["exact_l2"] = {
                (r["query_id"], r["neighbor_id"])
                for r in similarity.l2_topk(emb, q, k=3).collect()}
        exact_l2 = ann_sets["exact_l2"]
        extras["ivfpq_recall_at3_l2"] = round(
            len(ann_sets["ivfpq"] & exact_l2) / max(1, len(exact_l2)), 4)

    def pq_ann():
        q = emb.filter(F.col("vec_id") < 20)
        ann_sets["pq"] = {(r["query_id"], r["neighbor_id"])
                          for r in similarity.pq_ann_topk(emb, q, k=3)
                          .collect()}

    bench("pq_ann_topk", pq_ann)
    if "pq" in ann_sets:
        # metric-matched baseline: PQ quantizes L2, so recall is measured
        # against exact squared-L2 top-k (not the cosine baseline). On this
        # RANDOM near-orthogonal table the distance gaps are smaller than
        # 4x16 quantization noise, so top-3 recall reads ~0 (the same
        # worst-case regime that caps banded LSH at 0.5) — the twin metric
        # below shows true near-duplicates ARE recovered.
        q = emb.filter(F.col("vec_id") < 20)
        exact_l2 = {(r["query_id"], r["neighbor_id"])
                    for r in similarity.l2_topk(emb, q, k=3).collect()}
        extras["pq_ann_recall_at3_l2"] = round(
            len(ann_sets["pq"] & exact_l2) / max(1, len(exact_l2)), 4)
        # planted-twin recovery on the same table: perturb 20 corpus
        # vectors by +0.005 per dim, union them in, ask PQ for rank-1
        # twins take NEGATIVE ids: pq ties break by ascending
        # neighbor_id, so a high-id twin would lose every exact ADC tie to
        # a corpus vector sharing the query's codes — the metric would
        # partly measure code-collision rate instead of retrieval
        twins = (emb.filter(F.col("vec_id") < 20)
                 .select((-F.col("vec_id") - 1).alias("vec_id"),
                         F.transform("embedding",
                                     lambda x: x + F.lit(0.005))
                         .alias("embedding"), F.lit(0).alias("label")))
        got = {(r["query_id"], r["rank"]): r["neighbor_id"]
               for r in similarity.pq_ann_topk(
                   emb.unionByName(twins),
                   emb.filter(F.col("vec_id") < 20), k=1).collect()}
        hits = sum(got.get((qid, 1)) == -qid - 1 for qid in range(20))
        extras["pq_twin_recall_at1"] = round(hits / 20, 4)

    def pq_trained():
        q = emb.filter(F.col("vec_id") < 20)
        ann_sets["pq_trained"] = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.pq_ann_topk_trained(
                emb, q, k=3, m_sub=16, k_codes=64, n_iters=6,
                rerank=32).collect()}

    bench("pq_ann_topk_trained", pq_trained)
    if "pq_trained" in ann_sets:
        # trained codebooks (64 codes/subspace, 5 Lloyd rounds) +
        # shortlist-32 exact rerank: the quantization cells follow the
        # data, so recall on the same worst-case random table jumps from
        # ~0.03 (fixed codebook) through 0.73 (r3: 32 codes, 1 round) to
        # ~0.92 — above the banded-LSH ceiling, at the same query-time
        # scan budget (16 codes/vector, 32 rerank fetches)
        q = emb.filter(F.col("vec_id") < 20)
        exact_l2 = {(r["query_id"], r["neighbor_id"])
                    for r in similarity.l2_topk(emb, q, k=3).collect()}
        extras["pq_trained_recall_at3_l2"] = round(
            len(ann_sets["pq_trained"] & exact_l2) / max(1, len(exact_l2)),
            4)
    bench("embedding_near_dups", lambda: similarity.embedding_near_dups(
        emb, threshold=0.4).count())

    # --- round-2 continuation additions -----------------------------------
    def cdx_bench():
        from supercrawler_spark.operators.cdx import cdx_index
        import __spark_entry__ as entry_mod
        out, cache = cdx_index(entry_mod._cdx_pages(spark, sf_dir),
                               n_shards=8, exact=False)
        n = out.count()
        cache.unpersist()
        return n

    bench("cdx_index", cdx_bench)

    n_docs_total = docs.count()

    def inverted_index_bench():
        from supercrawler_spark.operators.terms import inverted_index
        return inverted_index(docs, min_df=2,
                              max_df=int(0.9 * n_docs_total)).count()

    bench("inverted_index", inverted_index_bench)

    def dsir_bench():
        from supercrawler_spark.operators.dsir import dsir_logweights
        return trainmix.importance_sample(
            dsir_logweights(docs), n=max(50, n_docs_total // 10)).count()

    bench("dsir_select", dsir_bench)

    def bpe_bench():
        from supercrawler_spark.operators.bpe import bpe_encode, learn_bpe
        merges = learn_bpe(docs, k=3)
        return bpe_encode(docs, merges).count()

    bench("bpe_learn_encode", bpe_bench)

    def triangles_bench():
        from supercrawler_spark.operators.graph import host_triangles
        return host_triangles(docs, n_docs_total).count()

    bench("host_triangles", triangles_bench)

    def bigram_lm_bench():
        from supercrawler_spark.operators.lm import bigram_logprob
        return bigram_logprob(docs).count()

    bench("bigram_logprob", bigram_lm_bench)

    def feeds_bench():
        from supercrawler_spark.operators.feeds import feed_seeds
        return feed_seeds(docs).count()

    bench("feed_seeds", feeds_bench)

    def gopher_rules_bench():
        import __spark_entry__ as entry_mod
        out = entry_mod.q_gopher_rules(spark, sf_dir)
        extras["gopher_pass"] = out.filter(F.col("gopher_pass")).count()

    bench("gopher_rules", gopher_rules_bench)

    def url_blocklist_bench():
        import __spark_entry__ as entry_mod
        out = entry_mod.q_url_blocklist(spark, sf_dir)
        extras["urls_blocked"] = out.filter(F.col("blocked")).count()

    bench("url_blocklist", url_blocklist_bench)

    def pld_stats_bench():
        import __spark_entry__ as entry_mod
        return entry_mod.q_pld_stats(spark, sf_dir).count()

    bench("pld_stats", pld_stats_bench)

    def host_budget_bench():
        import __spark_entry__ as entry_mod
        out = entry_mod.q_host_budget(spark, sf_dir)
        extras["budget_kept"] = out.filter(F.col("kept")).count()

    bench("host_budget", host_budget_bench)

    def paragraph_dedup_bench():
        import __spark_entry__ as entry_mod
        out = entry_mod.q_paragraph_dedup(spark, sf_dir)
        extras["paragraphs_dropped"] = int(
            out.agg(F.sum("n_dropped")).collect()[0][0] or 0)

    bench("paragraph_dedup", paragraph_dedup_bench)

    def perplexity_buckets_bench():
        import __spark_entry__ as entry_mod
        return entry_mod.q_perplexity_buckets(spark, sf_dir).count()

    bench("perplexity_buckets", perplexity_buckets_bench)

    def trustrank_bench():
        import __spark_entry__ as entry_mod
        out = entry_mod.q_trustrank(spark, sf_dir)
        extras["spam_suspects"] = out.filter(
            F.col("spam_mass_ppm") > 900_000).count()

    bench("trustrank", trustrank_bench)

    def domain_kl_bench():
        import __spark_entry__ as entry_mod
        return entry_mod.q_domain_kl(spark, sf_dir).count()

    bench("domain_kl", domain_kl_bench)

    def fetch_waves_bench():
        import __spark_entry__ as entry_mod
        out = entry_mod.q_fetch_waves(spark, sf_dir)
        extras["max_wave"] = int(
            out.agg(F.max("wave")).collect()[0][0] or 0)

    bench("fetch_waves", fetch_waves_bench)

    def temperature_mix_bench():
        import __spark_entry__ as entry_mod
        return entry_mod.q_temperature_mix(spark, sf_dir).count()

    bench("temperature_mix", temperature_mix_bench)

    def token_budget_select_bench():
        import __spark_entry__ as entry_mod
        out = entry_mod.q_token_budget_select(spark, sf_dir)
        extras["budget_kept_docs"] = out.filter(F.col("kept")).count()

    bench("token_budget_select", token_budget_select_bench)

    def frontier_rehearsal_bench():
        """Frontier-core rehearsal at 10M URLs (200x the bench corpus,
        the 10^10-frontier data path scaled to one host): url synthesis ->
        xxhash64 url_hash -> seen ANTI-JOIN against a 5M-row seen set (too
        big to broadcast: exercises the shuffled-hash/sort-merge path the
        cluster uses) -> multi-parent frontier dedup (min-depth winner per
        url_hash) -> dense-seq ordering via the engine's own
        attach_dense_seq (range partition + per-partition offsets, no
        single-task window). All JVM expressions; no text payload, so this
        isolates the FRONTIER machinery's per-url cost."""
        from supercrawler_spark.crawler import attach_dense_seq
        n = int(os.environ.get("SPARK_GRAFT_FRONTIER_N", "10000000"))

        def mk_urls(ids):
            return ids.withColumn(
                "url", F.concat(F.lit("https://h"),
                                (F.col("id") % 100_000).cast("string"),
                                F.lit(".example.com/p/"),
                                F.col("id").cast("string")))

        cand = (mk_urls(spark.range(n))
                .withColumn("depth", (F.col("id") % 4).cast("int"))
                .withColumn("url_hash", F.xxhash64("url")))
        # 20% of urls re-discovered by a second parent at depth+1 — the
        # dedup must keep the min-depth copy
        dups = (cand.filter(F.col("id") % 5 == 0)
                .withColumn("depth", F.col("depth") + 1))
        seen = (mk_urls(spark.range(0, n, 2))
                .select(F.xxhash64("url").alias("url_hash")))
        fresh = (cand.unionByName(dups)
                 .join(seen, "url_hash", "left_anti")
                 .groupBy("url_hash")
                 .agg(F.min(F.struct("depth", "id")).alias("m"))
                 .select("url_hash", F.col("m.depth").alias("depth")))
        out, total, cache = attach_dense_seq(
            fresh, ["depth", "url_hash"], out_col="seq")
        n_out = out.count()
        cache.unpersist()
        assert n_out == total == n // 2
        extras["frontier_rehearsal_urls"] = n

    bench("frontier_rehearsal", frontier_rehearsal_bench)

    def _stage_shuffle_writes():
        """(stageId, attemptId) -> shuffle write bytes from the live
        AppStatusStore (py4j; best-effort — {} if the private API moves)."""
        try:
            sc = spark.sparkContext
            jvm, gw = sc._jvm, sc._gateway
            store = sc._jsc.sc().statusStore()
            stages = store.stageList(
                jvm.java.util.ArrayList(), False, False,
                gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
            return {(stages.apply(i).stageId(), stages.apply(i).attemptId()):
                    stages.apply(i).shuffleWriteBytes()
                    for i in range(stages.size())}
        except Exception:
            return {}

    def dedup_rehearsal_bench():
        """Dedup-path rehearsal at millions of docs (the frontier
        rehearsal's twin for the MinHash pipeline): JVM-side synthesis of
        narrow 10-token docs -> word-shingles -> md5 minhash signatures ->
        LSH band keys -> non-singleton block membership -> bipartite
        min-label connected components (dedup_clusters) with keeper
        flags. The corpus embeds known structure asserted at volume: 1% of
        docs share one boilerplate text (an n/100-member hot block — the
        case where a pair list would need k^2 join rows and salting, and
        the bipartite path provably costs k rows, which is why this scale
        path needs no salt at all), 20% form distinct identical-text
        dup pairs, and the rest are unique (singleton blocks, excluded by
        contract). Assertions match what MinHash-LSH actually guarantees:
        RECALL is exact (identical text -> identical signatures -> same
        band keys, so every true pair MUST co-cluster and the boiler block
        MUST be one cluster), while a small spurious-merge tail is allowed
        and MEASURED (the 30-bit hash space is a DuckDB-oracle-parity
        constraint — a cluster deployment without the oracle twin would
        widen p toward 59 bits, the BIGINT-safe limit — and all num_hashes
        functions are affine transforms of one base md5 hash, so base-hash
        birthday collisions correlate across a band; the count grows with
        the SQUARE of distinct shingles per the birthday law, measured
        0.02% of docs at n=200k / 0.64% at n=5M, and production near-dup
        flows filter merge candidates through minhash_jaccard_estimate
        before collapsing). Also reports shuffle-write volume (total + peak
        single stage) from the status store, so the 100 TB claim carries
        measured bytes, not just a plan audit."""
        from supercrawler_spark.operators import dedup as _dedup
        from supercrawler_spark.operators.clusters import dedup_clusters
        n = int(os.environ.get("SPARK_GRAFT_DEDUP_N", "1000000"))
        assert n % 100 == 0
        # SPARK_GRAFT_DEDUP_P=wide runs the cluster-deployment modulus
        # (dedup.P_WIDE, ~2^59): same recall guarantees, and the spurious
        # tail must collapse to ~zero — the measured proof that the FP
        # tail is the 30-bit oracle-parity modulus, not the algorithm
        p_env = os.environ.get("SPARK_GRAFT_DEDUP_P", "oracle")
        wide = p_env == "wide"
        p = _dedup.P_WIDE if wide else (
            _dedup.P_ORACLE if p_env == "oracle" else int(p_env))
        r = F.col("id") % 10
        base = F.when(r == 2, F.col("id") - 1).otherwise(F.col("id"))
        tok = F.transform(
            F.sequence(F.lit(0), F.lit(9)),
            lambda j: F.concat(F.lit("w"), (base * 13 + j).cast("string")))
        text = F.when(
            F.col("id") % 100 == 0,
            F.lit("b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"),
        ).otherwise(F.concat_ws(" ", tok))
        sdocs = spark.range(n).select(
            F.col("id").alias("doc_id"), text.alias("text"))
        before = _stage_shuffle_writes()
        out = dedup_clusters(sdocs, num_hashes=8, band_size=2,
                             persist_result=True, p=p)
        agg = out.agg(
            F.count("*").alias("docs"),
            F.countDistinct("cluster_id").alias("clusters"),
            F.sum(F.col("is_keeper").cast("long")).alias("keepers"),
        ).collect()[0]
        after = _stage_shuffle_writes()
        fresh = {k: v for k, v in after.items() if k not in before}
        # exact recall: every identical-text pair (10k+1, 10k+2) co-clusters
        pa = out.filter(F.col("doc_id") % 10 == 1).select(
            F.col("doc_id").alias("a"), F.col("cluster_id").alias("ca"))
        pb = out.filter(F.col("doc_id") % 10 == 2).select(
            (F.col("doc_id") - 1).alias("a"), F.col("cluster_id").alias("cb"))
        pair_hits = pa.join(pb, "a") \
            .filter(F.col("ca") == F.col("cb")).count()
        assert pair_hits == n // 10, (pair_hits, n // 10)
        boiler = out.filter(F.col("doc_id") % 100 == 0).agg(
            F.countDistinct("cluster_id").alias("c"),
            F.count("*").alias("d")).collect()[0]
        assert (boiler["c"], boiler["d"]) == (1, n // 100)
        assert agg["clusters"] == agg["keepers"]  # one keeper per cluster
        spurious = agg["docs"] - (n // 100 + 2 * (n // 10))
        assert 0 <= spurious <= (64 if wide else max(64, n // 100)), spurious
        out.unpersist()
        extras["dedup_rehearsal_docs"] = n
        extras["dedup_rehearsal_members"] = int(agg["docs"])
        extras["dedup_rehearsal_clusters"] = int(agg["clusters"])
        extras["dedup_rehearsal_spurious_docs"] = int(spurious)
        if fresh:
            extras["dedup_rehearsal_shuffle_mb"] = round(
                sum(fresh.values()) / 2**20, 1)
            extras["dedup_rehearsal_peak_stage_shuffle_mb"] = round(
                max(fresh.values()) / 2**20, 1)

    bench("dedup_rehearsal", dedup_rehearsal_bench)

    def ann_rehearsal_bench():
        """ANN-path rehearsal at millions of vectors (dedup_rehearsal's
        twin for the similarity ladder): JVM-side synthesis of a
        planted-cluster corpus -> trained IVF-PQ end-to-end via the staged
        index/query API (coarse k-means + PQ codebook training -> one-scan
        corpus encode into the persisted code table -> nprobe cell-join
        ADC scan -> exact rerank) -> recall@10 against the exact
        brute-force baseline on the same query set.

        The corpus embeds known structure asserted at volume: n/20 planted
        centers in [-1,1]^dim with ±eps per-coordinate jitter, so every
        vector has 19 same-center mates and (by high-dimensional
        concentration: inter-center distance ~sqrt(2*dim/3) >> intra
        ~eps*sqrt(2*dim/3)) a query's exact top-10 is same-center —
        asserted, which makes recall a real measurement, not a tautology.
        Recall losses are then exactly the production failure modes: a
        jittered mate assigned across a coarse Voronoi boundary into an
        unprobed cell, or ADC quantization reordering the shortlist tail.

        Phases are timed separately because their 10^10-vector economics
        differ: training is a fixed offline cost, encode is the one
        full-width corpus scan (per-vector cost is THE scale number — the
        code table it emits is ~m_sub small ints/vector, cell-keyed, so it
        partition-prunes on probe), and query cost is per-batch. The
        exact baseline's wall clock doubles as the honesty check that the
        ANN path actually beats brute force at this scale. Shuffle-write
        volume (total + peak stage) comes from the status store as in
        dedup_rehearsal."""
        from supercrawler_spark.operators import similarity as _sim
        n = int(os.environ.get("SPARK_GRAFT_ANN_N", "1000000"))
        dim = int(os.environ.get("SPARK_GRAFT_ANN_DIM", "32"))
        n_q = int(os.environ.get("SPARK_GRAFT_ANN_Q", "24"))
        per = 20                       # members per planted center
        n_centers = n // per
        eps = 0.25
        k = 10
        # m_sub=8 (ds=4) over m_sub=4: SAME encode op count
        # (m_sub*k_codes*ds invariant) but a 32^8 vs 32^4 code space —
        # measured recall@10 at 1M vectors 0.84 -> 1.00; the ADC-
        # resolution lever that costs no extra table lookups per probe
        n_cells, m_sub, k_codes, nprobe, rerank_n = 64, 8, 32, 8, 64

        def u(base_expr, salt):
            # deterministic uniform [-1,1] per (row, coordinate) from
            # xxhash64 — pure JVM expression synthesis, no Python
            return F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: (F.pmod(
                    F.xxhash64(base_expr * dim + j, F.lit(salt)),
                    F.lit(2001)) - 1000) / 1000.0)

        ctr = F.col("id") % n_centers   # id % C: seed ids hit C distinct
        vec = F.zip_with(u(ctr, 1), u(F.col("id"), 2),
                         lambda a, b: a + eps * b)
        corpus = spark.range(n).select(F.col("id").alias("vec_id"),
                                       vec.alias("embedding"))
        step = n // n_q
        queries = corpus.filter((F.col("vec_id") % step == 7)
                                & (F.col("vec_id") < step * n_q))

        before = _stage_shuffle_writes()
        t0 = time.monotonic()
        codes, cents_row, cb_row = _sim.ivfpq_index(
            corpus, n_cells=n_cells, m_sub=m_sub, k_codes=k_codes,
            n_iters=2, dim=dim)
        cents_row = cents_row.persist()
        cb_row = cb_row.persist()
        cents_row.count()
        cb_row.count()
        t_train = time.monotonic() - t0
        t0 = time.monotonic()
        codes = codes.persist()
        n_codes = codes.count()
        t_encode = time.monotonic() - t0
        assert n_codes == n, n_codes
        t0 = time.monotonic()
        ann = _sim.ivfpq_query(codes, cents_row, cb_row, corpus, queries,
                               k=k, nprobe=nprobe, m_sub=m_sub,
                               rerank=rerank_n, dim=dim).collect()
        t_query = time.monotonic() - t0
        t0 = time.monotonic()
        exact = _sim.l2_topk(corpus, queries, k=k).collect()
        t_exact = time.monotonic() - t0
        after = _stage_shuffle_writes()
        fresh = {kk: v for kk, v in after.items() if kk not in before}
        for df in (codes, cents_row, cb_row):
            df.unpersist()

        from collections import defaultdict
        ex, an = defaultdict(set), defaultdict(set)
        same_center = 0
        for r in exact:
            ex[r["query_id"]].add(r["neighbor_id"])
            same_center += int(
                r["neighbor_id"] % n_centers == r["query_id"] % n_centers)
        for r in ann:
            an[r["query_id"]].add(r["neighbor_id"])
        assert len(ex) == n_q, len(ex)
        # planted structure holds at volume: exact top-k is same-center
        frac_same = same_center / (n_q * k)
        assert frac_same >= 0.95, frac_same
        recall = sum(len(ex[q] & an.get(q, set())) / k for q in ex) / n_q
        # floor with margin under the measured value (1.00 at 1M with
        # m_sub=8/n_cells=64 — see BENCH/BASELINE.md)
        assert recall >= 0.90, recall
        extras["ann_rehearsal_vectors"] = n
        extras["ann_rehearsal_dim"] = dim
        extras["ann_rehearsal_queries"] = n_q
        extras["ann_rehearsal_recall_at10"] = round(recall, 4)
        extras["ann_rehearsal_train_sec"] = round(t_train, 2)
        extras["ann_rehearsal_encode_sec"] = round(t_encode, 2)
        extras["ann_rehearsal_encode_us_per_vec"] = round(
            t_encode / n * 1e6, 2)
        extras["ann_rehearsal_query_sec"] = round(t_query, 2)
        extras["ann_rehearsal_exact_sec"] = round(t_exact, 2)
        extras["ann_rehearsal_exact_over_ann"] = round(t_exact / t_query, 2)
        if fresh:
            extras["ann_rehearsal_shuffle_mb"] = round(
                sum(fresh.values()) / 2**20, 1)
            extras["ann_rehearsal_peak_stage_shuffle_mb"] = round(
                max(fresh.values()) / 2**20, 1)

    bench("ann_rehearsal", ann_rehearsal_bench)

    def zipf_fit_bench():
        import __spark_entry__ as entry_mod
        row = entry_mod.q_zipf_fit(spark, sf_dir).collect()[0]
        extras["zipf_slope"] = float(row["slope"])

    bench("zipf_fit", zipf_fit_bench)

    def hard_negatives_bench():
        import __spark_entry__ as entry_mod
        return entry_mod.q_hard_negatives(spark, sf_dir).count()

    bench("hard_negatives", hard_negatives_bench)

    def fix_mojibake_bench():
        import __spark_entry__ as entry_mod
        out = entry_mod.q_fix_mojibake(spark, sf_dir)
        extras["mojibake_repaired"] = out.filter(F.col("changed")).count()

    bench("fix_mojibake", fix_mojibake_bench)

    if "crawl_scan" in timings:
        extras["crawl_scan_urls_per_sec"] = round(
            n_pages / timings["crawl_scan"], 1)
    if "frontier_rehearsal" in timings:
        extras["frontier_rehearsal_urls_per_sec"] = round(
            extras["frontier_rehearsal_urls"]
            / timings["frontier_rehearsal"], 1)
    if "dedup_rehearsal" in timings:
        extras["dedup_rehearsal_docs_per_sec"] = round(
            extras["dedup_rehearsal_docs"]
            / timings["dedup_rehearsal"], 1)

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        **extras,
    }
    # Full record (all extras, 3-decimal timings) goes to a file for audit;
    # stdout carries ONE compact JSON line kept under ~1.9 KB because the
    # round driver records only a 2 KB tail of bench output (the round-2
    # line was truncated to parsed:null). If even 2-decimal timings don't
    # fit, the cheapest cells are dropped first and counted in
    # "queries_omitted" — never a silent cut.
    try:
        bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "BENCH")
        os.makedirs(bench_dir, exist_ok=True)
        with open(os.path.join(bench_dir, "last_run.json"), "w") as fh:
            json.dump(full, fh, indent=1)
    except OSError:
        pass  # read-only checkout: stdout line still carries the headline
    compact = {
        "metric": full["metric"],
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf,
        "cpus": cpus,
    }
    for key in ("crawl_scan_urls_per_sec", "crawl_scan_urls",
                "frontier_rehearsal_urls_per_sec",
                "dedup_rehearsal_docs_per_sec",
                "dedup_rehearsal_peak_stage_shuffle_mb",
                "ann_rehearsal_vectors", "ann_rehearsal_recall_at10",
                "ann_rehearsal_encode_us_per_vec",
                "ann_rehearsal_exact_over_ann",
                "lsh_ann_recall_at3",
                "lsh_ann_multiprobe_recall_at3", "ivf_ann_recall_at3",
                "ivf_trained_recall_at3", "ivfpq_recall_at3_l2",
                "pq_ann_recall_at3_l2", "pq_trained_recall_at3_l2",
                "pq_twin_recall_at1"):
        if key in extras:
            compact[key] = extras[key]
    line = json.dumps(compact, separators=(",", ":"))
    while len(line.encode()) > 1900 and compact["queries"]:
        cheapest = min(compact["queries"], key=compact["queries"].get)
        compact["queries"].pop(cheapest)
        compact["queries_omitted"] = len(timings) - len(compact["queries"])
        line = json.dumps(compact, separators=(",", ":"))
    # stop FIRST: the JVM occasionally emits late GC warnings on stdout,
    # and anything printed after the JSON line would corrupt the driver's
    # 2 KB tail-parse
    spark.stop()
    print(line, flush=True)


if __name__ == "__main__":
    main()
