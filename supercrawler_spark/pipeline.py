"""End-to-end training-corpus preparation: the operators composed the way a
real pre-training data run chains them.

    raw docs ─ [mojibake repair] ─ quality gate ─ exact dedup ─ near-dup resolve ─
      [semantic dedup] ─ benchmark decontamination ─ [DSIR selection] ─
        [PII scrub] ─ [line dedup] ─ deterministic shuffle/export

Each stage is one of the library's verified operators; this module only
wires them and keeps the scale discipline intact:

- Stage DECISIONS travel as narrow id/removal lists, never as re-shuffled
  text: the quality gate emits surviving ids (one scan, no shuffle), dedup
  and decontamination emit drop-lists, and the corpus is pruned by
  LEFT-ANTI joins on doc_id — drop-lists are duplicate/contaminated docs,
  a small fraction of a real corpus, so these anti-joins broadcast.
- Drop-list stages report from the SMALL side (persisted narrow id lists);
  the exact-dedup and final counts are corpus counts, but each runs once
  and the drop-list caches keep their expensive lineages (LSH + iterative
  connected components) from re-executing per downstream consumer.
- Text is rewritten at most once (the optional PII scrub), at the very end,
  right before export.

The reference crawls and extracts (src/supercrawler.rs); everything after
that is what a 100 TB consumer does with the crawl's output — the part the
reference leaves to the user and this engine makes first-class.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from supercrawler_spark.operators import clusters as _clusters
from supercrawler_spark.operators import corpus as _corpus
from supercrawler_spark.operators import dedup as _dedup
from supercrawler_spark.operators import textquality as _tq
from supercrawler_spark.operators import trainmix as _trainmix


@dataclass
class CorpusPipelineConfig:
    # encoding repair BEFORE anything tokenizes: mojibake ("cafÃ©") poisons
    # shingles, token counts and langid, so the chain runs first when on.
    # A pure in-place projection (no join, no shuffle) — the one justified
    # exception to the rewrite-once-at-the-end rule, because every later
    # stage reads the text it fixes.
    repair_mojibake: bool = False
    mojibake_passes: int = 1
    min_tokens: int = 20
    max_punct_ratio: float = 0.2
    langs: tuple = ("en",)
    near_dedup: bool = True
    # Precision gate on the near-dup stage: audit every LSH cluster with
    # ``cluster_purity`` (MinHash agreement of each member with the
    # keeper) and EXEMPT clusters whose min_sim falls below
    # purity_suspect_below from resolution — a spurious band-collision
    # merge would otherwise silently delete a non-duplicate document at
    # resolve time. At minhash_p=dedup.P_WIDE the collision tail is
    # empty (measured: 0 spurious merges at 10M docs, BENCH/BASELINE.md)
    # and the gate is a no-op; at narrower moduli it is the precision
    # dial. Costs one extra narrow shuffle of (doc_id, sig) scalars.
    purity_gate: bool = False
    purity_suspect_below: float = 0.5
    # minhash modulus for the near-dup stage (None = dedup.P_ORACLE for
    # oracle parity; set dedup.P_WIDE on oracle-free deployments)
    minhash_p: int | None = None
    # SemDeDup stage: hash_embed -> kmeans cells -> within-cell cosine
    semantic_dedup: bool = False
    semantic_k: int = 8
    semantic_threshold: float = 0.9
    semantic_dim: int = 64
    # lineage-cut directory for the semantic embedding table (parquet
    # write + re-read). None falls back to a process-local temp dir —
    # fine locally; set it on a real cluster (reliable shared storage,
    # and the artifact is reusable downstream)
    work_dir: str | None = None
    decontaminate_n: int = 8
    decontaminate_min_hits: int = 1
    # DSIR selection stage: hashed-unigram importance weights toward the
    # dsir_target_lang slice, then deterministic Poisson resampling to an
    # expected dsir_target_n docs. None = keep everything (no selection).
    dsir_target_n: int | None = None
    dsir_target_lang: str = "en"
    dsir_buckets: int = 256
    dsir_salt: str = "isample-1"
    scrub_pii: bool = False
    line_dedup_min_df: int | None = None   # None = skip line-level dedup
    extra: dict = field(default_factory=dict)


def prepare_training_corpus(docs: DataFrame,
                            benchmark: DataFrame | None = None,
                            config: CorpusPipelineConfig | None = None,
                            text_col: str = "text",
                            id_col: str = "doc_id"
                            ) -> tuple[DataFrame, dict]:
    """Run the full preparation chain; returns ``(clean_docs, report)``.
    ``clean_docs`` keeps the input schema (text possibly PII-scrubbed /
    line-deduped); ``report`` maps stage → rows dropped (or rewritten)."""
    cfg = config or CorpusPipelineConfig()
    report: dict = {}
    caches: list[DataFrame] = []
    try:
        return _run_pipeline(docs, benchmark, cfg, text_col, id_col,
                             report, caches)
    finally:
        # release the persisted id lists even when a stage raises —
        # otherwise an analysis error would pin them in executor storage
        # for the rest of the application
        for c in caches:
            c.unpersist()


def _run_pipeline(docs, benchmark, cfg, text_col, id_col, report, caches):
    n_input = docs.count()
    report["input_docs"] = n_input

    # 0. optional encoding repair — in-place column rewrite at scan speed.
    # The repaired-count metric rides the quality-gate scan as an observe()
    # aggregate instead of launching a dedicated full-corpus job: the
    # replace chain is cheap per row but not free, and evaluating it twice
    # (once for the report, once for the rewrite) doubled stage 0's cost.
    moji_obs = None
    if cfg.repair_mojibake:
        from pyspark.sql import Observation
        from supercrawler_spark.operators.mojibake import repair_col
        fixed = repair_col(F.col(text_col), passes=cfg.mojibake_passes)
        moji_obs = Observation("mojibake_repaired")
        docs = (docs.observe(moji_obs,
                             F.count_if(fixed != F.col(text_col)).alias("n"))
                .withColumn(text_col, fixed))

    # 1. quality gate — single scan; survivors as a narrow id list
    gate = _tq.filter_corpus(docs, cfg.min_tokens, cfg.max_punct_ratio,
                             cfg.langs, text_col, id_col)
    # survivors are most of a real corpus, so this is the one id join that
    # cannot broadcast at scale — a doc_id-keyed semi-join of narrow ids
    # (AQE broadcasts it at test scale on its own)
    keep_ids = gate.select("doc_id").persist()
    caches.append(keep_ids)
    cur = docs.join(keep_ids.withColumnRenamed("doc_id", id_col),
                    id_col, "left_semi")
    n_gate = keep_ids.count()
    report["quality_gate_dropped"] = n_input - n_gate
    if moji_obs is not None:
        # populated by the keep_ids.count() action over the observed scan
        report["mojibake_repaired"] = moji_obs.get["n"]

    # 2. exact dedup — drop every non-keeper of a duplicate-text group
    groups = _dedup.exact_dedup(cur, text_col, id_col)
    hashed = cur.withColumn("_ch", _dedup._md5_long(F.col(text_col)))
    keepers = groups.select(F.col("content_hash").alias("_ch"), "keeper_id")
    cur = (hashed.join(keepers, "_ch")
           .filter(F.col(id_col) == F.col("keeper_id"))
           .drop("_ch", "keeper_id"))
    n_exact = cur.count()
    report["exact_dup_dropped"] = n_gate - n_exact

    # 3. near-dup resolution — quality-aware keeper per LSH cluster
    if cfg.near_dedup:
        # one modulus for clustering, audit and resolution
        p = _dedup.P_ORACLE if cfg.minhash_p is None else cfg.minhash_p
        clusters = None
        if cfg.purity_gate:
            # Cluster once (materialized from the last round's cache: the
            # iteration lineage would otherwise replay), audit with the SAME
            # modulus the clustering ran with, and drop suspect clusters
            # wholesale — their members are kept, not deduped, pending
            # re-verification. Purity rows are one per cluster (tiny);
            # the anti-join broadcasts.
            clusters = _clusters.dedup_clusters(
                cur, text_col=text_col, id_col=id_col, p=p,
                persist_result=True)
            caches.append(clusters)
            purity = _clusters.cluster_purity(
                cur, clusters=clusters, text_col=text_col, id_col=id_col,
                suspect_below=cfg.purity_suspect_below, p=p)
            suspect = (purity
                       .filter(F.col("min_sim") < cfg.purity_suspect_below)
                       .select("cluster_id").persist())
            caches.append(suspect)
            report["purity_suspect_clusters"] = suspect.count()
            clusters = clusters.join(suspect, "cluster_id", "left_anti")
        res = _clusters.resolve_duplicates(cur, clusters=clusters,
                                           text_col=text_col,
                                           id_col=id_col, p=p)
        # persist the tiny drop-list: its lineage is the full LSH + iterative
        # block-propagation plan, which would otherwise re-execute for
        # the count, the anti-join, and every later stage built on cur
        drop = (res.filter(~F.col("keep"))
                .select(F.col("doc_id").alias(id_col)).persist())
        caches.append(drop)
        report["near_dup_dropped"] = drop.count()
        cur = cur.join(drop, id_col, "left_anti")

    # 3b. optional semantic dedup — documents → hashing-trick vectors →
    # kmeans cells → within-cell cosine pairs (SemDeDup); the assignment is
    # persisted so the Lloyd lineage runs once, not once per self-join side,
    # and the drop-list is the usual narrow anti-join id list
    if cfg.semantic_dedup:
        from supercrawler_spark.operators import embed as _embed
        from supercrawler_spark.operators import kmeans as _kmeans
        # The composed embed -> kmeans -> pair plan would reference `cur`'s
        # full lineage ~10x (both self-join sides, both Lloyd rounds); after
        # the near-dup stage that multiplies a multi-megabyte analyzed tree,
        # and canonicalizing it (persist registration / cache lookup) OOMs
        # the driver — measured at sf0.001 on a 1g heap. So the embedding
        # TABLE — narrow (id + dim longs), the feature artifact a real
        # pipeline stores anyway — is materialized through a parquet
        # round-trip lineage cut (the crawler's per-round discipline).
        # Everything downstream then plans against a scan, not against
        # `cur`'s history.
        emb_plan = (_embed.hash_embed(cur, cfg.semantic_dim, text_col,
                                      id_col)
                    .withColumnRenamed("doc_id", "vec_id"))
        import os
        import tempfile
        spark = docs.sparkSession
        if cfg.work_dir is None:
            # a driver-local temp dir is only coherent in local mode — on a
            # real cluster the executors would scatter the parquet across
            # their own filesystems and the re-read would see partial data;
            # there, work_dir must point at shared storage
            if not spark.sparkContext.master.startswith("local"):
                raise ValueError(
                    "semantic_dedup on a non-local master requires "
                    "CorpusPipelineConfig.work_dir on shared storage")
            wd = tempfile.mkdtemp(prefix="semantic_dedup_")
            # surfaced so callers can remove it once clean_docs is
            # materialized — tempfile.mkdtemp dirs are NOT auto-removed
            report["semantic_work_dir"] = wd
        else:
            wd = cfg.work_dir
        path = os.path.join(wd, "semantic_embeddings.parquet")
        emb_plan.write.mode("overwrite").parquet(path)
        emb = spark.read.parquet(path)
        assignment = _kmeans.kmeans_assign(
            emb, k=cfg.semantic_k, n_iters=2, dim=cfg.semantic_dim).persist()
        caches.append(assignment)
        pairs = _kmeans.semdedup(emb, threshold=cfg.semantic_threshold,
                                 dim=cfg.semantic_dim, assignment=assignment)
        drop = (pairs.select(F.col("b_id").alias(id_col)).distinct()
                .persist())
        caches.append(drop)
        report["semantic_dup_dropped"] = drop.count()
        cur = cur.join(drop, id_col, "left_anti")

    # 4. benchmark decontamination
    if benchmark is not None:
        removal = _trainmix.decontaminate(
            cur, benchmark, cfg.decontaminate_n, cfg.decontaminate_min_hits,
            text_col, id_col)
        drop = removal.select(F.col("doc_id").alias(id_col)).persist()
        caches.append(drop)
        report["decontaminated_dropped"] = drop.count()
        cur = cur.join(drop, id_col, "left_anti")

    # 4b. optional DSIR selection — importance weights toward the target
    # slice, then deterministic Poisson resampling; the kept-id list is the
    # usual narrow semi-join list. Runs AFTER dedup/decontamination so the
    # weight model is fit on the cleaned distribution.
    if cfg.dsir_target_n is not None:
        from supercrawler_spark.operators import dsir as _dsir
        if "lang" in cur.columns:
            base, lang_col = cur, "lang"
        else:
            # no declared language — fall back to the engine's own
            # n-gram language ID (one extra scan for the narrow
            # (id, pred_lang) join column). LEFT join: a doc langid
            # cannot label must still participate in the resample (as
            # non-target, via the 'unk' fallback) — an inner join would
            # silently remove it from the corpus and fold it into
            # dsir_dropped without distinction. (Empty-text docs are
            # still dropped by dsir_logweights itself — they have no
            # unigrams to weight; that drop is the operator's documented
            # semantics, not a join artifact.)
            pred = _tq.langid(cur, text_col, id_col).select(
                F.col("doc_id").alias(id_col),
                F.col("pred_lang").alias("_pl"))
            base = (cur.join(pred, id_col, "left")
                    .withColumn("_dsir_lang",
                                F.coalesce(F.col("_pl"), F.lit("unk")))
                    .drop("_pl"))
            lang_col = "_dsir_lang"
        w = _dsir.dsir_logweights(base, cfg.dsir_target_lang,
                                  cfg.dsir_buckets, text_col, id_col,
                                  lang_col)
        kept = (_trainmix.importance_sample(w, cfg.dsir_target_n,
                                            cfg.dsir_salt)
                .select(F.col("doc_id").alias(id_col)).persist())
        caches.append(kept)
        # n_before is already determined by the recorded stage arithmetic —
        # re-counting cur would re-execute the whole upstream plan
        n_before = (n_exact
                    - report.get("near_dup_dropped", 0)
                    - report.get("semantic_dup_dropped", 0)
                    - report.get("decontaminated_dropped", 0))
        cur = cur.join(kept, id_col, "left_semi")
        report["dsir_selected"] = kept.count()
        report["dsir_dropped"] = n_before - report["dsir_selected"]

    # 5. optional text rewrites — the only stages that touch text bytes
    if cfg.line_dedup_min_df is not None:
        from supercrawler_spark.operators import linededup as _ld
        deduped = _ld.line_dedup(cur, min_df=cfg.line_dedup_min_df,
                                 text_col=text_col, id_col=id_col)
        cur = (cur.drop(text_col)
               .join(deduped.select(F.col("doc_id").alias(id_col),
                                    F.col("text_clean").alias(text_col)),
                     id_col))
        report["line_deduped_docs"] = cur.count()
    if cfg.scrub_pii:
        scrubbed = _corpus.scrub_pii(cur, text_col, id_col)
        report["pii_docs_touched"] = int(
            scrubbed.filter((F.col("n_emails") + F.col("n_ips")
                             + F.col("n_phones")) > 0).count())
        cur = (cur.drop(text_col)
               .join(scrubbed.select(F.col("doc_id").alias(id_col),
                                     F.col("redacted").alias(text_col)),
                     id_col))

    report["output_docs"] = cur.count()
    # NOTE: the caller's try/finally releases the drop-list caches on
    # return, so the FIRST caller materialization of clean_docs recomputes
    # each drop lineage once more; write the result (e.g.
    # sinks.export_shards) immediately rather than re-deriving it.
    return cur, report
