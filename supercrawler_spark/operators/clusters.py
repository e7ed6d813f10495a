"""Duplicate-cluster resolution: transitive near-duplicate grouping over
MinHash-LSH band blocks, producing one canonical keeper per cluster — the
step that turns dedup signals into an actual deduplicated corpus.

The reference (duggal1/supercrawler) stops at per-URL exact dedup; a 100 TB
training corpus additionally needs transitive near-dup grouping: if A~B and
B~C, all three are one cluster even when A and C share no LSH band.

``dedup_clusters`` resolves connectivity on the BIPARTITE doc↔block
membership relation (a block = docs sharing one full LSH band key), never
on the within-block pair list: min-label propagation alternates

    block_min ← min label of members;  label ← min of member blocks

until every block is uniform. Rows shuffled per round are docs × bands
(linear) — a k-member boilerplate block costs k rows where its pairs
would cost k² — and one round moves a label two pair-graph hops. Each
round materializes via persist + count and unpersists the previous
round, so executor storage does not grow with the iteration count;
non-convergence within ``max_iters`` raises instead of returning split
components.

``connected_components_star`` is the O(log diameter)-round resolver for
arbitrary (a_id, b_id) pair graphs (long mirror chains), with per-round
parquet lineage truncation.

The DuckDB oracle mirrors the semantics (not the algorithm) with a
recursive-CTE transitive closure over the LSH pairs — see
__spark_entry__.oracle_sql["dedup_clusters"].
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from supercrawler_spark.operators import dedup


def connected_components_star(pairs: DataFrame, max_iters: int = 30,
                              checkpoint_dir: str | None = None) -> DataFrame:
    """Resolve (a_id, b_id) undirected pairs to (doc_id, cluster_id) with
    cluster_id = min doc_id reachable from doc_id; only vertices that
    occur in at least one pair are returned. Computed via alternating
    large-star/small-star rounds (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond").

    Min-label propagation moves a component's min one HOP per round, so a
    path of length L needs L shuffles — a crawl-mirror chain or a
    boilerplate template lineage can exceed any fixed iteration budget.
    Star rounds instead rewire every node toward its neighborhood minimum
    (large-star points larger neighbors at it, small-star collapses the
    rest), which provably converges in O(log L) rounds to a star forest
    rooted at each component's min. Near-dup cliques still converge in ~2
    rounds, so this is strictly safer for unknown graph shapes.

    Every round materializes to parquet under ``checkpoint_dir`` (a fresh
    temp dir if None) and reads back — per-round LINEAGE TRUNCATION, the
    same discipline GraphFrames' CC applies. Each star round references
    its input several times, so an in-memory persist/unpersist loop (the
    min-label pattern) leaves a plan that multiplies per round and
    replays the whole loop on the caller's first action — fine for 2-3
    dense-graph rounds, pathological at O(log n). Rounds alternate
    between two subdirectories, so disk stays O(2x edge set); the
    returned DataFrame scans the final round's file (no cached RDDs, no
    replay). Convergence = the oriented edge set stops changing (count +
    order-free hash-sum, one scan of the round file)."""
    import os
    import tempfile

    spark = pairs.sparkSession
    if checkpoint_dir is None:
        checkpoint_dir = tempfile.mkdtemp(prefix="cc_star_")
    e = (pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct())

    def _round_stats(df):
        r = df.agg(
            F.count("*").alias("n"),
            # decimal(38,0) sum: exact and overflow-free under ANSI (a
            # long sum of 64-bit hashes overflows after ~2 rows)
            F.sum(F.xxhash64(F.col("u"), F.col("v"))
                  .cast("decimal(38,0)")).alias("h")).collect()[0]
        return (r["n"], r["h"])

    # both stars are expressed as a min-aggregation JOINED back to the edge
    # relation — never a collect_set/list of a node's neighborhood, whose
    # aggregation buffer is NOT reduced map-side and would OOM on a hot hub
    # (the exact skew class star rounds exist to dismantle)
    def large_star(df):
        sym = df.unionByName(df.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        mins = (sym.groupBy("u")
                .agg(F.min("v").alias("_mn"))
                .select("u", F.least(F.col("u"), F.col("_mn")).alias("_m")))
        return (sym.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("_m").alias("v"))
                .distinct())

    def small_star(df):
        # orient every edge (max, min) so each group's neighbors are < u
        ori = df.select(F.greatest("u", "v").alias("u"),
                        F.least("u", "v").alias("v")).distinct()
        mins = ori.groupBy("u").agg(F.min("v").alias("_m"))
        children = (ori.join(mins, "u")
                    .filter(F.col("v") != F.col("_m"))
                    .select(F.col("v").alias("u"), F.col("_m").alias("v")))
        selfs = mins.select(F.col("u"), F.col("_m").alias("v"))
        return (children.unionByName(selfs)
                .filter(F.col("u") != F.col("v"))
                .distinct())

    prev = None
    converged = False
    for k in range(max_iters):
        nxt = small_star(large_star(e))
        path = os.path.join(checkpoint_dir, f"r{k % 2}")
        nxt.write.mode("overwrite").parquet(path)
        e = spark.read.parquet(path)
        cur = _round_stats(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{max_iters} rounds")
    # e is now a star forest (child -> component min): children label by
    # their root, roots label themselves
    roots = e.select(F.col("v").alias("doc_id")).distinct() \
        .withColumn("cluster_id", F.col("doc_id"))
    return (e.select(F.col("u").alias("doc_id"),
                     F.col("v").alias("cluster_id"))
            .unionByName(roots))


def dedup_clusters(docs: DataFrame, num_hashes: int = 8, band_size: int = 2,
                   text_col: str = "text", id_col: str = "doc_id",
                   p: int | None = None, max_iters: int = 50,
                   persist_result: bool = False) -> DataFrame:
    """MinHash-LSH near-dup clustering end-to-end: (doc_id, cluster_id,
    is_keeper) with cluster_id = min doc_id connected through shared
    band blocks. ``is_keeper`` marks the one document per cluster (min
    doc_id) a dedup pass would retain; filtering the corpus is then a
    broadcast-or-bucketed semi-join on the keeper set.

    Resolved on the doc↔block membership relation (module docstring), so
    no within-block pair is ever materialized and hot boilerplate blocks
    need no cap/salt machinery. Docs whose every block is singleton have
    no near-duplicate and are omitted (at corpus scale they are the vast
    majority). ``p``: minhash modulus (default P_ORACLE for DuckDB
    parity; dedup.P_WIDE on oracle-free deployments to suppress the
    birthday-law band-collision merge tail). ``persist_result`` returns a
    materialized, cached result the caller must unpersist."""
    sig = dedup.minhash_sig_array(
        docs, num_hashes, text_col, id_col,
        p=dedup.P_ORACLE if p is None else p)
    bands = dedup.band_keys(sig, band_size).select("doc_id", "band",
                                                   "band_key")
    # blocks keyed by the (band, band_key) composite — NOT a 64-bit hash
    # of it: a hash collision would silently merge unrelated clusters
    sized = (bands.groupBy("band", "band_key")
             .agg(F.count("*").alias("_n"))
             .filter(F.col("_n") >= 2)
             .select("band", "band_key"))
    mem = bands.join(sized, ["band", "band_key"]) \
        .select("doc_id", "band", "band_key")
    mem = mem.persist()
    labels = (mem.select("doc_id").distinct()
              .withColumn("cluster", F.col("doc_id")))

    # fixpoint check: labels are final exactly when every block is uniform
    # (its members' min and max label agree) — read off the block
    # aggregate the next update needs anyway, so each round is one job and
    # the converged labels are the last update, with no no-op round in
    # their lineage. min/max need no numeric cast, so ids of any orderable
    # type (long doc ids, string doc keys) converge
    blk = None
    converged = False
    for _ in range(max_iters):
        labels = labels.persist()
        prev_blk = blk
        blk = (mem.join(labels, "doc_id")
               .groupBy("band", "band_key")
               .agg(F.min("cluster").alias("bmin"),
                    F.max("cluster").alias("bmax"))
               .persist())
        n_mixed = blk.filter(F.col("bmin") != F.col("bmax")).count()
        if prev_blk is not None:
            prev_blk.unpersist()
        if n_mixed == 0:
            converged = True
            break
        # blk holds all the next update reads; drop this round's labels
        labels.unpersist()
        labels = (mem.join(blk.select("band", "band_key", "bmin"),
                           ["band", "band_key"])
                  .groupBy("doc_id").agg(F.min("bmin").alias("cluster")))
    caches = [mem, labels, blk]
    if not converged:
        for c in caches:
            c.unpersist()
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iters} "
            "iterations")
    out = labels.select(
        "doc_id", F.col("cluster").alias("cluster_id"),
        (F.col("doc_id") == F.col("cluster")).alias("is_keeper"))
    if persist_result:
        # Materialize the projection WHILE labels/mem are still cached (a
        # narrow scan of the final labels cache), so consumers that run
        # several downstream actions don't re-execute the whole iteration
        # chain from unpersisted lineage. Caller owns the unpersist.
        out = out.persist()
        out.count()
    for c in caches:
        c.unpersist()
    return out


def resolve_duplicates(docs: DataFrame, clusters: DataFrame | None = None,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       p: int | None = None) -> DataFrame:
    """Quality-aware canonical selection per near-dup cluster: instead of
    ``dedup_clusters``'s positional min-id keeper, keep the HIGHEST-quality
    member (``textquality.quality_score`` composite; ties broken by min
    doc_id) — what a production dedup pass does so boilerplate-laden or
    truncated copies don't shadow the clean one. Output one row per cluster
    member: (doc_id, cluster_id, quality, keeper_id, keep).

    Scale shape: quality is computed map-side on the corpus scan BEFORE any
    shuffle, so only (doc_id, quality) scalars cross the wire into the
    member join — never text bytes (quality is cheap JVM expression work;
    shuffling text to defer it would move the corpus). Then one narrow
    shuffle on cluster_id serves both window passes. Singletons are omitted,
    mirroring ``dedup_clusters`` (they are trivially their own keeper)."""
    from supercrawler_spark.operators.textquality import quality_score
    if clusters is None:
        clusters = dedup_clusters(docs, text_col=text_col, id_col=id_col,
                                  p=p)
    q = quality_score(docs, text_col, id_col).select("doc_id", "quality")
    m = clusters.select("doc_id", "cluster_id").join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"),
                                                 F.asc("doc_id"))
    wall = Window.partitionBy("cluster_id")
    ranked = m.withColumn("_rk", F.row_number().over(w))
    return (ranked
            .withColumn("keeper_id",
                        F.max(F.when(F.col("_rk") == 1, F.col("doc_id")))
                        .over(wall))
            .select("doc_id", "cluster_id", "quality", "keeper_id",
                    (F.col("_rk") == 1).alias("keep")))


def cluster_purity(docs: DataFrame, clusters: DataFrame | None = None,
                   num_hashes: int = 8, band_size: int = 2,
                   text_col: str = "text", id_col: str = "doc_id",
                   suspect_below: float = 0.5,
                   p: int | None = None) -> DataFrame:
    """Precision diagnostic for LSH clustering: per cluster, the MinHash
    signature agreement of every non-keeper member with the cluster keeper
    (an unbiased Jaccard estimate — Broder). Output one row per cluster:
    (cluster_id, n_members, min_sim, avg_sim, n_suspect).

    Why it exists: the linear (pair-free) clustering path
    ``dedup_clusters`` never materializes within-block pairs, so —
    unlike a pairwise flow that can threshold on estimated Jaccard before
    collapsing — it admits every band-collision edge. Band collisions are
    rare per pair but grow with the square of corpus shingles (birthday
    law; measured 0.02% of docs at 200k -> 0.64% at 5M in the
    dedup_rehearsal bench), and a spurious merge silently DELETES a
    non-duplicate document at resolve time. This operator is the
    precision dial: clusters with ``min_sim`` below ``suspect_below``
    carry at least one member the signatures cannot support, to be
    re-verified (``minhash_jaccard_estimate``) or exempted from dedup.

    Scale shape: signatures come from one map-side-combined shingle
    aggregation (``minhash_sig_array``); the keeper join is keyed by
    cluster_id (narrow scalar rows, never text); agreement is a JVM
    ``zip_with``/``aggregate`` fold; one final groupBy(cluster_id) with
    partial aggregation. Rows shuffled = cluster members, linear.
    est values are exact k/num_hashes binary fractions, so cross-engine
    float comparison is deterministic."""
    # p: minhash modulus — must match the modulus the audited clustering
    # ran with, or the purity estimate reintroduces the very collision
    # tail a P_WIDE deployment chose to avoid. Caller-built clusters carry
    # no record of theirs, so p is required with them; otherwise the
    # default is P_ORACLE for DuckDB parity, as in dedup_clusters
    if clusters is None:
        clusters = dedup_clusters(docs, num_hashes, band_size,
                                  text_col, id_col, p=p)
    elif p is None:
        raise ValueError("cluster_purity: pass the minhash modulus p the "
                         "given clusters were built with")
    sig = dedup.minhash_sig_array(docs, num_hashes, text_col, id_col,
                                  p=dedup.P_ORACLE if p is None else p)
    mem = clusters.join(sig, "doc_id")
    keep = (mem.filter(F.col("is_keeper"))
            .select("cluster_id", F.col("sig").alias("ksig")))
    est = (mem.filter(~F.col("is_keeper"))
           .join(keep, "cluster_id")
           .withColumn(
               "est",
               F.aggregate(
                   F.zip_with("sig", "ksig",
                              lambda a, b: (a == b).cast("long")),
                   F.lit(0).cast("long"), lambda acc, x: acc + x)
               / F.lit(float(num_hashes))))
    return (est.groupBy("cluster_id")
            .agg((F.count("*") + F.lit(1)).cast("long").alias("n_members"),
                 F.round(F.min("est"), 6).alias("min_sim"),
                 F.round(F.avg("est"), 6).alias("avg_sim"),
                 F.sum((F.col("est") < suspect_below).cast("long"))
                 .alias("n_suspect")))
