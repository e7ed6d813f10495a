"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's URL-level dedup (J1, src/supercrawler.rs:1244,1343),
a 100 TB webtext pipeline needs *content* dedup. All operators here are pure
DataFrame programs over built-in JVM functions (no Python UDFs): hashes are
md5-prefix bigints so the DuckDB oracle can reproduce them bit-for-bit
(Spark ``conv(substr(md5(x),1,15),16,10)`` ≡ DuckDB
``('0x'||substr(md5(x),1,15))::BIGINT``).

Scale notes:
  - exact_dedup: one shuffle on the content hash; min-doc-id winner keeps the
    result deterministic under any partitioning.
  - minhash_lsh: shingle explode → one per-doc signature aggregate (map-side
    partial agg shrinks the shuffle to n_docs rows of n_hashes values) →
    band keys sliced from the signature array (no shuffle) → band-bucket
    self-join restricted to equal buckets. The self-join is the classic LSH
    candidate generation: only documents agreeing on a full band collide, so
    the join fan-out stays near-linear for non-duplicate corpora. Skewed
    buckets (boilerplate shingles) are handled by AQE skew-join locally and
    by salting the band key at cluster scale.
  - simhash: 16-bit signature via per-bit majority vote over token hashes —
    explode is bounded (16 rows/token); Hamming-near pairs via exact
    signature-equality buckets (radius-0) which is the common first pass.
  - ngram_jaccard: exact Jaccard on shingle sets via shingle-equality
    self-join; quadratic only within identical-shingle groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# portable 60-bit content hash (see module docstring)
def _md5_long(col):
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")


# MinHash moduli. P_ORACLE (30-bit) is the default everywhere an oracle
# twin exists: (2i+1)*h+b stays far below 2^63 in BOTH engines and DuckDB
# raises on BIGINT overflow where the JVM would wrap. P_WIDE (~2^59,
# verified prime, 15*p + b < 2^63 still BIGINT-safe) shrinks base-hash
# birthday collisions — the source of LSH band-collision false merges,
# which grow with the SQUARE of distinct corpus shingles — by ~6e8x; use
# it on cluster deployments where no DuckDB twin runs row-for-row
# (measured: the 5M-doc dedup_rehearsal's spurious tail drops 0.64% -> 0
# at P_WIDE, BENCH/BASELINE.md).
P_ORACLE = 1_000_000_007
P_WIDE = 599_999_999_999_999_993


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text, keeping the
    smallest id (deterministic winner); dup_count = group size."""
    return (docs
            .withColumn("content_hash", _md5_long(F.col(text_col)))
            .groupBy("content_hash")
            .agg(F.min(id_col).alias("keeper_id"),
                 F.count("*").alias("dup_count"))
            )


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 3) -> DataFrame:
    """Word n-gram shingles, distinct per doc: (id, shingle)."""
    # the token array is bound as a column first: inlined into the
    # transform lambda, the split would re-run once per shingle
    toks = (docs
            .select(F.col(id_col).alias("doc_id"),
                    F.split(F.regexp_replace(F.col(text_col),
                                             r"^\s+|\s+$", ""),
                            r"\s+").alias("_toks"))
            .filter(F.size("_toks") >= n))
    # shingle i = tokens[i..i+n-1] joined by ' ' — built-in transform/slice,
    # no Python
    sh = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - n),
        lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, n)),
    )
    return toks.select("doc_id", F.explode(F.array_distinct(sh))
                       .alias("shingle"))


def minhash_sig_array(docs: DataFrame, num_hashes: int = 8,
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      p: int = P_ORACLE) -> DataFrame:
    """(doc_id, sig: array<long>): num_hashes permutation-free minhashes
    h_i(s) = ((2i+1) * (md5long(s) mod p) + 7i+13) mod p, one array row
    per document. The one signature aggregation every MinHash operator
    builds on: one row per (doc, shingle), the num_hashes permutations as
    wide columns min-aggregated per doc (map-side partial agg; no
    num_hashes-fold explode before the shuffle). Default p is 30-bit so
    a*h+b stays < 2^63 in BOTH engines (DuckDB raises on BIGINT overflow
    where the JVM would silently wrap); pass ``P_WIDE`` on oracle-free
    cluster deployments to suppress the birthday-law band-collision tail
    (constants doc above)."""
    sh = shingles(docs, text_col, id_col) \
        .withColumn("h", _md5_long(F.col("shingle")) % p)
    mins = sh.groupBy("doc_id").agg(*[
        F.min(F.pmod((2 * i + 1) * F.col("h") + (7 * i + 13), F.lit(p)))
        .alias(f"_h{i}")
        for i in range(num_hashes)
    ])
    return mins.select("doc_id", F.array(
        *[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig"))


def minhash_signatures(docs: DataFrame, num_hashes: int = 8,
                       text_col: str = "text", id_col: str = "doc_id",
                       p: int = P_ORACLE) -> DataFrame:
    """(doc_id, hash_id, min_hash): ``minhash_sig_array`` unpacked to one
    row per hash function (a narrow posexplode after the aggregation)."""
    sig = minhash_sig_array(docs, num_hashes, text_col, id_col, p=p)
    return (sig.select("doc_id", F.posexplode("sig").alias("hash_id",
                                                           "min_hash"))
            .select("doc_id", F.col("hash_id").cast("long"), "min_hash"))


def band_keys(df: DataFrame, band_size: int,
              sig_col: str = "sig") -> DataFrame:
    """``df`` plus (band, band_key), one row per LSH band of the minhash
    array in ``sig_col``: band b covers hashes [b*band_size,
    (b+1)*band_size), the last band partial when the signature length is
    not a multiple of band_size. band_key joins the band's values with
    ':', so two keys of one band are equal exactly when their minhashes
    agree position by position. A narrow projection + posexplode of the
    signature row — no shuffle."""
    last = ((F.size(sig_col) - 1) / band_size).cast("int")
    keys = F.transform(
        F.sequence(F.lit(0), last),
        lambda b: F.concat_ws(":", F.transform(
            F.slice(F.col(sig_col), b * band_size + 1, band_size),
            lambda v: v.cast("string"))))
    return df.select("*", F.posexplode(keys).alias("band", "band_key"))


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 8, band_size: int = 2,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_bucket_size: int | None = None,
                      salt_buckets: int | None = None,
                      salt_threshold: int = 64,
                      p: int | None = None) -> DataFrame:
    """LSH candidate pairs: docs whose signatures agree on at least one full
    band of ``band_size`` consecutive minhashes. Output (a_id, b_id, n_bands)
    with a_id < b_id.

    ``max_bucket_size`` drops band blocks with more than that many members
    before the self-join — the standard mega-cluster guard: a block of k
    near-identical boilerplate docs yields k² join rows, and above a few
    hundred members the block is better handled by exact dedup than by
    pairwise scoring. The size count is a window pass keyed the same as
    the join; it costs at most one extra narrow shuffle of the
    (doc_id, band, band_key) relation per join side — strings only, never
    document text — versus the k² join-row explosion it prevents. Pairs
    lost are exactly those inside dropped blocks
    (every member still meets the rest of the corpus through its other
    bands). None = unbounded (small-corpus default; at 10^10 docs set it).

    ``salt_buckets=S`` KEEPS hot-block pairs instead of relying on AQE or
    the drop guard: blocks larger than ``salt_threshold`` run through an
    S×S salted grid self-join — each member gets a deterministic salt
    σ(doc_id) ∈ [0,S); the A side is replicated S times as (σ(a), j), the
    B side as (i, σ(b)), and the join keys on (band, band_key, i, j), so
    every pair meets in EXACTLY one grid cell and the largest single join
    key carries ~2k/S input rows and ~(k/S)² output rows instead of k and
    k². Results are identical with salting on or off (parity-tested);
    replication cost (S× the hot rows, strings only) is paid only on the
    blocks that need it. Compose with ``max_bucket_size`` to still drop
    truly degenerate mega-clusters and salt the middle range.

    ``p``: minhash modulus — default ``P_ORACLE`` (DuckDB parity); pass
    ``P_WIDE`` on oracle-free deployments to suppress the birthday-law
    band-collision tail (module constants doc)."""
    sig = minhash_sig_array(docs, num_hashes, text_col, id_col,
                            p=P_ORACLE if p is None else p)
    bands = band_keys(sig, band_size).select("doc_id", "band", "band_key")
    if max_bucket_size is not None or salt_buckets is not None:
        wsz = Window.partitionBy("band", "band_key")
        bands = bands.withColumn("_bsz", F.count("*").over(wsz))
    if max_bucket_size is not None:
        bands = bands.filter(F.col("_bsz") <= max_bucket_size)
    if salt_buckets is None:
        if "_bsz" in bands.columns:
            bands = bands.drop("_bsz")
        a = bands.select(F.col("doc_id").alias("a_id"), "band", "band_key")
        b = bands.select(F.col("doc_id").alias("b_id"), "band", "band_key")
        joined = a.join(b, ["band", "band_key"]).select("a_id", "b_id")
    else:
        S = salt_buckets
        hot = F.col("_bsz") > salt_threshold
        cold = bands.filter(~hot).drop("_bsz")
        hotb = bands.filter(hot).drop("_bsz")
        ca = cold.select(F.col("doc_id").alias("a_id"), "band", "band_key")
        cb = cold.select(F.col("doc_id").alias("b_id"), "band", "band_key")
        cold_pairs = (ca.join(cb, ["band", "band_key"])
                      .select("a_id", "b_id"))
        salt = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(S))
        grid = F.explode(F.array(*[F.lit(x) for x in range(S)]))
        ha = (hotb.withColumn("_sa", salt).withColumn("_sb", grid)
              .select(F.col("doc_id").alias("a_id"), "band", "band_key",
                      "_sa", "_sb"))
        hb = (hotb.withColumn("_sb", salt).withColumn("_sa", grid)
              .select(F.col("doc_id").alias("b_id"), "band", "band_key",
                      "_sa", "_sb"))
        hot_pairs = (ha.join(hb, ["band", "band_key", "_sa", "_sb"])
                     .select("a_id", "b_id"))
        joined = cold_pairs.unionByName(hot_pairs)
    return (joined
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.count("*").alias("n_bands")))


def simhash(docs: DataFrame, bits: int = 16,
            text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash): ``bits``-bit simhash — majority vote per bit over
    token hashes, bounded explode of ``bits`` rows per token (both vote
    aggregations combine map-side, so the shuffle stays ~n_docs × bits rows;
    a wide ``bits``-column aggregate variant was measured SLOWER here —
    1.77s vs 1.33s steady-state and a 13s codegen first run for the 16-sum
    generated class — so the tall shape stays). ``bits`` is capped at 60:
    token hashes are 60-bit md5 prefixes (the DuckDB-portable hash), so
    higher bit positions would vote on constant zeros; use bits=48-60 at web
    scale (larger chunk buckets for simhash_near_pairs), 16 matches the
    compact oracle default."""
    assert 1 <= bits <= 60, "simhash bits must be in [1, 60] (60-bit hash)"
    spark = docs.sparkSession
    toks = (docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(F.split(F.regexp_replace(F.col(text_col), r"^\s+|\s+$", ""), r"\s+")).alias("tok"))
            .withColumn("h", _md5_long(F.col("tok"))))
    bit_ids = spark.range(bits).withColumnRenamed("id", "bit")
    votes = (toks.crossJoin(F.broadcast(bit_ids))
             .select("doc_id", "bit",
                     # shiftright with a column shift amount needs the SQL form
                     F.expr("(shiftright(h, cast(bit as int)) & 1) * 2 - 1")
                     .alias("vote"))
             .groupBy("doc_id", "bit")
             .agg(F.sum("vote").alias("s")))
    return (votes
            .withColumn("bitval",
                        F.when(F.col("s") > 0,
                               F.expr("shiftleft(cast(1 as bigint), cast(bit as int))"))
                        .otherwise(F.lit(0).cast("long")))
            .groupBy("doc_id")
            .agg(F.sum("bitval").alias("simhash")))


def simhash_dup_groups(docs: DataFrame, bits: int = 16,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Documents sharing an identical simhash (radius-0 near-dup buckets)."""
    sh = simhash(docs, bits, text_col, id_col)
    return (sh.groupBy("simhash")
            .agg(F.min("doc_id").alias("keeper_id"),
                 F.count("*").alias("group_size"))
            .filter(F.col("group_size") > 1))


def _chunk_bounds(bits: int, chunks: int) -> list[tuple[int, int]]:
    """Partition [0, bits) into ``chunks`` contiguous (offset, width) spans,
    widths differing by at most 1."""
    base, extra = divmod(bits, chunks)
    bounds, off = [], 0
    for c in range(chunks):
        w = base + (1 if c < extra else 0)
        bounds.append((off, w))
        off += w
    return bounds


def simhash_near_pairs(docs: DataFrame, bits: int = 16, radius: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Simhash near-duplicate pairs within Hamming distance ``radius``,
    found EXACTLY via chunked-signature banding (pigeonhole): the signature
    is split into radius+1 contiguous bit chunks; any pair within distance
    radius differs in at most radius chunks, so it matches exactly on at
    least one chunk. Candidates come from a (chunk_id, chunk_value)
    equi-self-join (never all-pairs), then the true Hamming distance is
    verified with bit_count(xor). Output (a_id, b_id, hamming), a_id < b_id.
    Unlike LSH this is exact: recall = 1 within the radius. Scale note: at
    bits=64, radius=3 each chunk is 16 bits → 65k buckets per chunk; per-
    bucket fan-out is (n/65k)^2 per chunk, near-linear for web-scale corpora."""
    # radius+1 chunks over `bits` bits: every chunk must be >= 1 bit wide,
    # or a zero-width chunk (mask 0) puts ALL docs in one bucket and the
    # equi-join degenerates to the n^2 cross product this function exists
    # to avoid
    assert 0 <= radius < bits, "need 0 <= radius < bits"
    chunks = radius + 1
    sh = simhash(docs, bits, text_col, id_col)
    vals = F.array(*[
        F.expr(f"shiftright(simhash, {off}) & {(1 << width) - 1}")
        for off, width in _chunk_bounds(bits, chunks)
    ])
    ch = sh.select("doc_id", "simhash",
                   F.posexplode(vals).alias("chunk", "chunk_val"))
    a = ch.select(F.col("doc_id").alias("a_id"),
                  F.col("simhash").alias("a_sig"), "chunk", "chunk_val")
    b = ch.select(F.col("doc_id").alias("b_id"),
                  F.col("simhash").alias("b_sig"), "chunk", "chunk_val")
    # verify the Hamming distance BEFORE the pair-dedup shuffle: the radius
    # filter kills most candidate rows right at the join output (codegen'd
    # bit_count, no extra pass), so the distinct only shuffles true
    # near-pairs (measured 16.6s -> 13.5s at sf0.1; the remaining cost is
    # the signature subplan evaluated on both join sides)
    return (a.join(b, ["chunk", "chunk_val"])
            .filter(F.col("a_id") < F.col("b_id"))
            .withColumn("hamming", F.expr("bit_count(a_sig ^ b_sig)")
                        .cast("long"))
            .filter(F.col("hamming") <= radius)
            .select("a_id", "b_id", "hamming")
            .distinct())


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_shingle_df: int | None = 1000) -> DataFrame:
    """Word-n-gram Jaccard for pairs sharing >=1 shingle; keeps pairs with
    similarity >= threshold. Output (a_id, b_id, jaccard rounded 1e-6).

    ``max_shingle_df`` caps shingle document frequency before the self-join:
    a boilerplate shingle shared by k documents otherwise contributes k^2
    join rows — quadratic blowup on real web text (headers, footers, cookie
    banners). Shingles with df > cap are dropped from BOTH the intersection
    and the per-doc set sizes, i.e. the result is exact Jaccard over the
    df-capped shingle space (the standard practice; the oracle mirrors the
    same predicate — a size() filter on the posting list, see the inline
    comment below). None disables the cap."""
    sh = shingles(docs, text_col, id_col, n)
    # Single-pass posting-list formulation instead of a (doc, shingle)
    # self-join: ONE groupBy(shingle) builds the posting list per shingle,
    # the df cap is a size() predicate on it (no separate hot-set pass), and
    # candidate pairs expand WITHIN the bounded array via higher-order
    # functions. The naive a.join(b, "shingle") formulation evaluated the
    # tokenize+md5 shingle kernel on every branch (8+ source scans in the
    # physical plan — Spark does not reuse the non-identical subtrees); this
    # shape evaluates it 3x (pairs, and one per size side) and bounds the
    # per-task pair expansion by max_shingle_df^2 by construction.
    post = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds"))
    if max_shingle_df is not None:
        post = post.filter(F.size("ds") <= max_shingle_df)
    pair_structs = F.flatten(F.transform(
        F.col("ds"),
        lambda x, i: F.transform(
            F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
            lambda y: F.struct(x.alias("a_id"), y.alias("b_id")))))
    inter = (post
             .select(F.explode(pair_structs).alias("p"))
             .groupBy(F.col("p.a_id").alias("a_id"),
                      F.col("p.b_id").alias("b_id"))
             .agg(F.count("*").alias("inter")))
    sizes = post.select(F.explode("ds").alias("doc_id")) \
        .groupBy("doc_id").agg(F.count("*").alias("sz"))
    sz_a = sizes.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("sz_b"))
    return (inter.join(sz_a, "a_id").join(sz_b, "b_id")
            .withColumn("jaccard",
                        F.round(F.col("inter")
                                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("a_id", "b_id", "jaccard"))

def minhash_jaccard_estimate(docs: DataFrame, num_hashes: int = 8,
                             band_size: int = 2, text_col: str = "text",
                             id_col: str = "doc_id",
                             max_bucket_size: int | None = None) -> DataFrame:
    """Estimated Jaccard similarity for every LSH candidate pair: the
    classic unbiased minhash estimator — the fraction of the ``num_hashes``
    hash functions on which the two signatures agree. Output
    (a_id, b_id, n_agree, jaccard_est).

    This is the scale path for similarity VALUES: exact
    ``ngram_jaccard_pairs`` intersects full shingle sets (corpus-sized
    join work), while the estimate needs only the n_docs x num_hashes
    signature table — candidate pairs are LSH-bounded and the signatures
    join back per pair like the vectors in lsh_ann_topk. Estimator error
    ~ 1/sqrt(num_hashes); bench reports the measured correlation vs the
    exact operator.

    Selection-bias caveat: candidates are conditioned on >=1 band agreeing,
    so every estimate has a floor of band_size/num_hashes (at the 8x2
    oracle default that floor is 0.25 — low-similarity false-positive
    candidates read as >=0.25). Raise num_hashes to shrink the floor and
    the variance together: the bench measures at 32 hashes, where the
    estimate/exact correlation over all LSH candidates is ~0.99 vs ~0 at
    8 (the 8-hash default exists to keep the DuckDB oracle cheap)."""
    sig = minhash_signatures(docs, num_hashes, text_col, id_col)
    pairs = minhash_lsh_pairs(docs, num_hashes, band_size, text_col, id_col,
                              max_bucket_size).select("a_id", "b_id")
    sa = sig.select(F.col("doc_id").alias("a_id"), "hash_id",
                    F.col("min_hash").alias("_ha"))
    sb = sig.select(F.col("doc_id").alias("b_id"), "hash_id",
                    F.col("min_hash").alias("_hb"))
    return (pairs.join(sa, "a_id").join(sb, ["b_id", "hash_id"])
            .groupBy("a_id", "b_id")
            .agg(F.sum((F.col("_ha") == F.col("_hb")).cast("long"))
                 .alias("n_agree"))
            .withColumn("jaccard_est",
                        F.round(F.col("n_agree") / num_hashes, 6)))


def host_mirrors(pages: DataFrame, threshold: float = 0.5,
                 max_hosts_per_digest: int = 20, host_col: str = "host",
                 text_col: str = "text") -> DataFrame:
    """(host_a, host_b, inter, jaccard): host pairs whose CONTENT SETS
    overlap — mirror/alias detection (Broder's mirror problem). A crawl
    that doesn't collapse mirrors fetches and stores every mirrored site
    twice; at web scale mirrors and regional aliases are a double-digit
    percentage of hosts.

    Content set = distinct md5 fingerprints of page text per host; overlap
    scored by exact Jaccard via a digest-keyed equi-self-join (the
    posting-list pattern, NOT an all-pairs host join). The
    ``max_hosts_per_digest`` cap drops boilerplate fingerprints shared by
    more than N hosts (empty pages, parked-domain templates) — exactly the
    df-cap discipline of ngram_jaccard_pairs, bounding the join fan-out to
    N² per degenerate digest. Fingerprints are 60-bit md5 truncations:
    collisions (~2^-30 per pair at 10^9 docs) only nudge a Jaccard
    estimate, they don't join text."""
    d = (pages.select(F.col(host_col).alias("host"),
                      _md5_long(F.col(text_col)).alias("digest"))
         .distinct())
    hot = (d.groupBy("digest").agg(F.count("*").alias("nh"))
           .filter(F.col("nh") <= max_hosts_per_digest))
    d = d.join(hot.select("digest"), "digest", "left_semi")
    sizes = d.groupBy("host").agg(F.count("*").alias("sz"))
    a = d.select(F.col("host").alias("host_a"), "digest")
    b = d.select(F.col("host").alias("host_b"), "digest")
    inter = (a.join(b, "digest")
             .filter(F.col("host_a") < F.col("host_b"))
             .groupBy("host_a", "host_b")
             .agg(F.count("*").cast("long").alias("inter")))
    sa = sizes.select(F.col("host").alias("host_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("host").alias("host_b"), F.col("sz").alias("szb"))
    return (inter.join(sa, "host_a").join(sb, "host_b")
            .withColumn("jaccard",
                        F.round(F.col("inter")
                                / (F.col("sza") + F.col("szb")
                                   - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("host_a", "host_b", "inter", "jaccard"))
