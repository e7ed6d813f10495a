"""Round-synchronous BFS crawl engine over Spark DataFrames.

Re-expresses the reference scheduler (src/supercrawler.rs:1259-1369) as
micro-batch rounds: each round is one declarative DataFrame plan

    frontier_r → (politeness) → fetch-join pages → round UDF (extract,
               canonicalize links, doc key: the round's one Python pass)
               → docs_r  +  explode links → scope semi-join
               → seen anti-join + intra-round first-seen dedup
               → frontier_{r+1}, seen delta, per-partition metrics

with per-round atomic commits to a CrawlStore (checkpoint lineage, resume).
The reference semantics mapped here (SURVEY.md §2):

  - fetch = lookup join against the ``pages`` table (S1; no live network in
    the graft) — missing row ≙ failed fetch (F7/E4).
  - scope: exact host match against the seed-host set, broadcast semi-join
    (F8/J2/J3; src/supercrawler.rs:1236-1239,1341).
  - seen dedup at enqueue time (J1; rs:1244,1343): left-anti against the
    accumulated seen deltas + first-seen-wins within the round, ordered by
    the deterministic crawl order.
  - crawl ordering contract (SURVEY.md §7.0): seq = dense rank over
    (parent_seq, link_pos) per round — identical to a concurrency-1 reference
    run; computed scale-safely (range partition + per-partition offsets, no
    single-partition window).
  - depth guards F9/F10, empty-MDX filter F12, invalid-URL filter F13,
    time budget L2 (checked between rounds; a round is the atomic unit).

Scale notes (the 100 TB design point):
  - pages is bucket-partitioned by pmod(xxhash64(url), B); each round prunes
    the pages scan to the buckets present in the frontier (partition pruning
    on disk) and broadcasts the frontier when it is small.
  - the round UDF is the compute hotspot: Arrow-vectorized, bounded batch
    size, runs once per round (results are checkpointed, never recomputed);
    it is the round's only Python, since every Arrow UDF evaluation costs a
    fixed slice of Python worker CPU per task whatever its row count.
  - per-host politeness (north-rule extension; the reference has only a
    global semaphore): robots disallow-prefix filter + per-host crawl-delay
    budgets enforced via *salted* per-(host, salt) sub-windows so a hot host
    never serializes into one task.
"""

from __future__ import annotations

import time
from dataclasses import asdict, dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from supercrawler_spark.functions import udfs
from supercrawler_spark.operators import bloom
from supercrawler_spark.store import CrawlStore

FRONTIER_COLS = ["url", "host", "depth", "seq", "bucket"]


@dataclass
class CrawlConfig:
    crawl_depth: int = 2            # clamp [0,5] default 2 (rs:1151)
    max_urls: Optional[int] = None  # seed clamp [5,120] (rs:1149) when set
    time_limit_secs: Optional[float] = None  # clamp [150,600] (rs:1152) when set
    strip_tracking: bool = True     # north-rule canonicalization extension
    politeness: bool = False        # robots + crawl-delay (north-rule extension)
    round_budget_ms: int = 60_000   # per-round wall budget for crawl-delay math
    politeness_salt: int = 8        # sub-windows per host for delay budgeting
    num_buckets: int = 32           # url-hash buckets (pages layout parity)
    compact_seen_every: int = 8     # seen-delta compaction cadence
    broadcast_frontier_max: int = 1_000_000  # rows; below this the fetch
    # join broadcasts the FRONTIER and streams pages (see _run_round)
    broadcast_frontier_bytes: int = 64 << 20  # byte budget for that same
    # broadcast (autoBroadcastJoinThreshold-style conf): the row cap alone
    # would let 1M × 500-byte URLs (~1 GB build side with the host column)
    # onto every executor, so the round also estimates the build-side
    # footprint from the measured avg url width (see frontier_broadcast_ok)
    # and falls through to the bucket-wise / shuffle ladder when either
    # bound is exceeded
    snapshot_dedup: bool = True     # latest-warc_ts-wins when pages carries
    # multiple Common-Crawl snapshots per url (set False only if the pages
    # table is known url-unique; ties on (url, warc_ts) assumed impossible)
    # E1 fetch retry/backoff (src/supercrawler.rs:673-695): the graft's fetch
    # is a deterministic pages-table lookup, so these are inert offline; a
    # live-HTTP fetcher plugged in place of the lookup join applies them.
    fetch_retries: int = 3
    retry_backoff_ms: int = 500
    # §2.9 engine variant: 'supercrawler' (canonical) or 'main' (the main.rs
    # copy: loose container text kept when non-empty, NO time budget, depth
    # floor 5 — src/main.rs:318-342,769; no retry/charset deltas offline)
    variant: str = "supercrawler"
    # North-rule "bloom/cuckoo URL-seen": explicit per-bucket Bloom filters
    # (operators/bloom.py) prefilter the seen anti-join. maybe_seen=false
    # candidates are guaranteed new (no Bloom false negatives) and skip the
    # exact join entirely; only the actually-seen ∪ false-positive fraction
    # shuffles into the seen-bucket layout. Exactness-preserving: results
    # are identical with the filter on or off (test_bloom_crawl_parity).
    # The filter table is num_buckets rows (bloom_bits_per_bucket/8 bytes
    # each) and broadcasts; the per-round incremental update aggregates
    # only the round's seen delta and bit_or-merges — it never rescans the
    # seen set. Size so that bits/bucket ≈ 10× expected urls/bucket: at
    # 10^10 urls over 4096 buckets that is ~3 GB of filter cluster-wide,
    # ~0.75 MB per bucket row. Off by default in the sandbox (the exact
    # join already wins at test scale); the 100 TB deployment turns it on.
    seen_bloom: bool = False
    bloom_bits_per_bucket: int = 1 << 20
    bloom_probes: int = 3
    # Frontier throttle (north-rule "priority-ordered frontier queue"): cap
    # the number of fetches per round; overflow re-queues FIFO (lowest seq
    # first — seq encodes priority: seed order, then crawl order; pre-order
    # seeds by priority to prioritize their subtrees). None = unbounded.
    # Bounds round memory/runtime at 10^10-URL scale, where an unthrottled
    # frontier explosion would make a single round arbitrarily large.
    max_fetch_per_round: Optional[int] = None

    def validated(self) -> "CrawlConfig":
        cfg = CrawlConfig(**asdict(self))
        if cfg.variant not in ("supercrawler", "main"):
            raise ValueError(f"unknown engine variant: {cfg.variant!r}")
        if cfg.max_fetch_per_round is not None:
            # 0 (or negative) would defer EVERY fetchable row every round —
            # no progress, infinite drain loop; clamp to at least 1
            cfg.max_fetch_per_round = max(1, cfg.max_fetch_per_round)
        if cfg.variant == "main":
            cfg.crawl_depth = max(5, cfg.crawl_depth)   # main.rs:769 (min 5)
            cfg.time_limit_secs = None                  # no budget in main.rs
            if cfg.max_urls is not None:
                cfg.max_urls = max(5, min(120, cfg.max_urls))
            return cfg
        cfg.crawl_depth = max(0, min(5, cfg.crawl_depth))
        if cfg.max_urls is not None:
            cfg.max_urls = max(5, min(120, cfg.max_urls))
        if cfg.time_limit_secs is not None:
            cfg.time_limit_secs = max(150.0, min(600.0, float(cfg.time_limit_secs)))
        return cfg


@dataclass
class CrawlResult:
    docs: DataFrame       # url, depth, seq, mdx, doc_key
    seen: DataFrame       # url, url_hash, bucket, depth
    metrics: DataFrame    # round, stage, partition_id, counters…
    frontiers: dict       # round -> DataFrame(url, host, depth, seq, bucket)
    rounds_run: int
    store: CrawlStore
    # A5: per-phase wall seconds from the manifest — {"init": {...},
    # 0: {...}, 1: {...}} keyed by round; attributes scan/extract time vs
    # fixed per-round orchestration (what a scaling run needs)
    phase_times: dict = field(default_factory=dict)


def _with_bucket(df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    return df.withColumn("bucket", udfs.bucket_col(F.col("url"), cfg.num_buckets))


def _path_col():
    # url path+query for robots prefix matching (scheme://host stripped)
    return F.regexp_replace(F.col("url"), r"^https?://[^/]+", "")


_BROADCAST_ROW_OVERHEAD = 48  # UnsafeRow header + depth/seq/bucket fields


def frontier_broadcast_ok(n_rows: int, avg_url_bytes: float,
                          cfg: "CrawlConfig") -> bool:
    """Byte-budget guard for the broadcast-frontier fetch join. Estimates
    the build side as rows × (2 × avg url width + fixed row overhead) —
    the url and host strings dominate a frontier row — and requires BOTH
    the flat row cap (backstop) and the byte budget. The avg width comes
    free from the round's existing stats collect (sum(octet_length(url))),
    so the guard adds no extra job."""
    if n_rows <= 0:
        return True
    if n_rows > cfg.broadcast_frontier_max:
        return False
    est = n_rows * (2.0 * avg_url_bytes + _BROADCAST_ROW_OVERHEAD)
    return est <= cfg.broadcast_frontier_bytes


def attach_dense_seq(
    df: DataFrame, order_cols: list[str], out_col: str = "seq"
) -> tuple[DataFrame, int, DataFrame]:
    """Deterministic dense 0-based rank by ``order_cols`` without a
    single-partition window: range-repartition on the order key, rank within
    partitions, then add per-partition offsets (tiny driver collect of one
    row per partition). Requires the order key to be unique. Returns
    ``(df_with_seq, total_rows, cache)`` — the total comes free from the
    offsets pass, saving the caller a count job; ``cache`` is the persisted
    intermediate the CALLER MUST ``unpersist()`` once the result is
    materialized (a long crawl would otherwise leak one cached plan per
    round into executor storage)."""
    d = df.repartitionByRange(*[F.col(c) for c in order_cols])
    d = d.withColumn("_pid", F.spark_partition_id()).persist()
    counts = {r["_pid"]: r["cnt"]
              for r in d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    spark = df.sparkSession
    offsets_df = spark.createDataFrame(
        [(int(pid), int(off)) for pid, off in offsets.items()],
        "_pid INT, _offset BIGINT")
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    out = (d.withColumn("_rn", F.row_number().over(w))
           .join(F.broadcast(offsets_df), "_pid")
           .withColumn(out_col, (F.col("_offset") + F.col("_rn") - F.lit(1)))
           .drop("_pid", "_rn", "_offset"))
    return out, acc, d


class Crawler:
    """Offline BFS crawler over a ``pages`` lookup table.

    ``pages`` contract: at most ONE row per url — or, when
    ``snapshot_dedup`` is on and a ``warc_ts`` column is present, one row
    per (url, warc_ts) snapshot, of which the latest is fetched. Duplicate
    rows for the same key duplicate fetches downstream (the failed-fetch
    recovery skip itself is checksum-guarded, so it stays correct even on
    contract-violating input).
    """

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        config: CrawlConfig | None = None,
        store_dir: str | None = None,
        robots: DataFrame | None = None,
        host_priority: DataFrame | None = None,
    ):
        self.spark = spark
        self.cfg = (config or CrawlConfig()).validated()
        # North-rule "priority-ordered frontier queue": an optional
        # (host, priority:double) score table — e.g. host_pagerank() output —
        # that reorders the THROTTLED dequeue (higher priority fetched first,
        # FIFO seq as tie-break). Dequeue-order only: reference crawl-order
        # parity (seq assignment, docs, final seen set) is untouched, exactly
        # as a priority queue reorders service, not identity. With no
        # throttle every fetchable row is served this round anyway, so the
        # table is ignored unless max_fetch_per_round is set.
        self.host_priority = host_priority
        if store_dir is None:
            import tempfile
            store_dir = tempfile.mkdtemp(prefix="crawlstore_")
        self.store = CrawlStore(store_dir)
        self.pages = pages
        if isinstance(robots, str):
            if robots != "auto":
                raise ValueError("robots must be a DataFrame, None, or 'auto'")
            # derive the politeness table from the /robots.txt rows already
            # present in the pages table (operators/robots.py) — no
            # out-of-band input needed for a Common-Crawl-style corpus
            from supercrawler_spark.operators.robots import robots_from_pages
            robots = robots_from_pages(pages)
        self.robots = robots
        self._round_udf = udfs.make_round_udf(self.cfg.variant,
                                              self.cfg.strip_tracking)
        self._pages_bucketed = "bucket" in pages.columns
        if self._pages_bucketed:
            # bucket pruning is only sound if the pages layout used the SAME
            # modulus as cfg.num_buckets — a mismatch would silently prune
            # away real pages (every fetch "fails"). Validate on a sample and
            # fall back to unpruned scans rather than corrupt the crawl.
            mismatch = (pages.select("url", "bucket").limit(200)
                        .filter(F.col("bucket")
                                != F.pmod(F.xxhash64("url"),
                                          F.lit(self.cfg.num_buckets)))
                        .count())
            if mismatch > 0:
                import warnings
                warnings.warn(
                    f"pages bucket layout does not match num_buckets="
                    f"{self.cfg.num_buckets}; disabling bucket pruning")
                self._pages_bucketed = False

    # -- init: seed enqueue (rs:1236-1252) ---------------------------------

    def _init_frontier(self, seeds: DataFrame) -> None:
        cfg = self.cfg
        phases: dict = {}
        _pt = time.monotonic()
        s = seeds
        seq_cache = None
        if "seed_order" not in s.columns:
            s, _, seq_cache = attach_dense_seq(s.select("url"), ["url"],
                                               "seed_order")
        if cfg.max_urls is not None:  # O2: bounds the seed set only
            s = s.filter(F.col("seed_order") < cfg.max_urls)
        canon = udfs.make_canonical_host(cfg.strip_tracking)(F.col("url"))
        s = s.select("seed_order", canon.alias("c")).select(
            "seed_order", F.col("c.url").alias("curl"),
            F.col("c.host").alias("host"))
        # first-seen dedup among seeds, keep request order (rs:1244), and
        # the F13 invalid-seed drop as one filter over the window's rank: a
        # filter on curl alone is pushed below the window and the UDF's
        # projection, which then evaluates the UDF a second time
        w = Window.partitionBy("curl").orderBy("seed_order")
        s = (s.withColumn("_rk", F.when(F.col("curl").isNotNull(),
                                        F.row_number().over(w)))
             .filter(F.col("_rk") == 1).drop("_rk"))
        frontier0 = _with_bucket(
            s.select(F.col("curl").alias("url"), "host",
                     F.lit(0).alias("depth"),
                     F.col("seed_order").cast("long").alias("seq")),
            cfg)
        frontier0.write.mode("overwrite").parquet(self.store.init_frontier_path())
        phases["seed_prep_write"] = round(time.monotonic() - _pt, 3)
        _pt = time.monotonic()
        if seq_cache is not None:
            seq_cache.unpersist()
        frontier0 = self.spark.read.parquet(self.store.init_frontier_path())
        seen0 = (frontier0
                 .select("url", F.xxhash64("url").alias("url_hash"),
                         "bucket", "depth")
                 .repartition(cfg.num_buckets, "bucket"))
        seen0.write.mode("overwrite").parquet(self.store.init_seen_path())
        if cfg.seen_bloom:
            seen0 = self.spark.read.parquet(self.store.init_seen_path())
            bloom.bloom_words(seen0, m_bits=cfg.bloom_bits_per_bucket,
                              k=cfg.bloom_probes) \
                .write.mode("overwrite").parquet(self.store.init_bloom_path())
        # A6: materialized seed-URL preview (first five in request order —
        # the reference logs these at startup, src/supercrawler.rs:1254)
        frontier0.orderBy("seq").limit(5).select("url", "seq") \
            .write.mode("overwrite").parquet(self.store.seed_preview_path())
        phases["seen_init_write"] = round(time.monotonic() - _pt, 3)
        _pt = time.monotonic()
        n = frontier0.count()
        phases["seed_count"] = round(time.monotonic() - _pt, 3)
        init_paths = {"frontier": self.store.init_frontier_path(),
                      "seen_delta": self.store.init_seen_path(),
                      "seed_preview": self.store.seed_preview_path()}
        if cfg.seen_bloom:
            init_paths["bloom_words"] = self.store.init_bloom_path()
        self.store.commit_init({"seeds": n}, init_paths, timings=phases)

    def _scope_df(self) -> DataFrame:
        frontier0 = self.spark.read.parquet(self.store.init_frontier_path())
        return frontier0.select("host").distinct()

    def _seen_df(self, up_to_round: int) -> DataFrame:
        paths = self.store.seen_paths_up_to(up_to_round)
        return self.spark.read.parquet(*paths)

    def _bloom_words_df(self, up_to_round: int) -> DataFrame:
        path = self.store.bloom_words_path_up_to(up_to_round)
        if path is None:
            # unreachable via crawl()/resume() (init_config rejects config
            # drift), but fail loud rather than spark.read.parquet(None) if
            # internals are driven against a bloom-less store
            raise RuntimeError(
                "seen_bloom=True but the checkpoint store carries no "
                "bloom_words artifacts — this store was initialized with "
                "seen_bloom=False; start a fresh store (or rebuild words "
                "from the seen set) to enable the Bloom prefilter")
        return self.spark.read.parquet(path)

    # -- one round ----------------------------------------------------------

    def _run_round(self, r: int, frontier: DataFrame, scope: DataFrame) -> dict:
        cfg, spark, store = self.cfg, self.spark, self.store
        # A5 phase timings: wall seconds per driver-visible phase, committed
        # with the round manifest (and surfaced in CrawlResult.phase_times)
        # so scaling runs can attribute time to scan/extract vs fixed
        # per-round orchestration
        phases: dict = {}
        _pt = time.monotonic()

        # F9 dequeue-side depth guard (rs:1284-1289). By construction every
        # enqueued row satisfies depth <= crawl_depth, so this is a no-op
        # safety predicate, not a shuffle.
        work = frontier.filter(F.col("depth") <= cfg.crawl_depth)
        # --- politeness (north-rule extension; off ≙ reference parity) ---
        if cfg.politeness and self.robots is not None:
            rob = F.broadcast(self.robots)
            has_allow = "allow_prefixes" in self.robots.columns
            # RFC 9309 precedence: longest matching RULE wins, Allow beats
            # Disallow on ties — JVM folds (robots.best_match_len): plain
            # prefixes via startswith, *-/$-wildcard rules via their
            # parse-time regexes, no UDF. Tables without an allow_prefixes
            # column behave as before (disallow-only); tables without the
            # wild columns (pre-wildcard checkpoints/fixtures) match
            # prefixes only.
            from supercrawler_spark.operators.robots import best_match_len
            has_wild = "disallow_wild_rx" in self.robots.columns

            def _best(kind):
                return best_match_len(
                    _path_col(), F.col(f"{kind}_prefixes"),
                    F.col(f"{kind}_wild_rx") if has_wild else None,
                    F.col(f"{kind}_wild_len") if has_wild else None)
            best_dis = _best("disallow")
            best_alw = _best("allow") if has_allow else F.lit(0).cast("long")
            work = (work.join(rob, "host", "left")
                    .withColumn("robots_blocked", best_dis > best_alw))
            # crawl-delay budget: a host with delay D gets ≤ round_budget/D
            # fetches this round, enforced inside salted sub-windows so the
            # hot host stays parallel; the remainder is deferred (re-queued
            # at the same depth next round).
            cap = (F.when(F.col("crawl_delay_ms") > 0,
                          F.greatest(
                              F.lit(1),
                              (F.lit(cfg.round_budget_ms)
                               / F.col("crawl_delay_ms")
                               / F.lit(cfg.politeness_salt)).cast("long")))
                   .otherwise(F.lit(None)))
            salt = F.pmod(F.xxhash64("url"), F.lit(cfg.politeness_salt))
            wsub = Window.partitionBy("host", salt).orderBy("seq")
            work = (work.withColumn("_cap", cap)
                    .withColumn("_rk", F.row_number().over(wsub))
                    .withColumn("deferred",
                                (~F.col("robots_blocked"))
                                & F.col("_cap").isNotNull()
                                & (F.col("_rk") > F.col("_cap")))
                    .drop("_rk", "_cap", "disallow_prefixes",
                          "allow_prefixes", "crawl_delay_ms",
                          "disallow_wild_rx", "disallow_wild_len",
                          "allow_wild_rx", "allow_wild_len"))
        else:
            work = (work.withColumn("robots_blocked", F.lit(False))
                    .withColumn("deferred", F.lit(False)))

        if cfg.politeness:
            # the robots join + salted delay windows feed several actions this
            # round (stats, extract, metrics, deferred re-queue) — cache the
            # small frontier-sized result instead of recomputing the windows
            work = work.persist()

        fetchable = work.filter(~F.col("robots_blocked") & ~F.col("deferred"))

        # one small collect yields frontier size, politeness counts, the
        # bucket list for pages-scan partition pruning, AND whether any
        # fetchable parent is still below the depth budget (single action)
        stats = (work.groupBy("bucket", "robots_blocked", "deferred")
                 .agg(F.count("*").alias("cnt"),
                      F.min("depth").alias("min_depth"),
                      F.sum(F.octet_length("url")).alias("url_bytes"),
                      # url-hash checksum (exact decimal sum): lets the
                      # extract step prove "every fetchable url came back"
                      # without re-reading anything — see recovery skip
                      F.sum(F.xxhash64("url").cast("decimal(38,0)"))
                      .alias("url_hash_sum"))
                 .collect())
        phases["stats_collect"] = round(time.monotonic() - _pt, 3)
        frontier_count = sum(r["cnt"] for r in stats)
        n_deferred = sum(r["cnt"] for r in stats if r["deferred"])
        live_buckets = sorted({r["bucket"] for r in stats
                               if not r["robots_blocked"] and not r["deferred"]})
        # F10 enqueue guard is per-PARENT (a deferred depth-d row fetched in a
        # later round r > d still expands while d < crawl_depth — rs:1335
        # keys on the dequeued item's depth, not on the round number)
        expanding = any(r["min_depth"] < cfg.crawl_depth for r in stats
                        if not r["robots_blocked"] and not r["deferred"])

        # --- frontier throttle (priority/FIFO dequeue cap) ----------------
        # keep the first max_fetch_per_round fetchable rows in seq order
        # (scale-safe global rank via range partition + offsets, same
        # machinery as the dense crawl seq); overflow re-queues like a
        # politeness deferral and drains over subsequent rounds.
        deferred_df = work.filter(F.col("deferred")).select(*FRONTIER_COLS)
        n_throttled = 0
        throttle_cache = None
        n_fetchable = frontier_count - n_deferred \
            - sum(r["cnt"] for r in stats if r["robots_blocked"])
        fetchable_url_bytes = sum(
            r["url_bytes"] or 0 for r in stats
            if not r["robots_blocked"] and not r["deferred"])
        fetchable_hash_sum = sum(
            int(r["url_hash_sum"] or 0) for r in stats
            if not r["robots_blocked"] and not r["deferred"])
        avg_url_bytes = (fetchable_url_bytes / n_fetchable
                         if n_fetchable else 0.0)
        if (cfg.max_fetch_per_round is not None
                and n_fetchable > cfg.max_fetch_per_round):
            # dequeue order: priority score (desc) when a host_priority table
            # is supplied, FIFO seq as the base/tie-break. The score join
            # touches only the frontier (narrow cols) — AQE broadcasts a
            # small score table; a host-keyed shuffle of the frontier is the
            # worst case (the pages side is never involved).
            rank_in, order_cols = fetchable, ["seq"]
            if self.host_priority is not None:
                # max-aggregate first: a duplicate host row in a user-supplied
                # score table would otherwise MULTIPLY frontier rows through
                # the left join (duplicate fetches, and non-unique order keys
                # for the dense rank)
                pr = (self.host_priority
                      .groupBy("host")
                      .agg(F.max(F.col("priority").cast("double"))
                           .alias("_prio")))
                rank_in = (fetchable.join(pr, "host", "left")
                           .withColumn(
                               "_negp",
                               -F.coalesce(F.col("_prio"), F.lit(0.0)))
                           .drop("_prio"))
                order_cols = ["_negp", "seq"]
            ranked, _, throttle_cache = attach_dense_seq(
                rank_in, order_cols, "_fifo")
            overflow = (ranked.filter(F.col("_fifo") >= cfg.max_fetch_per_round)
                        .select(*FRONTIER_COLS))
            fetchable = (ranked.filter(
                F.col("_fifo") < cfg.max_fetch_per_round)
                .select(*FRONTIER_COLS))
            deferred_df = deferred_df.unionByName(overflow)
            n_throttled = n_fetchable - cfg.max_fetch_per_round
            n_deferred += n_throttled

        # --- fetch = lookup join against pages (S1), bucket-pruned --------
        # Join strategy matters at 10^10 pages: a LEFT-outer (frontier
        # preserved) forces Spark to build/broadcast the PAGES side (build
        # side must be non-preserved), which cannot scale. Three strategies:
        #   1. frontier <= broadcast_frontier_max: INNER join with the
        #      frontier broadcast as build side — the pages scan streams with
        #      NO shuffle, html bytes never move; failed fetches recovered
        #      afterwards by a frontier-sized anti-join.
        #   2. larger frontiers over a bucketed pages layout: bucket-wise
        #      emulated storage-partitioned join — one broadcast inner join
        #      per live bucket (pages side partition-pruned to that bucket,
        #      frontier slice bucket-filtered), unioned. Pages STILL never
        #      shuffles; each broadcast is ~frontier/B rows. This is what an
        #      Iceberg storage-partitioned join would give us natively.
        #   3. unbucketed pages + huge frontier: plain shuffle left join
        #      (the only case where html bytes cross the wire).
        pages = self.pages
        if self._pages_bucketed:
            pages = pages.filter(F.col("bucket").isin(live_buckets))
        has_ct = "content_type" in pages.columns
        snap = cfg.snapshot_dedup and "warc_ts" in pages.columns
        page_cols = (["url"] + (["warc_ts"] if snap else [])
                     + ["html"] + (["content_type"] if has_ct else []))
        pages = pages.select(*page_cols)

        def _resolve_snapshots(frontier_side: DataFrame,
                               pages_side: DataFrame) -> DataFrame:
            # Common-Crawl tables hold one row per (url, warc_ts) snapshot;
            # latest wins. Resolved WITHOUT touching html: a column-pruned
            # (url, warc_ts) scan joined to the frontier, max-aggregated, and
            # folded into the broadcast side so the html join keys on
            # (url, warc_ts==max). Parquet reads two tiny columns here —
            # the html bytes are only read by the final pruned join.
            ts = (pages_side.select("url", "warc_ts")
                  .join(F.broadcast(frontier_side.select("url")), "url")
                  .groupBy("url").agg(F.max("warc_ts").alias("warc_ts")))
            return frontier_side.join(F.broadcast(ts), "url", "inner")

        # build side of the broadcast is the (post-throttle) FETCHABLE set;
        # gate on its row count AND its estimated bytes (byte-budget guard)
        n_broadcast_rows = n_fetchable
        if cfg.max_fetch_per_round is not None:
            n_broadcast_rows = min(n_broadcast_rows, cfg.max_fetch_per_round)
        broadcast_fetch = frontier_broadcast_ok(
            n_broadcast_rows, avg_url_bytes, cfg)
        fetch_cache = None
        if broadcast_fetch:
            build = _resolve_snapshots(fetchable, pages) if snap else fetchable
            keys = ["url", "warc_ts"] if snap else ["url"]
            fetched = pages.join(F.broadcast(build), keys, "inner")
            inner_fetch = True
        elif self._pages_bucketed:
            # bucket-wise join: B independent broadcast joins, each over a
            # partition-pruned pages slice. fetchable is persisted so the B
            # frontier-slice filters read one cached copy, not B re-scans.
            fetch_cache = fetchable.persist()
            parts = []
            for b in live_buckets:
                pb = self.pages.filter(F.col("bucket") == b).select(*page_cols)
                fb = fetch_cache.filter(F.col("bucket") == b)
                if snap:
                    fb = _resolve_snapshots(fb, pb)
                keys = ["url", "warc_ts"] if snap else ["url"]
                parts.append(pb.join(F.broadcast(fb), keys, "inner"))
            fetched = parts[0]
            for p in parts[1:]:
                fetched = fetched.unionByName(p)
            inner_fetch = True
        else:
            fetched = fetchable.join(pages, "url", "left")
            if snap:
                w_snap = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
                fetched = (fetched.withColumn("_sn", F.row_number().over(w_snap))
                           .filter(F.col("_sn") == 1).drop("_sn"))
            inner_fetch = False
        if snap:
            fetched = fetched.drop("warc_ts")

        # --- extract: the round's one Python pass (udfs.make_round_udf) ---
        # F5 content-type dispatch, the kernel, F10 (links only for parents
        # below the depth budget), link canonicalization + host and the X7
        # doc key all happen in one Arrow UDF evaluation per row
        ct = F.col("content_type") if has_ct else F.lit("text/html")
        page = self._round_udf(F.col("url"), F.col("html"), ct,
                               F.col("depth") < cfg.crawl_depth)
        extracted = (fetched
                     .select(*FRONTIER_COLS,
                             F.col("html").isNotNull().alias("fetched"),
                             page.alias("page"))
                     .select(*FRONTIER_COLS, "fetched", "page.mdx",
                             "page.doc_key",
                             F.col("page.out").alias("links")))
        extracted = extracted.withColumn("_pid", F.spark_partition_id())
        # checkpoint the round's expensive work exactly once; the row count
        # AND a url-hash checksum ride the SAME write job via an Observation
        # (no extra action)
        from pyspark.sql import Observation
        obs = Observation(f"extract_r{r}")
        extracted = extracted.observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64("url").cast("decimal(38,0)")).alias("hash_sum"))
        extracted_path = store.round_dir(r, "extracted")
        _pt = time.monotonic()
        extracted.write.mode("overwrite").parquet(extracted_path)
        phases["fetch_extract_write"] = round(time.monotonic() - _pt, 3)
        _pt = time.monotonic()
        n_extracted = int(obs.get["rows"])
        extracted_hash_sum = int(obs.get["hash_sum"] or 0)
        all_resolved = (n_throttled == 0
                        and n_extracted == n_broadcast_rows
                        and extracted_hash_sum == fetchable_hash_sum)
        if inner_fetch and not all_resolved:
            # recover failed fetches (urls with no pages row): frontier-sized
            # anti-join, appended as fetched=false rows. Skipped entirely
            # when the write's observed row count AND url-hash checksum
            # equal the fetchable side's — a multiset identity (up to
            # engineered xxhash64 collisions), so a duplicate pages row
            # offsetting a missing url cannot fake completeness; the common
            # all-urls-resolve round saves a read-back + anti-join + append
            # job. Throttled rounds always recover (the post-throttle
            # checksum isn't collected — not worth an extra action).
            got = spark.read.parquet(extracted_path).select("url")
            missing = (fetchable.select(*FRONTIER_COLS)
                       .join(F.broadcast(got), "url", "left_anti")
                       .select(*FRONTIER_COLS,
                               F.lit(False).alias("fetched"),
                               F.lit(None).cast("string").alias("mdx"),
                               F.lit(None).cast("string").alias("doc_key"),
                               F.lit(None).cast(udfs.LINKS).alias("links"))
                       .withColumn("_pid", F.spark_partition_id()))
            missing.write.mode("append").parquet(extracted_path)
        if fetch_cache is not None:
            fetch_cache.unpersist()
        extracted = spark.read.parquet(extracted_path)
        phases["recover_missing"] = round(time.monotonic() - _pt, 3)

        # --- docs (F12 empty-MDX filter; X7 doc key) -----------------------
        _pt = time.monotonic()
        docs = (extracted
                .filter(F.col("mdx").isNotNull()
                        & (F.length(F.trim(F.col("mdx"))) > 0))
                .select("url", "depth", "seq", "mdx", "doc_key"))
        docs.write.mode("overwrite").parquet(store.docs_path(r))
        phases["docs_write"] = round(time.monotonic() - _pt, 3)
        _pt = time.monotonic()

        # --- expand: links → candidates → survivors ------------------------
        # ``expanding`` was computed per-PARENT from the frontier stats:
        # children depth = parent.depth + 1, and only parents with
        # depth < crawl_depth expand — NOT keyed on the round number, so a
        # politeness-deferred depth-0 row processed in round 3 still labels
        # its children depth 1 and still expands (rs:1335 semantics).
        new_count = 0
        if expanding:
            # links are canonical (F4/F13) and null for parents at the
            # depth limit (F10), both applied by the round UDF
            links = (extracted
                     .filter(F.col("links").isNotNull())
                     .select(F.col("seq").alias("parent_seq"),
                             F.col("depth").alias("parent_depth"),
                             F.posexplode("links").alias("link_pos", "link")))
            candidates = (links
                          .select("parent_seq", "parent_depth", "link_pos",
                                  F.col("link.url").alias("url"),
                                  F.col("link.host").alias("host"))
                          .join(F.broadcast(scope), "host", "left_semi"))  # F8
            candidates = (candidates
                          .withColumn("url_hash", F.xxhash64("url"))
                          .withColumn("bucket",
                                      F.pmod(F.col("url_hash"),
                                             F.lit(cfg.num_buckets))
                                      .cast("int")))
            seen = self._seen_df(r - 1)
            # J1 seen anti-join keyed on the 8-byte url_hash (carried in every
            # seen delta) instead of the url string — at 10^10-URL scale the
            # shuffled build side is hashes, not long URL bytes. xxhash64
            # collisions across distinct urls are ~n²/2^65 (≈0 below 10^8
            # urls; at 10^10 add a url check on matches before dropping).
            if cfg.seen_bloom:
                # Bloom prefilter (north-rule bloom/cuckoo URL-seen):
                # definitely-new candidates bypass the exact join — only
                # maybe-seen rows shuffle against the seen buckets. The
                # split is exactness-preserving (no false negatives).
                bwords = self._bloom_words_df(r - 1)
                tagged = bloom.seen_prefilter(
                    candidates, bloom.words_to_bloom(bwords),
                    m_bits=cfg.bloom_bits_per_bucket, k=cfg.bloom_probes)
                maybe = (tagged.filter(F.col("maybe_seen"))
                         .join(seen.select("url_hash")
                               .withColumn("_seen", F.lit(True)),
                               "url_hash", "left"))
                fresh = (tagged.filter(~F.col("maybe_seen"))
                         .withColumn("_seen",
                                     F.lit(None).cast("boolean")))
                cand = (maybe.unionByName(fresh)
                        .withColumnRenamed("maybe_seen", "_bloom_maybe")
                        .withColumn("_pid", F.spark_partition_id()))
            else:
                cand = (candidates
                        .join(seen.select("url_hash")
                              .withColumn("_seen", F.lit(True)),
                              "url_hash", "left")
                        .withColumn("_pid", F.spark_partition_id()))
            # intra-round first-seen-wins in crawl order (rs:1343 semantics)
            w_first = Window.partitionBy("url").orderBy("parent_seq", "link_pos")
            cand = (cand
                    .withColumn("_rk", F.row_number().over(w_first))
                    .withColumn("is_new",
                                F.col("_seen").isNull() & (F.col("_rk") == 1)))
            cand_path = store.round_dir(r, "candidates")
            cand.write.mode("overwrite").parquet(cand_path)
            cand = spark.read.parquet(cand_path)

            survivors = cand.filter(F.col("is_new")) \
                .select("url", "host", "bucket", "url_hash",
                        "parent_depth", "parent_seq", "link_pos")
            nxt, new_count, seq_cache = attach_dense_seq(
                survivors, ["parent_seq", "link_pos"], "seq")
            nxt = nxt.select("url", "host",
                             (F.col("parent_depth") + 1).alias("depth"),
                             "seq", "bucket", "url_hash")
            deferred = deferred_df
            if n_deferred > 0:
                # deferred rows re-enter at their original depth; the union
                # is re-sequenced (FIFO: deferred-first, then new children in
                # crawl order) so every frontier has unique seq — two
                # frontier generations may otherwise collide on seq, making
                # the next round's dense rank nondeterministic.
                mixed = (deferred.select(*FRONTIER_COLS,
                                         F.lit(0).alias("_grp"),
                                         F.col("seq").alias("_okey"))
                         .unionByName(nxt.select(*FRONTIER_COLS,
                                                 F.lit(1).alias("_grp"),
                                                 F.col("seq").alias("_okey"))))
                frontier_next, _, mix_cache = attach_dense_seq(
                    mixed.drop("seq"), ["_grp", "_okey"], "seq")
                frontier_next = frontier_next.select(*FRONTIER_COLS)
            else:
                frontier_next, mix_cache = nxt.select(*FRONTIER_COLS), None
            frontier_next.write.mode("overwrite") \
                .parquet(store.frontier_path(r + 1))
            seen_delta = (nxt.select("url", "url_hash", "bucket", "depth")
                          .repartition(cfg.num_buckets, "bucket"))
            seen_delta.write.mode("overwrite").parquet(store.seen_delta_path(r))
            if cfg.seen_bloom:
                # incremental filter update: aggregate only this round's
                # delta (reading back the just-written parquet keeps the
                # lineage flat) and bit_or-merge with the cumulative words —
                # the full seen set is never rescanned
                delta_words = bloom.bloom_words(
                    spark.read.parquet(store.seen_delta_path(r)),
                    m_bits=cfg.bloom_bits_per_bucket, k=cfg.bloom_probes)
                prev_words = self._bloom_words_df(r - 1)
                bloom.merge_words(prev_words, delta_words) \
                    .write.mode("overwrite").parquet(store.bloom_words_path(r))
            seq_cache.unpersist()
            if mix_cache is not None:
                mix_cache.unpersist()

            dedup_aggs = [F.count("*").alias("candidates"),
                          F.sum((~F.col("is_new")).cast("long")).alias("deduped"),
                          F.sum(F.col("is_new").cast("long")).alias("frontier_added")]
            if cfg.seen_bloom:
                # candidates the Bloom filter proved new (skipped the join)
                dedup_aggs.append(
                    F.sum((~F.col("_bloom_maybe")).cast("long"))
                    .alias("bloom_definite_new"))
            dedup_metrics = (cand.groupBy(F.col("_pid").alias("partition_id"))
                             .agg(*dedup_aggs)
                             .withColumn("stage", F.lit("expand")))
        else:
            if n_deferred > 0:
                deferred_df.write.mode("overwrite") \
                    .parquet(store.frontier_path(r + 1))
            dedup_metrics = None

        phases["expand"] = round(time.monotonic() - _pt, 3)

        # --- per-partition metrics (A4 / north-rule) ------------------------
        _pt = time.monotonic()
        fetch_metrics = (extracted.groupBy(F.col("_pid").alias("partition_id"))
                         .agg(F.count("*").alias("processed"),
                              F.sum(F.col("fetched").cast("long")).alias("fetched"),
                              F.sum((~F.col("fetched")).cast("long")).alias("failed"))
                         .withColumn("stage", F.lit("fetch")))
        rb = (work.groupBy(F.lit(0).alias("partition_id"))
              .agg(F.sum(F.col("robots_blocked").cast("long")).alias("robots_blocked"),
                   (F.sum(F.col("deferred").cast("long"))
                    + F.lit(n_throttled)).alias("deferred"),
                   F.lit(n_throttled).alias("throttled"))
              .withColumn("stage", F.lit("politeness")))
        metric_frames = [fetch_metrics, rb] + ([dedup_metrics] if dedup_metrics is not None else [])
        metrics = None
        for mf in metric_frames:
            metrics = mf if metrics is None else metrics.unionByName(mf, allowMissingColumns=True)
        metrics = metrics.withColumn("round", F.lit(r))
        metrics.write.mode("overwrite").parquet(store.metrics_path(r))
        phases["metrics_write"] = round(time.monotonic() - _pt, 3)

        counts = {
            "frontier": int(frontier_count),
            "new_urls": int(new_count),
            "deferred": int(n_deferred),
        }
        paths = {
            "extracted": extracted_path,
            "docs": store.docs_path(r),
            "metrics": store.metrics_path(r),
        }
        if expanding:
            paths["seen_delta"] = store.seen_delta_path(r)
            paths["frontier_next"] = store.frontier_path(r + 1)
            if cfg.seen_bloom:
                paths["bloom_words"] = store.bloom_words_path(r)
        # seen compaction: bound delta read amplification. Round r is not in
        # the manifest yet, so union the manifest-visible seen (≤ r-1) with
        # this round's just-written delta explicitly.
        if expanding and r > 0 and (r + 1) % cfg.compact_seen_every == 0:
            _pt = time.monotonic()
            compact = (self._seen_df(r - 1)
                       .unionByName(spark.read.parquet(store.seen_delta_path(r)))
                       .repartition(cfg.num_buckets, "bucket"))
            compact.write.mode("overwrite").parquet(store.seen_compact_path(r))
            paths["seen_compact"] = store.seen_compact_path(r)
            phases["seen_compact"] = round(time.monotonic() - _pt, 3)
        store.commit_round(r, counts, paths, timings=phases)
        if cfg.politeness:
            work.unpersist()
        if throttle_cache is not None:
            throttle_cache.unpersist()
        return counts

    # -- driver loop (L1/L2) -------------------------------------------------

    def run(self, seeds: DataFrame | None = None) -> CrawlResult:
        cfg, spark, store = self.cfg, self.spark, self.store
        start = time.monotonic()
        store.init_config(asdict(cfg))
        last = store.last_committed_round()
        if store.read_manifest()["init"] is None:
            if seeds is None:
                raise ValueError("fresh crawl needs a seeds DataFrame")
            self._init_frontier(seeds)
        scope = F.broadcast(self._scope_df())

        # The loop is NOT bounded by crawl_depth: politeness deferral can
        # push sub-depth-limit work into extra rounds (a depth-0 row deferred
        # twice is processed in round 2 and its children still expand).
        # Termination is by progress: every (host, salt) delay window
        # processes >= 1 row per round, so deferred work strictly drains, and
        # new URLs only come from parents below the depth budget (finite).
        r = last + 1
        while True:
            if (cfg.time_limit_secs is not None
                    and time.monotonic() - start > cfg.time_limit_secs):
                break  # L2: budget checked between rounds (round = atomic unit)
            frontier_path = (store.init_frontier_path() if r == 0
                             else store.frontier_path(r))
            import os
            if not os.path.exists(frontier_path):
                break  # frontier exhausted early
            frontier = spark.read.parquet(frontier_path)
            counts = self._run_round(r, frontier, scope)
            if counts["frontier"] == 0:
                break
            if counts["new_urls"] == 0 and counts["deferred"] == 0:
                break  # frontier exhausted — nothing enqueued for next round
            r += 1
        store.mark_done()
        return self.result()

    def result(self) -> CrawlResult:
        spark, store = self.spark, self.store
        manifest = store.read_manifest()
        rounds = [e["round"] for e in manifest["rounds"]]
        docs = spark.read.parquet(*[e["paths"]["docs"] for e in manifest["rounds"]]) \
            if rounds else None
        metrics = spark.read.parquet(*[e["paths"]["metrics"] for e in manifest["rounds"]]) \
            if rounds else None
        seen = self._seen_df(max(rounds)) if rounds else self._seen_df(-1)
        frontiers = {}
        if manifest["init"]:
            frontiers[0] = spark.read.parquet(store.init_frontier_path())
        for e in manifest["rounds"]:
            if "frontier_next" in e["paths"]:
                frontiers[e["round"] + 1] = spark.read.parquet(e["paths"]["frontier_next"])
        phase_times: dict = {}
        if manifest["init"] and manifest["init"].get("timings"):
            phase_times["init"] = manifest["init"]["timings"]
        for e in manifest["rounds"]:
            if e.get("timings"):
                phase_times[e["round"]] = e["timings"]
        return CrawlResult(docs=docs, seen=seen, metrics=metrics,
                           frontiers=frontiers, rounds_run=len(rounds),
                           store=store, phase_times=phase_times)


def crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    config: CrawlConfig | None = None,
    store_dir: str | None = None,
    robots: DataFrame | None = None,
    host_priority: DataFrame | None = None,
) -> CrawlResult:
    """One-shot crawl (fresh store). See Crawler for resume semantics."""
    return Crawler(spark, pages, config, store_dir, robots,
                   host_priority).run(seeds)


def resume(
    spark: SparkSession,
    pages: DataFrame,
    store_dir: str,
    config: CrawlConfig | None = None,
    robots: DataFrame | None = None,
    host_priority: DataFrame | None = None,
) -> CrawlResult:
    """Resume an interrupted crawl from its last committed round."""
    return Crawler(spark, pages, config, store_dir, robots,
                   host_priority).run(seeds=None)
