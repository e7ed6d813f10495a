"""The benchmark's workloads. Each one generates its inputs from the seed,
loads them into Spark, warms up, and then runs timed iterations of public
engine calls; every iteration is followed by an untimed output check.
Traced runs add ``layers``: further public calls, each timed on its own,
that split the iteration's wall time by layer. Every traced run measures
every layer: its own crawl, the kernel and the extract UDF plans over its
own corpus, then corpus_prep (``corpus_layers``) and ann_query
(``ann_layers``) on inputs of their own."""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from perfbench import inputs, probes
from perfbench.tracing import Tracer
from supercrawler_spark import oracle, pipeline, refspec
from supercrawler_spark.crawler import CrawlConfig, crawl
from supercrawler_spark.functions import udfs
from supercrawler_spark.functions.urls import canonicalize_url
from supercrawler_spark.operators import clusters, dedup, similarity
from supercrawler_spark.operators import textquality
from supercrawler_spark.sources import synth
from supercrawler_spark.store import CrawlStore

# corpus_prep's docs come from a small seeded corpus of their own, so its
# committed output ids (corpus_prep_ids.json) do not depend on the host's size
CORPUS_PREP_PAGES = 100
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "corpus_prep_ids.json")) as _f:
    CORPUS_PREP_IDS = json.load(_f)

# manifest phase keys of a crawl round, in engine order
ROUND_PHASES = ("stats_collect", "fetch_extract_write", "recover_missing",
                "docs_write", "expand", "metrics_write", "seen_compact")
# phases that turn one round's output into the next frontier, reported
# summed as crawler.frontier_s: a depth-0 crawl never expands, and at these
# sizes the seen set is never compacted, so alone each would read 0 on
# every scan_wide run
FRONTIER_PHASES = ("stats_collect", "expand", "seen_compact")
CRAWL_COUNTS = ("processed", "fetched", "failed", "candidates", "deduped",
                "frontier_added", "robots_blocked", "deferred")


@pandas_udf(udfs.PAGE_STRUCT)
def null_extract_page(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    """Constant (mdx, links) of the engine's PAGE_STRUCT schema: the same
    Arrow round trip as ``udfs.extract_page`` with no extraction work."""
    n = len(url)
    return pd.DataFrame({"mdx": [""] * n, "links": [[] for _ in range(n)]})


@dataclass
class Iteration:
    wall_s: float
    traced: bool = False
    cpu_s: float = 0.0      # CPU seconds of this process tree in wall_s
    steal_s: float = 0.0    # CPU seconds the hypervisor stole in wall_s
    figures: dict = field(default_factory=dict)
    failures: list = field(default_factory=list)

    @property
    def net_wall_s(self) -> float:
        """``wall_s`` without the hypervisor's steal. Idle vCPUs accrue no
        steal, so in ``wall_s`` the machine wanted cpu_s + steal_s of CPU
        and got cpu_s (the benchmark's process tree is all that runs); at
        the same parallelism, unstolen, the iteration takes this long."""
        busy = self.cpu_s + self.steal_s
        return self.wall_s * self.cpu_s / busy if busy else self.wall_s


def _median(xs):
    return statistics.median(xs) if xs else None


def _quantile(xs, q: float) -> float | None:
    """Nearest-rank quantile of ``xs`` (None for an empty list)."""
    if not xs:
        return None
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


@contextmanager
def _traced_store(tracer: Tracer):
    """Span every manifest commit the crawler makes through CrawlStore."""
    names = ("commit_init", "commit_round", "mark_done")
    originals = {n: getattr(CrawlStore, n) for n in names}

    def wrap(fn):
        def call(*args, **kwargs):
            with tracer.span("store.commit"):
                return fn(*args, **kwargs)
        return call
    for n, fn in originals.items():
        setattr(CrawlStore, n, wrap(fn))
    try:
        yield
    finally:
        for n, fn in originals.items():
            setattr(CrawlStore, n, fn)


def _timed_count(tracer: Tracer, name: str, df) -> tuple[float, int]:
    with tracer.span(name) as counts:
        t0 = time.monotonic()
        counts["rows"] = df.count()
        return time.monotonic() - t0, counts["rows"]


class Workload:
    """Shared run plumbing; subclasses fill in the engine calls."""
    name = ""

    def __init__(self, size: dict, seed: int, work_dir: str, tracer: Tracer,
                 cores: int):
        self.size = size
        self.seed = seed
        self.work = work_dir
        self.tracer = tracer
        self.cores = cores
        self._n_dirs = 0

    def new_dir(self, prefix: str) -> str:
        self._n_dirs += 1
        path = os.path.join(self.work, f"{prefix}{self._n_dirs:03d}")
        os.makedirs(path)
        return path

    # subclasses: generate / load / warmup / prepare_check / iterate /
    # figures / layers
    def prepare_check(self) -> None:
        pass


class _Crawl(Workload):
    """Common part of the two crawl workloads."""
    with_goldens = False

    def config(self) -> CrawlConfig:
        raise NotImplementedError

    def _run(self, spark, store_dir: str):
        return crawl(spark, self.pages, self.seeds, self.config(),
                     store_dir=store_dir, robots=self.robots)

    def generate(self) -> None:
        self.corpus = inputs.crawl_corpus(
            self.size["pages"], self.seed, with_goldens=self.with_goldens,
            workers=self.size["gen_workers"])

    def load(self, spark) -> None:
        d = self.new_dir("corpus")
        synth.write_corpus(self.corpus, d, inputs.NUM_BUCKETS)
        self.pages, seeds, self.robots = synth.load_tables(spark, d)
        self.seeds = self._seeds(self.pages, seeds)

    def warmup(self, spark) -> None:
        """One untimed, unchecked crawl of the workload's own input, so the
        timed ones run the same plans with JIT and codegen caches warm."""
        self._run(spark, self.new_dir("warm"))

    def iterate(self, spark, traced: bool) -> Iteration:
        store_dir = self.new_dir("store")
        group = f"perfbench-{self.name}-{self._n_dirs}"
        commit_before = self.tracer.total("store.commit")
        with self.tracer.span("iteration"):
            with probes.job_group(spark, group), \
                    (_traced_store(self.tracer) if traced
                     else nullcontext()), \
                    self.tracer.span("crawl") as counts:
                cpu0 = probes.tree_cpu_s(os.getpid())
                steal0 = probes.cpu_steal_s()
                t0 = time.monotonic()
                res = self._run(spark, store_dir)
                wall = time.monotonic() - t0
                steal = probes.cpu_steal_s() - steal0
                cpu = probes.tree_cpu_s(os.getpid()) - cpu0
        it = Iteration(wall, traced, cpu, steal)
        it.figures.update(self._crawl_figures(res, store_dir))
        counts.update(it.figures["counts"], rounds=it.figures["rounds"])
        if traced:
            it.figures["spark"] = probes.group_counts(spark, group)
            it.figures["store_commit_s"] = (self.tracer.total("store.commit")
                                            - commit_before)
        it.failures = self.check(res)
        return it

    def _crawl_figures(self, res, store_dir: str) -> dict:
        cols = [c for c in CRAWL_COUNTS if c in res.metrics.columns]
        row = res.metrics.agg(*[F.sum(c).alias(c) for c in cols]).collect()[0]
        counts = {c: int(row[c] or 0) if c in cols else 0
                  for c in CRAWL_COUNTS}
        man = res.store.read_manifest()
        stamps = ([man["init"]["committed_at"]]
                  + [e["committed_at"] for e in man["rounds"]])
        phases = {"init": sum(man["init"].get("timings", {}).values())}
        for key in ROUND_PHASES:
            phases[key] = sum(e.get("timings", {}).get(key, 0.0)
                              for e in man["rounds"])
        n_bytes, n_files = probes.dir_size(store_dir)
        return {"counts": counts, "rounds": res.rounds_run,
                "round_gaps": [b - a for a, b in zip(stamps, stamps[1:])],
                "phases": phases, "store_bytes": n_bytes,
                "store_files": n_files}

    def figures(self, iters: list[Iteration]) -> dict:
        gaps = [g for it in iters for g in it.figures["round_gaps"]]
        return {
            "urls_per_s": _median([it.figures["counts"]["processed"]
                                   / it.wall_s for it in iters]),
            "round_s_p50": _quantile(gaps, 0.5),
            "round_s_p90": _quantile(gaps, 0.9),
        }

    def kernel_ms_per_page(self, pages: list) -> float:
        """Single-core ``refspec.extract_page_fields`` over a fixed page
        sample, median of three passes, in ms per page."""
        passes = []
        with self.tracer.span("extract.kernel") as counts:
            counts["pages"] = 3 * len(pages)
            for _ in range(3):
                t0 = time.monotonic()
                for p in pages:
                    refspec.extract_page_fields(p.html, p.url)
                passes.append((time.monotonic() - t0) / len(pages) * 1e3)
        return statistics.median(passes)

    def layers(self, spark, it: Iteration) -> dict:
        """Every layer's figures: the crawl's own from ``it``, a traced
        iteration that completed, the kernel and the extract UDF plans
        over this corpus, then corpus_prep and ann_query."""
        html_pages = [p for p in self.corpus.pages if inputs.is_html(p)]
        ms = self.kernel_ms_per_page(html_pages[:self.size["kernel_pages"]])
        out = self.crawl_layers(it, ms)
        out.update(self.udf_layers(spark, html_pages))
        out.update(ann_layers(spark, self, it))
        out.update(corpus_layers(spark, self, it))
        return out

    def base_rounds(self) -> int:
        """Rounds the crawl makes without robots deferrals."""
        raise NotImplementedError

    def crawl_layers(self, it: Iteration, ms_per_page: float) -> dict:
        f = it.figures
        c, sp, ph = f["counts"], f["spark"], f["phases"]
        out = {"refspec.ms_per_page": ms_per_page,
               "crawler.rounds": f["rounds"],
               "crawler.kernel_share": (c["processed"] * ms_per_page / 1e3
                                        / (it.wall_s * self.cores)),
               "crawler.frontier_s": sum(ph[k] for k in FRONTIER_PHASES),
               "robots.blocked": c["robots_blocked"],
               "robots.deferred": c["deferred"],
               "robots.extra_rounds": f["rounds"] - self.base_rounds(),
               "store.bytes_mb": f["store_bytes"] / float(1 << 20),
               "store.files": f["store_files"],
               "store.commit_s": f["store_commit_s"]}
        out.update({f"crawler.{k}_s": v for k, v in ph.items()
                    if k not in FRONTIER_PHASES})
        out.update({f"crawler.{k}": c[k] for k in CRAWL_COUNTS[:6]})
        out.update({f"spark.{k}": v for k, v in sp.items()})
        out["spark.jobs_per_round"] = sp["jobs"] / f["rounds"]
        out["spark.core_util"] = (None if sp["task_s"] is None else
                                  sp["task_s"] / (it.wall_s * self.cores))
        return out

    def udf_layers(self, spark, html_pages: list) -> dict:
        """The html-pages scan → extract UDF → noop sink plan, run with the
        real kernel and with a constant UDF of the same schema."""
        html = self.pages.filter(F.col("content_type").contains("text/html"))

        def plan(fn, span):
            with self.tracer.span(span) as counts:
                counts["pages"] = len(html_pages)
                t0 = time.monotonic()
                (html.select(fn("url", "html").alias("page"))
                 .select("page.mdx", "page.links")
                 .write.format("noop").mode("overwrite").save())
                return time.monotonic() - t0
        real = plan(udfs.extract_page, "extract.udf_plan")
        null = plan(null_extract_page, "extract.null_plan")
        return {"udfs.extract_s": real, "udfs.null_extract_s": null,
                "udfs.arrow_share": null / real,
                "udfs.html_mb": sum(len(p.html.encode()) for p in html_pages)
                / float(1 << 20)}


class ScanWide(_Crawl):
    """Every page of the corpus enqueued as a depth-0 seed: one wide round."""
    name = "scan_wide"
    # the generator's golden MDX (its ``text`` column) is the scan's oracle
    with_goldens = True

    def config(self) -> CrawlConfig:
        return CrawlConfig(crawl_depth=0, num_buckets=inputs.NUM_BUCKETS)

    def _seeds(self, pages, seeds):
        return pages.select("url", F.pmod(F.xxhash64("url"), F.lit(1 << 40))
                            .alias("seed_order"))

    def prepare_check(self) -> None:
        self.golden = {canonicalize_url(p.url): p.text
                       for p in self.corpus.pages if inputs.is_html(p)}

    def check(self, res) -> list[str]:
        docs = {r["url"]: r["mdx"]
                for r in res.docs.select("url", "mdx").collect()}
        # F12: pages whose golden MDX is blank yield no doc
        bad = [u for u, text in self.golden.items()
               if docs.get(u) != (text if text.strip() else None)]
        return [f"{len(bad)} html pages differ from golden MDX, e.g. "
                f"{bad[0]}"] if bad else []

    def base_rounds(self) -> int:
        return 1


class BfsPolite(_Crawl):
    """Multi-round BFS from the corpus seed list under the generator's
    robots rules and crawl delays."""
    name = "bfs_polite"

    def config(self) -> CrawlConfig:
        return CrawlConfig(crawl_depth=self.size["depth"], politeness=True,
                           num_buckets=inputs.NUM_BUCKETS)

    def _seeds(self, pages, seeds):
        return seeds

    def prepare_check(self) -> None:
        c = self.corpus
        self.oracle = oracle.oracle_bfs(
            {p.url: (p.html, p.content_type) for p in c.pages}, c.seeds,
            crawl_depth=self.size["depth"], robots=c.robots)
        self.oracle_blocked = sum(m["robots_blocked"] for m in
                                  self.oracle.metrics_by_depth.values())

    def check(self, res) -> list[str]:
        o, out = self.oracle, []
        seen = {r["url"] for r in res.seen.select("url").collect()}
        docs = {r["url"]: r["mdx"]
                for r in res.docs.select("url", "mdx").collect()}
        blocked = int(res.metrics.agg(F.sum("robots_blocked"))
                      .collect()[0][0] or 0)
        if seen != o.seen:
            out.append(f"seen set differs from oracle: "
                       f"{len(seen ^ o.seen)} urls")
        if docs != {u: mdx for u, _, mdx in o.docs}:
            out.append("docs differ from oracle")
        if blocked != self.oracle_blocked:
            out.append(f"robots blocked {blocked} != oracle "
                       f"{self.oracle_blocked}")
        private = [u for u in docs if urlsplit(u).path.startswith("/private")]
        if private:
            out.append(f"fetched a robots-disallowed page: {private[0]}")
        return out

    def base_rounds(self) -> int:
        return len(self.oracle.frontier_by_depth)


class AnnQuery(Workload):
    """Staged IVF-PQ index build and one query batch over planted clusters;
    run inside every traced run (``ann_layers``)."""
    name = "ann_query"
    K = 10
    DIM = 32
    # index and query parameters
    N_CELLS, M_SUB, K_CODES, NPROBE, RERANK = 16, 8, 32, 4, 64
    RECALL_FLOOR = 0.9

    def generate(self) -> None:
        self.vectors = inputs.planted_vectors(
            self.size["centers"], self.K + 1, self.DIM,
            self.size["queries"], self.seed)

    def load(self, spark) -> None:
        v = self.vectors
        path = inputs.write_vectors(v, os.path.join(self.new_dir("vec"),
                                                    "v.parquet"))
        self.corpus = spark.read.parquet(path)
        self.queries = self.corpus.filter(F.col("vec_id").isin(v.query_ids))

    def prepare_check(self) -> None:
        v = self.vectors
        self.exact = inputs.exact_topk(v, self.K)
        wrong = [q for q in v.query_ids if self.exact[q] != v.mates(q)]
        if wrong:
            raise RuntimeError(f"planted structure broken for queries {wrong}")

    def _index_query(self, corpus, queries):
        t0 = time.monotonic()
        with self.tracer.span("similarity.index"):
            codes, cents, cb = similarity.ivfpq_index(
                corpus, n_cells=self.N_CELLS, m_sub=self.M_SUB,
                k_codes=self.K_CODES, n_iters=2, dim=self.DIM)
            idx = [df.persist() for df in (codes, cents, cb)]
            for df in idx:
                df.count()
        t1 = time.monotonic()
        with self.tracer.span("similarity.query") as counts:
            rows = similarity.ivfpq_query(
                idx[0], idx[1], idx[2], corpus, queries, k=self.K,
                nprobe=self.NPROBE, m_sub=self.M_SUB, rerank=self.RERANK,
                dim=self.DIM).collect()
            counts["rows"] = len(rows)
        t2 = time.monotonic()
        for df in idx:
            df.unpersist()
        return t1 - t0, t2 - t1, rows

    def _topk(self, rows) -> dict[int, set]:
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return got

    def iterate(self, spark, traced: bool) -> Iteration:
        with self.tracer.span("iteration"):
            index_s, query_s, rows = self._index_query(self.corpus,
                                                       self.queries)
        it = Iteration(index_s + query_s, traced)
        ann = self._topk(rows)
        recall = statistics.mean(len(ann.get(q, set()) & self.exact[q])
                                 / self.K for q in self.vectors.query_ids)
        it.figures = {"index_s": index_s, "query_batch_s": query_s,
                      "recall_at10": recall}
        if recall < self.RECALL_FLOOR:
            it.failures.append(f"recall@10 {recall:.4f} below floor "
                               f"{self.RECALL_FLOOR}")
        return it

    def layers(self, spark, it: Iteration) -> dict:
        with self.tracer.span("similarity.exact") as counts:
            t0 = time.monotonic()
            rows = similarity.l2_topk(self.corpus, self.queries,
                                      k=self.K).collect()
            exact_s = time.monotonic() - t0
            counts["rows"] = len(rows)
        if self._topk(rows) != self.exact:
            it.failures.append("l2_topk differs from the brute-force top-10")
        return {"similarity.index_s": it.figures["index_s"],
                "similarity.query_s": it.figures["query_batch_s"],
                "similarity.exact_s": exact_s,
                "similarity.exact_over_ann":
                    exact_s / it.figures["query_batch_s"]}


def ann_layers(spark, host: Workload, it: Iteration) -> dict:
    """ann_query inside ``host``'s traced run: its own inputs and one
    traced index + query iteration, then the exact baseline. There is no
    warm-up of its own (the JVM is warm from the crawl; the similarity
    plans are not): it would take ~10 s of the 180 s a run may last.
    Output check failures are recorded on ``it``, the host's traced
    iteration."""
    ann = AnnQuery(host.size, host.seed, host.work, host.tracer, host.cores)
    ann.generate()
    ann.load(spark)
    ann.prepare_check()
    a_it = ann.iterate(spark, traced=True)
    out = {k: a_it.figures[k]
           for k in ("index_s", "query_batch_s", "recall_at10")}
    out.update(ann.layers(spark, a_it))
    it.failures.extend(a_it.failures)
    return out


def corpus_prep_docs(seed: int, base_docs: int,
                     copies: int) -> inputs.CorpusDocs:
    """``base_docs`` crawl-length docs plus ``copies`` exact and ``copies``
    near copies of them."""
    corpus = inputs.crawl_corpus(CORPUS_PREP_PAGES, seed, with_goldens=True)
    return inputs.corpus_docs(corpus, base_docs, copies, copies, seed)


def corpus_layers(spark, wl: Workload, it: Iteration) -> dict:
    """corpus_prep: ``pipeline.prepare_training_corpus`` over crawl-length
    docs with planted exact and near copies, then its dedup, cluster and
    quality-gate stages one public call at a time. Output check failures
    are recorded on ``it``, the hosting run's traced iteration."""
    tr = wl.tracer
    b, c = wl.size["base_docs"], wl.size["copies"]
    docs = corpus_prep_docs(wl.seed, b, c)
    df = spark.read.parquet(inputs.write_docs(
        docs, os.path.join(wl.new_dir("docs"), "docs.parquet")))
    n_in = len(docs.rows)
    group = "perfbench-corpus_prep"
    with tr.span("pipeline") as counts, probes.job_group(spark, group):
        t0 = time.monotonic()
        clean, report = pipeline.prepare_training_corpus(df)
        out_ids = sorted(r[0] for r in clean.select("doc_id").collect())
        pipe_s = time.monotonic() - t0
        counts.update(report)
    sp = probes.group_counts(spark, group)
    expected = CORPUS_PREP_IDS.get(f"base{b}_copies{c}", {}).get(str(wl.seed))
    it.failures.extend(corpus_check(docs, report, out_ids, expected))
    if expected is None:
        print(f"perfbench: corpus_prep ids for seed {wl.seed} are not in "
              f"corpus_prep_ids.json, stability unchecked: {out_ids}",
              file=sys.stderr)
    out = {"docs_per_s": n_in / pipe_s,
           "pipeline.spark_jobs": sp["jobs"],
           "dedup.tokens_per_doc": statistics.mean(
               len(t.split()) for _, t in docs.rows)}
    out.update({f"pipeline.{k}": v for k, v in report.items()})
    out["textquality.gate_s"], _ = _timed_count(
        tr, "textquality.gate", textquality.filter_corpus(df))
    out["dedup.shingles_s"], out["dedup.shingles"] = _timed_count(
        tr, "dedup.shingles", dedup.shingles(df))
    out["dedup.minhash_s"], _ = _timed_count(
        tr, "dedup.minhash", dedup.minhash_signatures(df))
    out["dedup.lsh_pairs_s"], out["dedup.lsh_pairs"] = _timed_count(
        tr, "dedup.lsh_pairs", dedup.minhash_lsh_pairs(df))
    # largest LSH band bucket (minhash_lsh_pairs' default bands of 2
    # hashes), counted here: a few rows per doc
    bands = defaultdict(list)
    for r in dedup.minhash_signatures(df).collect():
        bands[(r["doc_id"], r["hash_id"] // 2)].append(r["min_hash"])
    out["dedup.max_block"] = max(Counter(
        (band, tuple(sorted(v))) for (_, band), v in bands.items()).values())
    cc = clusters.dedup_clusters(df).persist()
    out["clusters.cluster_s"], out["clusters.members"] = _timed_count(
        tr, "clusters.cluster", cc)
    out["clusters.clusters"] = cc.select("cluster_id").distinct().count()
    out["clusters.resolve_s"], _ = _timed_count(
        tr, "clusters.resolve", clusters.resolve_duplicates(df, clusters=cc))
    cc.unpersist()
    return out


def corpus_check(docs: inputs.CorpusDocs, report: dict, out_ids: list[int],
                 expected: list[int] | None) -> list[str]:
    out = []
    kept = set(out_ids)
    leaked = [i for i in docs.exact_copies if i in kept]
    if leaked:
        out.append(f"planted exact copies kept: {leaked}")
    drops = sum(v for k, v in report.items() if k.endswith("_dropped"))
    if report["input_docs"] - drops != len(out_ids) \
            or report["output_docs"] != len(out_ids):
        out.append(f"input {report['input_docs']} - drops {drops} != "
                   f"output {len(out_ids)}")
    # stable across runs: the ids an earlier run of the same seed and
    # size kept, committed in corpus_prep_ids.json
    if expected is not None and out_ids != expected:
        out.append(f"corpus_prep output ids {out_ids} differ from the "
                   f"committed {expected}")
    return out


WORKLOADS = {w.name: w for w in (ScanWide, BfsPolite)}
