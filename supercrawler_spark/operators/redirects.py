"""Redirect-chain resolution over the crawl graph (HTTP 301/308 chains).

A real web frontier is full of redirects: a fetched URL often answers with a
``Location`` pointing at another URL, which may itself redirect. Before a URL
enters the seen-set or the dedup pipeline, the crawler must resolve it to its
*final* target (and count hops, to drop over-long chains — the reference's
fetch client follows redirects implicitly via ``reqwest``'s default redirect
policy, ``/root/reference/src/supercrawler.rs:670-700``; this operator makes
that resolution an explicit, auditable, distributed step).

Scale design — pointer doubling, not per-hop chasing. A naive resolver joins
the frontier against the redirect map once per hop: chains of length k cost
k shuffles, and a single long chain stalls the whole job. Instead we iterate
``f ← f ∘ f`` (each row's successor jumps to its successor's successor, hops
add), so after i rounds every row has followed ``2^i`` hops: resolution of
the longest chain k costs only ``ceil(log2 k)`` self-join shuffles. Each
round persists + materializes and unpersists the previous round, so neither
lineage nor executor storage grows with the iteration count — the same
discipline as ``clusters.dedup_clusters``. At 10^10 URLs each round is
one hash-partitioned equi-join on an 8-byte id: AQE-coalesced, no skew
(redirect targets are near-uniform), no driver-side state.

The deterministic redirect relation used by the CORRECTNESS gate is derived
arithmetically from ``documents`` (same pattern as ``graph.edges``):

    is_redirect(d) = d % 7 == 0 and d > 0
    target(d)      = ((d div 7) * 31 + 5) % d      -- strictly < d ⇒ acyclic

The strictly-decreasing target makes the synthetic chain graph a DAG, so the
DuckDB recursive-CTE oracle terminates; the Spark resolver itself also
handles cycles via ``max_iters`` (a cycle simply stops shrinking and is
reported with ``resolved = false``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

MAX_ITERS = 32  # 2^32 hops — far beyond any sane redirect-chain cap


def _is_redirect(c: Column) -> Column:
    return (c % 7 == 0) & (c > 0)


def _target(c: Column) -> Column:
    # only ever applied where c % 7 == 0, so the division is exact
    return (F.floor(c.cast("long") / F.lit(7)).cast("long") * 31 + 5) % c


def redirect_edges(docs: DataFrame) -> DataFrame:
    """(src_id, dst_id) — one redirect edge per redirecting document."""
    d = F.col("doc_id")
    return (docs.select(d.cast("long").alias("src_id"))
            .filter(_is_redirect(F.col("src_id")))
            .withColumn("dst_id", _target(F.col("src_id"))))


def resolve_redirects(docs: DataFrame,
                      max_iters: int = MAX_ITERS) -> DataFrame:
    """Resolve every document id to its final (non-redirect) target.

    Returns (doc_id, final_id, hops, resolved): ``final_id`` is the end of
    the redirect chain starting at ``doc_id`` (itself, if it doesn't
    redirect), ``hops`` the chain length followed, ``resolved`` false only
    if ``max_iters`` doublings (2^max_iters hops) did not reach a
    non-redirect — i.e. a cycle in real data.
    """
    d = F.col("doc_id").cast("long")
    cur = docs.select(
        d.alias("doc_id"),
        F.when(_is_redirect(d), _target(d)).otherwise(d).alias("nxt"),
        F.when(_is_redirect(d), F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("hops"))
    cur = cur.persist()
    cur.count()
    for _ in range(max_iters):
        # fixpoint: every successor is terminal (jump would add 0 hops)
        pending = cur.filter(_is_redirect(F.col("nxt"))).limit(1).count()
        if pending == 0:
            break
        succ = cur.select(F.col("doc_id").alias("s_id"),
                          F.col("nxt").alias("s_nxt"),
                          F.col("hops").alias("s_hops"))
        nxt = (cur.join(succ, cur.nxt == succ.s_id)
               .select(cur.doc_id, F.col("s_nxt").alias("nxt"),
                       (cur.hops + F.col("s_hops")).alias("hops")))
        nxt = nxt.persist()
        nxt.count()
        cur.unpersist()
        cur = nxt
    out = cur.select(
        "doc_id", F.col("nxt").alias("final_id"), "hops",
        (~_is_redirect(F.col("nxt"))).alias("resolved"))
    cur.unpersist()
    return out


def canonical_frontier(docs: DataFrame) -> DataFrame:
    """Frontier view after redirect resolution: distinct final targets with
    the number of distinct source ids that collapse onto each (in-degree of
    the resolved mapping — a cheap popularity prior for crawl priority)."""
    r = resolve_redirects(docs)
    return (r.groupBy(F.col("final_id"))
            .agg(F.count("*").alias("n_sources"),
                 F.max("hops").alias("max_hops"))
            .select("final_id", "n_sources", "max_hops"))
