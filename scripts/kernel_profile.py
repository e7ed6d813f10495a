#!/usr/bin/env python
"""Single-core extraction-kernel cost: ms/page for the full Arrow-UDF body
(decode + shared-parse extract_page_fields -> MDX + links) over the
synthetic Common-Crawl-style corpus, no Spark involved.

This is the number that caps single-host scaling (VERDICT r3 #1): at
local[32] the crawl_scan wall is ~n_pages * ms_per_page / eff_parallelism,
so every 10%% shaved here moves the oversubscribed local[8]->local[32]
scaling pair directly.

Usage: python scripts/kernel_profile.py [synth_sf] [n_pages] [--profile]
With --profile, prints the top cumulative-time slices from cProfile.
With --alloc, reports the per-page tracemalloc peak above each page's
starting level, summed over pages and set against html bytes in. It is a
lower bound on allocation traffic (memory freed and reused within a page
never raises the peak), not the traffic itself.
With --procs N, runs the kernel in N independent OS processes over
disjoint page shards (no Spark, no shared state) and reports aggregate
pages/s — the kernel-only multi-core scaling measurement.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import duckdb

    from supercrawler_spark import refspec
    from supercrawler_spark.sources import synth

    synth_sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.1
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 4000
    corpus_dir = synth.ensure_corpus(synth_sf)
    rows = duckdb.sql(
        f"SELECT url, html FROM '{corpus_dir}/pages/*/*.parquet' "
        f"ORDER BY hash(url) LIMIT {n}").fetchall()
    pages = [(u, bytes(h).decode("utf-8", errors="replace"))
             for u, h in rows]
    total_bytes = sum(len(h.encode()) for _, h in pages)

    def run_once():
        for u, h in pages:
            refspec.extract_page_fields(h, u, variant="supercrawler")

    run_once()  # warm (regex compile, memo tables)
    t0 = time.monotonic()
    run_once()
    dt = time.monotonic() - t0
    print(f"pages={len(pages)} bytes={total_bytes} wall={dt:.3f}s "
          f"ms_per_page={1000 * dt / len(pages):.3f} "
          f"mb_per_s={total_bytes / dt / 2**20:.1f}")

    if "--profile" in sys.argv:
        import cProfile
        import pstats
        pr = cProfile.Profile()
        pr.enable()
        run_once()
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(25)

    if "--alloc" in sys.argv:
        # per-page peak: the high-water mark of traced memory above the
        # page's starting level, summed over pages. Blocks freed and
        # reallocated within a page never raise the peak, so this is a
        # lower bound on allocation traffic, not the traffic itself
        import tracemalloc
        tracemalloc.start()
        peak_sum = 0
        for u, h in pages:
            before = tracemalloc.get_traced_memory()[0]
            tracemalloc.reset_peak()
            refspec.extract_page_fields(h, u, variant="supercrawler")
            peak = tracemalloc.get_traced_memory()[1]
            peak_sum += max(0, peak - before)
        tracemalloc.stop()
        print(f"page_peak_sum={peak_sum} "
              f"peak_bytes_per_page={peak_sum / len(pages):.0f} "
              f"peak_vs_html={peak_sum / total_bytes:.2f}x")

    if "--procs" in sys.argv:
        import multiprocessing as mp
        idx = sys.argv.index("--procs")
        nprocs = int(sys.argv[idx + 1])
        # each child loads its own shard from parquet (pickling megabytes
        # of html through IPC would be charged to the kernel), warms, then
        # barrier-synchronizes so every timed body overlaps fully — the
        # contention is exactly what this mode measures
        barrier = mp.Barrier(nprocs + 1)
        out_q = mp.Queue()
        procs = [mp.Process(target=_run_shard_proc,
                            args=((corpus_dir, nprocs, rank, n),
                                  barrier, out_q))
                 for rank in range(nprocs)]
        for p in procs:
            p.start()
        barrier.wait()
        t0 = time.monotonic()
        results = [out_q.get() for _ in procs]
        dt = time.monotonic() - t0
        for p in procs:
            p.join()
        total = sum(c for c, _ in results)
        print(f"procs={nprocs} pages={total} wall={dt:.3f}s "
              f"pages_per_s={total / dt:.0f} "
              f"slowest_body={max(d for _, d in results):.3f}s")


def _load_shard(corpus_dir, nprocs, rank, n):
    import duckdb
    rows = duckdb.sql(
        f"SELECT url, html FROM '{corpus_dir}/pages/*/*.parquet' "
        f"ORDER BY hash(url) LIMIT {n}").fetchall()
    return [(u, bytes(h).decode("utf-8", errors="replace"))
            for u, h in rows][rank::nprocs]


def _run_shard_proc(arg, barrier, out_q):
    from supercrawler_spark import refspec
    shard = _load_shard(*arg)
    for u, h in shard[:8]:
        refspec.extract_page_fields(h, u, variant="supercrawler")
    barrier.wait()
    t0 = time.monotonic()
    for u, h in shard:
        refspec.extract_page_fields(h, u, variant="supercrawler")
    out_q.put((len(shard), time.monotonic() - t0))


if __name__ == "__main__":
    main()
