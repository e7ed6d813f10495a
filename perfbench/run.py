#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload scan_wide --seed 1 --seconds 8 \\
        --trace 0 [--size tiny]

Run it from the root of a checkout. Inputs are generated from ``--seed``;
the engine runs on ``local[4]`` (``perfbench/spec.json``). The run sets up
(session, inputs, warm-up), then repeats the workload's timed iteration
until the timed walls add up to ``--seconds`` (at least once), checking
every iteration's output untimed. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` list;
the line before it holds each iteration's wall, CPU and stolen CPU time and
the workload's own end-to-end figures. With ``--trace 1`` one traced
iteration is made, the layer calls follow, and the metrics are the
``per_layer`` list; spans go to ``.perfbench_out/``. Every traced run
measures every layer, whichever workload it is. A metric the run could not
measure is named on stderr with the reason, and the run exits 1 without a
result line. Scratch files live in ``.perfbench_work/`` and are removed on
exit.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# input generations per run; setup_s counts their median
GEN_REPEATS = 3
# An iteration is calm when the hypervisor stole at most this share of the
# CPU time the run got in it. Other tenants' load inflates cpu_s and
# net_wall_s too (scan_wide iterations with 4-19 s of steal read 15-35%
# more CPU), so a run whose iterations were all stolen makes up to
# EXTRA_ITERATIONS more to find a calm one.
STEAL_LIMIT = 0.03
EXTRA_ITERATIONS = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def spark_conf(spec: dict, work: str, tmp: str) -> dict:
    conf = dict(spec["spark_conf"])
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    # keep the JVM's temp files (and no hsperfdata) inside the checkout
    conf["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (its Python workers are stopped with the SparkContext)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def attempt(wl, spark, traced: bool):
    from perfbench.workloads import Iteration
    wl.tracer.enabled = traced
    t0 = time.monotonic()
    try:
        return wl.iterate(spark, traced)
    except Exception:  # noqa: BLE001 - a failed iteration is counted
        traceback.print_exc(file=sys.stderr)
        return Iteration(time.monotonic() - t0, traced,
                         failures=["iteration raised"])


def calm(it) -> bool:
    return it.steal_s <= STEAL_LIMIT * it.cpu_s


def measure(wl, spark, seconds: float, traced: bool) -> list:
    """Untraced iterations until their timed walls add up to ``seconds``,
    at least one, and one of them is calm (at most EXTRA_ITERATIONS more);
    the untimed output checks do not count, so a run's iteration count
    depends on the engine's speed and the host's steal alone. A traced run
    makes one traced iteration: its layer calls take the rest of the
    180 s a run may last."""
    if traced:
        return [attempt(wl, spark, True)]
    iters = []
    while not iters or sum(it.wall_s for it in iters) < seconds:
        iters.append(attempt(wl, spark, False))
    for _ in range(EXTRA_ITERATIONS):
        if any(calm(it) for it in iters):
            break
        iters.append(attempt(wl, spark, False))
    return iters


def run(args, spec: dict, bench: dict, work: str, out_dir: str) -> int:
    from perfbench import probes
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS
    from supercrawler_spark.session import get_spark
    import_s = time.monotonic() - T_START

    # the workload's own sizes, plus those of the layer-only workloads
    # every traced run hosts
    size = dict(spec["workloads"][args.workload]["sizes"][args.size])
    for hosted in spec["hosted_workloads"].values():
        size.update(hosted["sizes"][args.size])
    cores = spec["cores"]
    tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}",
                    enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](size, args.seed, work, tracer, cores)
    # input generation runs first (it may fork a process pool, which is
    # only safe before the gateway's threads exist) and is repeated for
    # setup_s, its median taken; session start, load and warm-up happen
    # once. Traced runs report no setup_s and generate once, to save time
    gen = []
    with tracer.span("setup.inputs"):
        for _ in range(1 if args.trace else GEN_REPEATS):
            t0 = time.monotonic()
            wl.generate()
            gen.append(time.monotonic() - t0)
    with tracer.span("setup.session"):
        t0 = time.monotonic()
        spark = get_spark("perfbench", cores=cores,
                          extra_conf=spark_conf(spec, work, tempfile.tempdir))
        session_s = time.monotonic() - t0
    try:
        with tracer.span("setup.load"):
            t0 = time.monotonic()
            wl.load(spark)
            load_s = time.monotonic() - t0
        with tracer.span("setup.warmup"), tracer.paused():
            t0 = time.monotonic()
            wl.warmup(spark)
            warmup_s = time.monotonic() - t0
        gen_s = statistics.median(gen)
        setup_s = import_s + session_s + gen_s + load_s + warmup_s

        wl.prepare_check()
        iters = measure(wl, spark, args.seconds, bool(args.trace))
        # layer figures come from the traced iteration, if it completed
        done = [it for it in iters if it.traced and it.figures]
        layers, layer_error = {}, None
        if args.trace and not done:
            layer_error = "no traced iteration completed"
        elif args.trace:
            try:
                layers = wl.layers(spark, done[-1])
            except Exception:  # noqa: BLE001 - reported below
                traceback.print_exc(file=sys.stderr)
                layer_error = "layer calls raised"
        rss = probes.peak_rss_mb(probes.jvm_pid(spark))
    finally:
        stop_spark(spark)

    attempted = len(iters)
    failed = sum(1 for it in iters if it.failures)
    for it in iters:
        for msg in it.failures:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)
    # an iteration that raised has no figures and no meaningful times;
    # the end-to-end metrics come from the calm ones if there are any
    good = [it for it in iters if it.figures]
    ok = [it for it in good or iters if calm(it)] or good or iters
    figures = wl.figures(good)
    figures["error_rate"] = failed / attempted
    wall_s = statistics.median(it.wall_s for it in ok)
    if not args.trace:
        metrics = {"setup_s": setup_s,
                   "cpu_s": statistics.median(it.cpu_s for it in ok),
                   "net_wall_s": statistics.median(it.net_wall_s
                                                   for it in ok)}
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "iterations": attempted, "wall_s": wall_s,
                          "figures": figures, "peak_rss_mb": rss,
                          "walls": [it.wall_s for it in iters],
                          "cpus": [it.cpu_s for it in iters],
                          "steals": [it.steal_s for it in iters]}))
        catalog = bench["end_to_end"]
    else:
        metrics = {"session.start_s": session_s, "synth.gen_s": gen_s,
                   "warmup_s": warmup_s, "peak_rss_mb": rss, "wall_s": wall_s,
                   "trace.overhead_s": tracer.overhead_s,
                   "trace.spans": len(tracer.spans)}
        metrics.update(figures)
        metrics.update(layers)
        metrics.update({f"span.{k}.self_s": v
                        for k, v in tracer.self_times().items()})
        tracer.dump(os.path.join(
            out_dir, f"trace_{args.workload}_seed{args.seed}.json"))
        catalog = bench["per_layer"]
        if done:
            # crawler.frontier_s sums three of these
            print(json.dumps({"workload": args.workload, "seed": args.seed,
                              "crawl_phases_s": done[-1].figures["phases"]}))
    result, reasons = {}, {}
    for m in catalog:
        name = m["name"]
        value = metrics.get(name)
        if name not in metrics:
            reasons[name] = layer_error or "not measured"
        elif value is None:
            reasons[name] = (probes.PRIVATE_MISSING
                             if name.startswith("spark.")
                             else "no iteration completed")
        result[name] = {"value": value, "unit": m["unit"]}
    if reasons:
        # every metric of the result line is a number; a run that could
        # not measure one prints no result
        for name, why in reasons.items():
            print(f"perfbench: {name} not measured: {why}", file=sys.stderr)
        return 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "supercrawler_spark")):
        print("perfbench: no supercrawler_spark package beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in spec["workloads"] or \
            "sizes" not in spec["workloads"][args.workload]:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(out_dir, exist_ok=True)
    # everything the run writes stays inside the checkout: Python and the
    # gateway launcher honour TMPDIR, Spark's block manager
    # SPARK_LOCAL_DIRS; the Python workers find the engine and this
    # package through PYTHONPATH
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # import the package from the checkout root, never this script's
    # directory (its module names would shadow same-named top-level ones)
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != HERE]
    try:
        return run(args, spec, bench, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
