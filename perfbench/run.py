"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_commit --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. Builds the workload's inputs from
``--seed``, measures for ``--seconds`` and prints, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Everything it writes goes under ``.bench_work/`` in
the current directory, and it stops the Spark JVM before exiting.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
SETUP_REPS = 5


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(args, work: str, probe) -> dict:
    """Set-up, then the traced or the untraced run; returns the result
    object. Leaves the session running for the caller to stop."""
    from perfbench import harness, workloads

    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    # set-up, repeated: (re)start the session, then generate the inputs.
    # The first start also launches the JVM; a restart includes stopping
    # the session before it. Each is scaled by the probe's mean over the
    # whole set-up, since one lasts only a few of its samples.
    spark = None
    setup, starts, gens = [], [], []
    begin = time.monotonic()
    for rep in range(SETUP_REPS):
        t0 = time.monotonic()
        if spark is not None:
            spark.stop()
        spark = harness.start(work)
        t1 = time.monotonic()
        wl.generate(spark)
        t2 = time.monotonic()
        starts.append(t1 - t0)
        gens.append(t2 - t1)
        setup.append(t2 - t0)
        print(f"setup {rep}: start {t1 - t0:.2f} s, inputs {t2 - t1:.2f} s", file=sys.stderr)
    setup_s = probe.scale(statistics.median(setup), begin, time.monotonic())

    if args.trace:
        from perfbench import traced

        spans = os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{os.getpid()}.jsonl")
        layer, attempted = traced.run(wl, spark, spans)
        layer["session.start_s"] = starts[0]
        layer["datagen.s"] = statistics.median(gens)
        return {
            "correct": True,
            "attempted": attempted,
            "failed": 0,
            "metrics": {k: {"value": v, "unit": traced.unit(k)} for k, v in layer.items()},
        }

    rss = harness.PeakRss()
    res = workloads.run_untraced(wl, spark, args.seconds, rss, probe)
    if not (res["main"] and res["refresh"] and res["recall"]):
        _fail("no iteration passed its checks")
    attempted, failed = res["attempted"], res["failed"]

    print(f"samples: {len(res['main'])} main, {len(res['refresh'])} refresh", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "docs_per_s": {"value": wl.n_docs / statistics.median(res["main"]), "unit": "1/s"},
            "refresh_s": {"value": statistics.median(res["refresh"]), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
            "stored_mb": {"value": statistics.median(res["stored"]) / 2**20, "unit": "MB"},
            "ok_ratio": {"value": (attempted - failed) / attempted, "unit": "ratio"},
            "recall": {"value": statistics.median(res["recall"]), "unit": "ratio"},
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the library and this package are imported from the checkout root
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "sonata_neo4j_loader_spark")):
        _fail(f"no sonata_neo4j_loader_spark package under {ROOT}; run from a source checkout")
    from perfbench import harness, workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        with harness.SpeedProbe(os.path.join(work, "speed.txt")) as probe:
            try:
                result = run(args, work, probe)
            finally:
                harness.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(result))


if __name__ == "__main__":
    main()
