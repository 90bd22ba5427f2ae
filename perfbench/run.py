#!/usr/bin/env python3
"""webx benchmark: one workload, one closed loop, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload flagship_10k --seed 1 --seconds 16 --trace 0

The run generates the workload's inputs from ``--seed`` under
``.bench_work/``, computes the correctness references, starts Spark on
``local[<nproc>]`` and repeats the workload's job back to back (one
client, one job at a time) for ``--seconds``. It then checks the output
against the references and prints the metrics; the last stdout line is
the JSON result. ``--trace 1`` runs the same set-up plus the traced
per-layer pass (``layers.py``) and reports the per-layer metrics instead.
See README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import hostinfo  # noqa: E402
from layers import TIMED_GROUP  # noqa: E402

SETUPS = 4          # set-ups per run; setup_s is their median
MIN_PASSES = 3      # timed passes per run even when --seconds is short
WARM_SECONDS = 4.0  # untimed full passes between set-up and the timed loop
REF_MOPS = 80.0     # the reference host: its nproc cores together run the
                    # calibration loop at this many million steps per second
                    # (a quiet 4-vCPU guest on a 2.1 GHz Xeon does 85-92)


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fault", choices=("none", "corrupt", "raise"), default="none",
                   help="self-test only: corrupt one output byte, or make "
                        "the lane raise on one row during the first pass")
    return p.parse_args(argv)


def start_spark(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("webx-perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # the heap is committed up front, so peak RSS measures what the
        # program holds outside it rather than when the GC grew the heap
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    every Python worker it started have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = hostinfo.descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()      # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
    hostinfo.wait_gone(started)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def timed_loop(spark, wl, seconds: float, calib) -> dict:
    """Closed loop: the next pass starts when the previous one ends. Each
    pass records its wall time and the host's speed: the mean of the
    calibrations just before and just after it."""
    times, rates, raised, passes = [], [], 0, 0
    spark.sparkContext.setJobGroup(TIMED_GROUP, "timed loop")
    deadline = time.perf_counter() + seconds
    before = calib.rate()
    while passes < MIN_PASSES or time.perf_counter() < deadline:
        wl.pass_no = passes
        passes += 1
        wl.prepare()
        t = time.perf_counter()
        try:
            wl.run(spark)
        except Exception as exc:  # a failed job counts, the loop goes on
            raised += 1
            print(f"pass {passes} failed: {type(exc).__name__}: "
                  f"{str(exc).strip().splitlines()[-1][:200]}", file=sys.stderr)
            before = calib.rate()
            continue
        times.append(time.perf_counter() - t)
        after = calib.rate()
        rates.append((before + after) / 2)
        before = after
    spark.sparkContext.setJobGroup("perfbench-other", "outside the timed loop")
    return {"times": times, "rates": rates, "passes": passes, "raised": raised}


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    import webx  # noqa: F401  the program under test must be importable
    from workloads import WORKLOADS

    cores = hostinfo.nproc()
    meta = hostinfo.metadata()
    t = time.perf_counter()
    meta["host_mops_start"] = hostinfo.host_mops(ROOT, cores)
    calib = hostinfo.Calibrator(cores)  # forked before the JVM exists
    calib_s = time.perf_counter() - t
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # nothing outside the checkout: no JVM perf-data files in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    spark = None
    try:
        wl = WORKLOADS[args.workload](ROOT, work, args.seed)
        spark = start_spark(work, cores)
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.reference()
        ref_s = time.perf_counter() - t
        wl.warm(spark)
        # set-up 1 runs from process start: interpreter, imports, JVM,
        # session, workers, C kernel and the warm-up pass; input
        # generation, references and host calibration are not set-up
        setups = [hostinfo.seconds_since_process_start() - gen_s - ref_s - calib_s]
        for _ in range(SETUPS - 1):
            t = time.perf_counter()
            spark.stop()
            spark = start_spark(work, cores)
            wl.warm(spark)
            setups.append(time.perf_counter() - t)

        warm_until = time.perf_counter() + WARM_SECONDS
        while True:  # JIT and Python-worker warm-up, at least one full pass
            wl.prepare()
            wl.run(spark)
            if time.perf_counter() >= warm_until:
                break
        if args.fault == "raise":
            wl.fault_pass = 0
        wl.corrupt = args.fault == "corrupt"
        with hostinfo.RssSampler() as rss:
            loop = timed_loop(spark, wl, args.seconds, calib)
        try:
            checked, correct, err_rows = wl.verify(spark)
        except Exception as exc:
            print(f"verify failed: {type(exc).__name__}", file=sys.stderr)
            checked, correct, err_rows = max(wl.docs, 1), 0, wl.docs

        layers = None
        if args.trace:
            from layers import traced

            layers, spark = traced(
                spark, lambda width: start_spark(work, width), wl,
                loop, cores, os.path.join(ROOT, ".bench_work", "trace"))
    finally:
        calib.close()
        if spark is not None:
            stop_spark(spark)

    meta["host_mops_end"] = hostinfo.host_mops(ROOT, cores)
    meta["loadavg_end"] = hostinfo.loadavg()

    ok_passes = loop["passes"] - loop["raised"]
    attempted = wl.docs * loop["passes"]
    failed = wl.docs * loop["raised"] + err_rows * ok_passes
    times, rates = loop["times"], loop["rates"]
    # a pass's wall time in reference seconds: how long it would have
    # taken on a host whose cores run the calibration loop at REF_MOPS
    refs = [t * r / REF_MOPS for t, r in zip(times, rates)]
    q1, med, q3 = quartiles(times) if times else (float("inf"),) * 3
    ref_q = quartiles(refs) if refs else (float("inf"),) * 3
    rate_q = quartiles(rates) if rates else (0.0,) * 3
    setup_q = quartiles(setups)
    e2e = {
        "docs_per_ref_s": (wl.docs / ref_q[1], "docs/ref-s"),
        "mb_per_ref_s": (wl.bytes / 1e6 / ref_q[1], "MB/ref-s"),
        "setup_s": (setup_q[1], "s"),
        "correct_ratio": (correct / checked, "ratio"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    # printed and recorded, not gated (see README.md)
    shown = {
        "docs_per_s": (wl.docs / med, "docs/s"),
        "mb_per_s": (wl.bytes / 1e6 / med, "MB/s"),
        "failed_ratio": (failed / max(attempted, 1), "ratio"),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input": wl.stats(), "gen_s": gen_s, "ref_s": ref_s,
        "setup_s_samples": setups, "pass_s": times,
        "pass_s_quartiles": [q1, med, q3], "calib_mops": rates,
        "pass_ref_s_quartiles": list(ref_q),
        "passes": loop["passes"],
        "raised_passes": loop["raised"], "meta": meta,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in {**e2e, **shown}.items()},
    }
    if layers is not None:
        record["layers"] = layers
    results = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(
        results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"meta": meta, "input": wl.stats(), "gen_s": round(gen_s, 3),
                      "ref_s": round(ref_s, 3)}))
    print(f"{args.workload}: {len(times)} timed passes of {loop['passes']}, "
          f"pass_s median {med:.4f} [q1 {q1:.4f}, q3 {q3:.4f}], "
          f"pass_ref_s median {ref_q[1]:.4f} [q1 {ref_q[0]:.4f}, q3 {ref_q[2]:.4f}], "
          f"calibration median {rate_q[1]:.1f} Mops/s; "
          f"{len(setups)} set-ups, median {setup_q[1]:.3f} s")
    for k, (v, u) in {**e2e, **shown}.items():
        print(f"  {k:<14} {v:12.4f} {u}")
    if layers is not None:
        for k, m in layers.items():
            print(f"  {k:<34} {m['value']:14.4f} {m['unit']}")

    if args.trace:
        metrics = layers
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": correct == checked and failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
