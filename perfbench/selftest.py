#!/usr/bin/env python3
"""Self-test of the benchmark's own checks.

    python3 perfbench/selftest.py

1. The in-process page and PDF builders in ``inputs.py`` are
   byte-identical to ``webx.synth.flagship_pages_from_docs`` and
   ``webx.synth.synth_pdfs`` on a sample of documents.
2. A clean run reports ``correct`` with ``correct_ratio`` 1 and no
   failed docs.
3. ``--fault corrupt`` damages one output byte: ``correct_ratio`` drops
   below 1 by exactly one row and the run is flagged ``correct: false``.
4. ``--fault raise`` makes the lane raise on one row during the first
   timed pass: that whole job counts as failed, it is not retried, the
   loop goes on to the next pass, and the run is flagged.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)


def run(workload: str, fault: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", "0", "--fault", fault]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["_input"] = json.loads(lines[0])["input"]
    return res


def check_builders() -> None:
    from pyspark.sql import SparkSession

    import inputs
    from run import stop_spark
    from webx import synth

    docs = inputs.documents(3, 64)
    docs.loc[5, "text"] = "  tabs\tand <tags> & amps\n across  lines "
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as tmp:
        os.environ["PYTHONPATH"] = ROOT
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        try:
            src = spark.read.parquet(inputs.write_documents(docs, tmp))
            pages = {r["url"]: bytes(r["html"]) for r in
                     synth.flagship_pages_from_docs(src).select("url", "html").collect()}
            pdfs = {r["url"]: bytes(r["pdf"]) for r in
                    synth.synth_pdfs(spark, None, docs=src).collect()}
        finally:
            stop_spark(spark)
    for d, t in zip(docs["doc_id"], docs["text"]):
        u = inputs.url_of(int(d))
        assert pages[u] == inputs.flagship_page(int(d), t), f"page {d} differs"
        assert pdfs[u] == inputs.synth_pdf(int(d), t), f"pdf {d} differs"
    print("ok  page and PDF builders match webx.synth on 64 docs")


def main() -> int:
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    check_builders()

    clean = run("gnarly_mix", "none")
    assert clean["correct"] and clean["failed"] == 0, clean
    assert clean["metrics"]["correct_ratio"]["value"] == 1.0, clean
    print("ok  clean run: correct, correct_ratio 1, no failed docs")

    bad = run("gnarly_mix", "corrupt")
    docs = bad["_input"]["docs"]
    ratio = bad["metrics"]["correct_ratio"]["value"]
    assert not bad["correct"], bad
    assert abs(ratio - (docs - 1) / docs) < 1e-12, ratio
    print(f"ok  one corrupted byte: correct_ratio {ratio:.6f} < 1, run flagged")

    boom = run("routed_job", "raise")
    docs = boom["_input"]["docs"]
    passes = boom["attempted"] // docs
    assert not boom["correct"], boom
    assert boom["failed"] == docs, boom           # exactly the one failed job
    assert passes >= 3, boom                      # the loop moved on
    assert boom["metrics"]["correct_ratio"]["value"] == 1.0, boom  # later passes fine
    print(f"ok  raising lane: {boom['failed']} of {boom['attempted']} docs failed "
          f"(one job of {passes}), run flagged, loop continued")
    return 0


if __name__ == "__main__":
    sys.exit(main())
