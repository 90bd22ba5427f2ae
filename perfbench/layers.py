"""Traced run (``--trace 1``): the per-layer split of one workload.

Python layers are timed in-process on the workload's own input batches
(the same Arrow batches the Python workers receive), with spans recorded
around calls into the public functions of each ``webx`` module; the
wrappers are installed from here for the traced pass only and removed
afterwards. JVM-side layers are timed as differential Spark plans, and
Spark's own task metrics for the timed loop are read from the local
status REST API. See README.md for every metric's definition.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.request

import pandas as pd

from spans import Tracer
from workloads import ROUTED_PARTITIONS

MAX_DOCS = 4096       # docs per in-process layer pass
REPEATS = 3           # repeats of each untraced pass; the median is used
LANES = ("html", "pdf", "image", "audio", "video", "other")
TIMED_GROUP = "perfbench-timed"

LANE_METRICS = (("us_per_doc", "us"), ("docs", "count"), ("fail_ratio", "ratio"))
# per-layer metrics every traced run reports (BENCHMARK.json per_layer);
# routed_job adds the other router lanes, the sink and lineage, and
# curate_funnel the funnel stages
PER_LAYER = {
    "scan.us_per_doc": "us", "transport.us_per_doc": "us",
    "transport.arrow_bytes_per_doc": "B", "charset.us_per_doc": "us",
    "detect.us_per_doc": "us", "detect.c_final_ratio": "ratio",
    "recognize.us_per_doc": "us", "recognize.c_done_ratio": "ratio",
    "extract.us_per_doc": "us", "extract.glue_us_per_doc": "us",
    "arrow_out.us_per_doc": "us", "arrow_out.bytes_per_doc": "B",
    "route.classify.us_per_doc": "us",
    **{f"route.{lane}.{k}": u for lane in ("html", "other") for k, u in LANE_METRICS},
    "spark.jobs": "count", "spark.tasks": "count", "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B", "spark.gc_ms": "ms", "spark.scheduler_delay_ms": "ms",
    "spark.task_skew": "ratio", "spark.scaling_1to4": "ratio",
    "trace.overhead_ratio": "ratio",
}
UNITS = {**PER_LAYER, "sink.us_per_doc": "us", "sink.bytes_per_doc": "B",
         "sink.files": "count", "lineage.s_per_chunk": "s",
         "lineage.input_scans": "count",
         **{f"route.{lane}.{k}": u for lane in LANES for k, u in LANE_METRICS}}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_s(fn, k: int = REPEATS) -> float:
    ts = []
    for _ in range(k):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


# ---------------------------------------------------------------- python

def _frames(wl):
    """Up to MAX_DOCS HTML docs of the workload as pandas batches."""
    from webx.route import classify_payload

    frames, n = [], 0
    for b in wl.html_docs():
        pdf = b.to_pandas()
        if wl.mixed:   # only the payloads the router sends to the HTML lane
            pdf = pdf[[classify_payload(h) == "html" for h in pdf["html"]]]
        pdf = pdf.head(MAX_DOCS - n).reset_index(drop=True)
        if len(pdf):
            frames.append(pdf)
            n += len(pdf)
        if n >= MAX_DOCS:
            break
    return frames, n


def _install_html(tr: Tracer) -> None:
    import webx.ctokenize as ck
    import webx.extract as ex

    def final(res):
        tr.count("detect.final_calls")
        if res[0] == "final":
            tr.count("detect.final_in_c")

    def done(res):
        tr.count("recognize.spans")
        if res[1]:
            tr.count("recognize.done_in_c")

    for attr in ("normalize_input_bytes", "sniff_charset", "decode_bytes"):
        tr.wrap(ex, attr, f"charset.{attr}")
    tr.wrap(ck, "detect_final", "detect.detect_final", final)
    tr.wrap(ck, "strip_norm_c", "recognize.strip_norm_c", done)
    for attr in ("_finalize_runs", "expand_spans", "validate_spans",
                 "block_scores", "merge_runs_table"):
        tr.wrap(ex, attr, f"detect.{attr}")
    for attr in ("decode_span", "decode_span_pre", "decode_span_rawkept"):
        tr.wrap(ex, attr, f"recognize.{attr}", lambda _r: tr.count("recognize.spans"))
    for attr in ("decode_stripped", "pre_regions"):
        tr.wrap(ex, attr, f"recognize.{attr}")
    _clear_kernel_caches()


def _clear_kernel_caches() -> None:
    import webx.extract as ex

    for fn in (ex.resolve_detect_final, ex.resolve_strip_norm):
        fn.cache_clear()


def html_layers(tr: Tracer, wl) -> dict:
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from webx.config import ExtractConfig
    from webx.extract import detect_batch, extract_batch
    from webx.schema import extracted_schema

    cfg = ExtractConfig()
    frames, n = _frames(wl)
    if not n:
        return {}
    outs = [extract_batch(f, cfg) for f in frames]   # warm caches
    extract_s = _median_s(lambda: [extract_batch(f, cfg) for f in frames])
    detect_s = _median_s(lambda: [detect_batch(f, cfg) for f in frames])
    schema = to_arrow_schema(extracted_schema())
    tables = []
    arrow_s = _median_s(lambda: tables.append(
        [pa.Table.from_pandas(o, schema=schema, preserve_index=False) for o in outs]))
    out_bytes = sum(t.nbytes for t in tables[-1])
    in_bytes = sum(pa.Table.from_pandas(f, preserve_index=False).nbytes for f in frames)

    _install_html(tr)
    try:
        for f in frames:
            tr.new_trace()
            with tr.span("extract"):
                extract_batch(f, cfg)
    finally:
        tr.restore()
        _clear_kernel_caches()

    us = 1e6 / n
    probe_s = tr.total_ns("charset.decode_bytes") / 1e9
    c = tr.counts
    return {
        "charset.us_per_doc": tr.total_ns("charset.") / 1e9 * us,
        "detect.us_per_doc": tr.total_ns("detect.") / 1e9 * us,
        "detect.c_final_ratio": c.get("detect.final_in_c", 0)
        / max(c.get("detect.final_calls", 0), 1),
        "recognize.us_per_doc": max(extract_s - detect_s - probe_s, 0.0) * us,
        "recognize.c_done_ratio": c.get("recognize.done_in_c", 0)
        / max(c.get("recognize.spans", 0), 1),
        "extract.us_per_doc": extract_s * us,
        "extract.glue_us_per_doc": tr.self_ns("extract") / 1e9 * us,
        "arrow_out.us_per_doc": arrow_s * us,
        "arrow_out.bytes_per_doc": out_bytes / n,
        "transport.arrow_bytes_per_doc": in_bytes / n,
        "trace.overhead_ratio": tr.total_ns("extract") / 1e9 / extract_s,
        "_html_docs": n,
    }


def route_layers(tr: Tracer, wl) -> dict:
    """classify_payload plus each lane's public function, per payload."""
    import webx.media as media
    from webx.config import ExtractConfig
    from webx.extract import extract_batch
    from webx.pdf import parse_pdf
    from webx.route import classify_payload

    cfg = ExtractConfig()
    docs = {lane: 0 for lane in LANES}
    fails = dict(docs)
    n = 0
    for b in wl.html_docs():
        pdf = b.to_pandas()
        tr.new_trace()
        kinds = []
        with tr.span("route.classify"):
            for p in pdf["html"]:
                kinds.append(classify_payload(p))
        n += len(kinds)
        for lane in LANES:
            idx = [i for i, k in enumerate(kinds) if k == lane]
            docs[lane] += len(idx)
            if not idx:
                continue
            payloads = [pdf["html"].iat[i] for i in idx]
            with tr.span(f"route.{lane}"):
                if lane == "html":
                    sub = pd.DataFrame({"url": pdf["url"].iloc[idx].tolist(), "html": payloads})
                    st = extract_batch(sub, cfg)["status"]
                    fails[lane] += int((st == "error").sum())
                elif lane == "pdf":
                    for p in payloads:
                        try:
                            parse_pdf(p)
                        except Exception:  # the lane maps this to 'unsupported'
                            fails[lane] += 1
                elif lane != "other":
                    sniff = getattr(media, f"sniff_{lane}_meta")
                    fails[lane] += sum(1 for p in payloads if not sniff(p)[-1])
        if n >= MAX_DOCS:
            break
    out = {"route.classify.us_per_doc": tr.total_ns("route.classify") / 1e3 / max(n, 1)}
    for lane in LANES:
        k = docs[lane]
        if not k and f"route.{lane}.docs" not in PER_LAYER:
            continue
        out[f"route.{lane}.docs"] = k
        out[f"route.{lane}.us_per_doc"] = tr.total_ns(f"route.{lane}") / 1e3 / k if k else 0.0
        out[f"route.{lane}.fail_ratio"] = fails[lane] / k if k else 0.0
    return out


# ----------------------------------------------------------------- spark

def _rest(spark, path: str):
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def spark_metrics(spark, passes: int) -> dict:
    """Spark's task metrics for the timed loop's jobs, per pass."""
    jobs = [j for j in _rest(spark, "jobs") if j.get("jobGroup") == TIMED_GROUP]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in _rest(spark, "stages") if s["stageId"] in stage_ids
              and s["status"] == "COMPLETE"]
    tasks = delay = 0
    gc = shuffle = spill = 0
    max_sum = med_sum = 0.0
    for s in stages:
        tl = _rest(spark, f"stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000")
        tasks += len(tl)
        delay += sum(t.get("schedulerDelay", 0) for t in tl)
        gc += s.get("jvmGcTime", 0)
        shuffle += s.get("shuffleWriteBytes", 0)
        spill += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        durs = [t["duration"] for t in tl if "duration" in t]
        if len(durs) > 1:
            max_sum += max(durs)
            med_sum += statistics.median(durs)
    p = max(passes, 1)
    return {
        "spark.jobs": len(jobs) / p, "spark.tasks": tasks / p,
        "spark.shuffle_bytes": shuffle / p, "spark.spill_bytes": spill / p,
        "spark.gc_ms": gc / p, "spark.scheduler_delay_ms": delay / p,
        "spark.task_skew": max_sum / med_sum if med_sum else 1.0,
    }


def scan_transport(spark, wl) -> dict:
    """Differential plans over the workload's input: parquet scan and
    projection to noop, then the same plus an identity mapInPandas."""
    pages = spark.read.parquet(wl.input_dir()).select("url", "html")

    def identity(batches):
        yield from batches

    scan_s = _median_s(lambda: _noop(pages))
    both_s = _median_s(lambda: _noop(pages.mapInPandas(identity, pages.schema)))
    us = 1e6 / wl.docs
    return {"scan.us_per_doc": scan_s * us,
            "transport.us_per_doc": max(both_s - scan_s, 0.0) * us}


def scaling(spark, start, wl, cores: int):
    """Raw N→4N efficiency of the workload's job: local[1] against
    local[4]. Returns (efficiency, a session at local[cores])."""
    times = {}
    for width in (1, 4):
        spark.stop()
        spark = start(width)
        ts = []
        for _ in range(3):                          # the first is warm-up
            wl.prepare()
            t = time.perf_counter()
            wl.scaling_job(spark)
            ts.append(time.perf_counter() - t)
        times[width] = statistics.median(ts[1:])
    if cores != 4:
        spark.stop()
        spark = start(cores)
    return times[1] / (4 * times[4]), spark


def routed_sink(spark, tr: Tracer, wl) -> dict:
    """Spans around the chunk loop's output commits and lineage appends
    during one routed job, the input scans it made, and what it wrote."""
    from pyspark.sql import DataFrameWriter, functions as F

    import webx.lineage as lin
    import webx.route as route

    before = {e["id"] for e in _rest(spark, "sql?length=100000")}
    tr.new_trace()
    tr.wrap(DataFrameWriter, "save", "sink.save")
    tr.wrap(lin.CheckpointStore, "append", "lineage.append")
    tr.wrap(lin.CheckpointStore, "completed_partitions", "lineage.resume_probe")
    tr.wrap(route, "checkpointed_routed_extract_fn", "lineage.chunk_plan",
            lambda _r: tr.count("lineage.chunks"))
    wl.prepare()
    try:
        with tr.span("routed_job"):
            wl.run(spark)
    finally:
        tr.restore()
    captures = os.path.basename(wl.input_dir()) + "]"
    scans = sum(
        1
        for e in _rest(spark, "sql?details=true&planDescription=true&length=100000")
        if e["id"] not in before
        for node in e.get("planDescription", "").split("\n\n")
        if re.match(r"\(\d+\) Scan parquet", node.strip()) and captures in node
    )
    # the same routed extraction to noop: what the job costs without sink
    pages = lin.with_partition_id(wl.pages(spark), ROUTED_PARTITIONS)
    plain = route.checkpointed_routed_extract_fn(pages, None, (lin.PARTITION_COL,))
    plain = plain.select("url", "text", F.to_json("spans"), "status")
    plain_s = _median_s(lambda: _noop(plain), 2)
    appends = {s[0] for s in tr.spans if s[1] == "lineage.append"}
    sink_s = sum(s[3] - s[2] for s in tr.spans
                 if s[1] == "sink.save" and s[4] not in appends) / 1e9
    out_dir, _ = wl._dirs()
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(out_dir)
             for f in fs if f.endswith(".parquet")]
    chunks = max(tr.counts.get("lineage.chunks", 0), 1)
    return {
        "sink.us_per_doc": max(sink_s - plain_s, 0.0) * 1e6 / wl.docs,
        "sink.bytes_per_doc": sum(os.path.getsize(f) for f in files) / wl.docs,
        "sink.files": len(files),
        "lineage.s_per_chunk": (tr.total_ns("lineage.append")
                                + tr.total_ns("lineage.resume_probe")) / 1e9 / chunks,
        "lineage.input_scans": scans,
    }


def curate_stages(spark, tr: Tracer, wl) -> dict:
    """Prefixes of the q_curate_pipeline funnel, each counted once:
    ``curate.<stage>.s`` is the time to materialize the funnel up to that
    stage (from the scan through ``exact``, then from the cached survivor
    set), ``rows_out`` its row count."""
    from pyspark.sql import Window, functions as F

    import __spark_entry__ as E
    import webx.dedup as dedup
    from webx.curate import cap_per_host, contaminated_ids, pack_sequences
    from webx.pipeline import run_extraction
    from webx.textstats import quality_filter

    pages = E._par(E._curate_corpus_pages(spark, wl.sf_dir()), spark)
    ext = run_extraction(pages, E.CFG).select("url", "text")
    d = F.regexp_extract("url", r"doc/(\d+)$", 1).cast("long")
    alt = F.when(F.col("url").startswith("https://alt."), F.lit(1_000_000)).otherwise(F.lit(0))
    ids = ext.select((d + alt).alias("doc_id"), "url", "text")
    qf = quality_filter(ids.select("doc_id", "text"), min_tokens=30)
    q = ids.join(qf.filter("keep").select("doc_id"), "doc_id")
    prefixes = {"extract": ids, "quality": q}
    w = Window.partitionBy("text").orderBy("url")
    survivors = q.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
    survivors = survivors.persist()
    prefixes["exact"] = survivors
    pairs = dedup.minhash_neardup(survivors.select("doc_id", "text"), threshold=0.6)
    pairs = pairs.select("id_a", "id_b")
    kb = dedup.keep_best(survivors.select("doc_id", F.octet_length("text").alias("score")), pairs)
    nd = survivors.join(kb.filter("keep = 1").select("doc_id"), "doc_id")
    bench = nd.filter((F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 1_000_000))
    clean = nd.join(contaminated_ids(nd, bench, n=13), "doc_id", "left_anti")
    hosted = clean.withColumn("host", F.regexp_extract("url", r"//([^/]+)", 1))
    capped = cap_per_host(hosted, max_per_host=40, order_col="doc_id")
    packed = pack_sequences(capped, max_tokens=512, group_col="host", order_col="doc_id")
    # counting "exact" fills the survivor cache the later stages start
    # from, as in the real funnel
    prefixes.update({"minhash": pairs, "keep_best": nd, "decontam": clean,
                     "cap": capped, "pack": packed})
    out = {}
    for name, df in prefixes.items():
        t = time.perf_counter()
        out[f"curate.{name}.rows_out"] = df.count()
        out[f"curate.{name}.s"] = time.perf_counter() - t
    spark.catalog.clearCache()
    tr.new_trace()
    tr.wrap(dedup, "gated_broadcast", "dedup.gated_broadcast",
            lambda _r: tr.count("dedup.gated_broadcast.calls"))
    try:
        wl.run(spark)
    finally:
        tr.restore()
    out["dedup.gated_broadcast.s"] = tr.total_ns("dedup.gated_broadcast") / 1e9
    out["dedup.gated_broadcast.calls"] = tr.counts.get("dedup.gated_broadcast.calls", 0)
    return out


# ------------------------------------------------------------------ main

def traced(spark, start, wl, loop, cores, trace_dir) -> tuple:
    """Per-layer metrics of one workload → (metrics, session)."""
    tr = Tracer()
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(spark_metrics(spark, loop["passes"]))
    m.update(scan_transport(spark, wl))
    m.update(html_layers(tr, wl))
    m.update(route_layers(tr, wl))
    if wl.name == "routed_job":
        m.update(routed_sink(spark, tr, wl))
    if wl.name == "curate_funnel":
        m.update(curate_stages(spark, tr, wl))
    m["spark.scaling_1to4"], spark = scaling(spark, start, wl, cores)
    os.makedirs(trace_dir, exist_ok=True)
    tr.dump(os.path.join(trace_dir, f"{wl.name}-s{wl.seed}.spans.jsonl"))
    m.pop("_html_docs", None)
    metrics = {k: {"value": float(v), "unit": UNITS.get(k, "s" if k.endswith(".s")
                                                          else "count")}
               for k, v in m.items()}
    with open(os.path.join(trace_dir, f"{wl.name}-s{wl.seed}.layers.json"), "w") as fh:
        json.dump(metrics, fh, indent=1)
    return metrics, spark
