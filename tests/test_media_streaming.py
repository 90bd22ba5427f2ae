"""Multimodal plumbing + Structured Streaming parity tests."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from webx import synth
from webx.config import ExtractConfig
from webx.media import media_features, resize_image, sample_frames, synth_media
from webx.pipeline import run_extraction
from webx.streaming import run_extraction_stream

CFG = ExtractConfig()


def test_media_features_deterministic(spark):
    media = synth_media(spark, SF_SMALL)
    feats = media_features(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    docs = {r["doc_id"]: r["text"] for r in synth.load_documents(spark, SF_SMALL).collect()}
    assert len(rows) == len(docs)
    # spot-check byte arithmetic against pure python
    for did in list(docs)[:5]:
        raw = (docs[did] + "|" + docs[did]).encode("utf-8")
        r = rows[did]
        assert r["n_bytes"] == len(raw)
        assert r["byte_sum"] == sum(raw)
        assert len(r["feature"]) == 8
        assert abs(sum(r["feature"]) - 1.0) < 1e-9


def test_media_features_schema_stable(spark):
    media = synth_media(spark, SF_SMALL).limit(10)
    feats = media_features(media)
    assert [f.name for f in feats.schema.fields] == [
        "media_id", "kind", "n_bytes", "byte_sum", "feature",
    ]


def test_sample_frames(spark):
    media = synth_media(spark, SF_SMALL)
    frames = sample_frames(media, every_n=2)
    vids = media.filter(F.col("kind") == "video").select(
        "media_id", F.col("meta.n_frames").alias("nf"), F.octet_length("payload").alias("nb")
    )
    j = (
        frames.groupBy("media_id").agg(F.count("*").alias("got"))
        .join(vids, "media_id")
    )
    # every_n=2 over nf frames -> ceil(nf/2) sampled
    bad = j.filter(F.col("got") != F.ceil(F.col("nf") / 2)).count()
    assert bad == 0
    assert frames.filter(F.octet_length("frame") == 0).count() == 0


def test_resize_image_grid(spark):
    media = synth_media(spark, SF_SMALL)
    out = resize_image(media, 16, 12)
    rows = out.collect()
    n_images = media.filter(F.col("kind") == "image").count()
    assert len(rows) == n_images
    assert all(len(r["payload"]) == 16 * 12 for r in rows)
    assert all((r["meta"]["width"], r["meta"]["height"]) == (16, 12) for r in rows)

    # exact value check vs pure numpy on one image
    import numpy as np

    from webx.media import decode_image_bytes

    src = media.filter(F.col("kind") == "image").orderBy("media_id").first()
    img = decode_image_bytes(bytes(src["payload"]), src["meta"]["width"], src["meta"]["height"])
    ys = (np.arange(12) * img.shape[0] // 12).clip(0, img.shape[0] - 1)
    xs = (np.arange(16) * img.shape[1] // 16).clip(0, img.shape[1] - 1)
    expect = img[np.ix_(ys, xs)].tobytes()
    got = {r["media_id"]: bytes(r["payload"]) for r in rows}[src["media_id"]]
    assert got == expect


def test_streaming_matches_batch_and_is_incremental(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = synth.synth_pages(spark, SF_SMALL)
    first = pages.filter(F.col("url").endswith("0"))
    rest = pages.filter(~F.col("url").endswith("0"))
    first.write.mode("append").parquet(inp)

    q = run_extraction_stream(spark, inp, out, ckpt, CFG)
    q.awaitTermination(120)
    got1 = spark.read.parquet(out)
    n1 = got1.count()
    assert n1 == first.count()

    # append more input files; second drain processes ONLY the new files
    rest.write.mode("append").parquet(inp)
    q2 = run_extraction_stream(spark, inp, out, ckpt, CFG)
    q2.awaitTermination(180)
    final = spark.read.parquet(out)
    assert final.count() == 500

    # byte-identical to the batch pipeline
    batch = run_extraction(pages, CFG).select("url", "text")
    stream = final.select("url", "text")
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_sessionize_batch(spark):
    from datetime import datetime as dt

    from webx.events import sessionize

    rows = [
        (1, dt(2026, 1, 1, 10, 0), 100, "a", 1.25, ""),
        (2, dt(2026, 1, 1, 10, 10), 100, "a", 2.50, ""),   # same session (10 min)
        (3, dt(2026, 1, 1, 11, 0), 100, "a", 0.75, ""),    # new session (50 min gap)
        (4, dt(2026, 1, 1, 10, 5), 200, "b", 9.99, ""),    # other user
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        (r["user_id"], r["session_id"]): r
        for r in sessionize(ev, gap_minutes=30).collect()
    }
    assert set(got) == {(100, 1), (100, 2), (200, 1)}
    s1 = got[(100, 1)]
    assert s1["n_events"] == 2 and s1["sum_cents"] == 125 + 250
    assert s1["session_start"].minute == 0 and s1["session_end"].minute == 10
    assert got[(100, 2)]["n_events"] == 1
    assert got[(200, 1)]["sum_cents"] == 999


def test_stateful_running_counts_across_restarts(spark, tmp_path):
    """applyInPandasWithState: state persists across two AvailableNow
    drains via the checkpoint; final totals match the batch twin."""
    from pyspark.sql import functions as F

    from webx.events import user_rollup
    from webx.streaming import running_user_counts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first = ev.filter(F.col("event_id") % 2 == 0)
    rest = ev.filter(F.col("event_id") % 2 == 1)
    first.write.mode("append").parquet(inp)

    q = running_user_counts(spark, inp, out, ckpt)
    q.awaitTermination(180)
    rest.write.mode("append").parquet(inp)
    q2 = running_user_counts(spark, inp, out, ckpt)
    q2.awaitTermination(180)

    emitted = spark.read.parquet(out)
    # latest emission per user = the row with the highest running count
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    latest = (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_cents")
    )
    batch = user_rollup(ev)
    assert latest.exceptAll(batch).count() == 0
    assert batch.exceptAll(latest).count() == 0


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Feed all events, then per-user far-future sentinels: every real
    session closes and is emitted; the emitted set must equal the batch
    sessionize output exactly."""
    import datetime as dt

    from pyspark.sql import functions as F

    from webx.events import sessionize
    from webx.streaming import sessionize_stream

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev.write.mode("append").parquet(inp)

    q = sessionize_stream(spark, inp, out, ckpt)
    q.awaitTermination(180)
    # sentinel drain: one far-future event per user closes open sessions
    sentinel_ts = dt.datetime(2030, 1, 1)
    sentinels = ev.groupBy("user_id").agg(F.max("event_id").alias("m")).select(
        (F.col("m") + 10_000_000).alias("event_id"),
        F.lit(sentinel_ts).cast("timestamp").alias("ts"),
        "user_id",
        F.lit("sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("").alias("props"),
    )
    sentinels.write.mode("append").parquet(inp)
    q2 = sessionize_stream(spark, inp, out, ckpt)
    q2.awaitTermination(180)

    streamed = spark.read.parquet(out).select(
        "user_id", "session_start", "session_end", "n_events", "sum_cents"
    )
    batch = sessionize(ev).select(
        "user_id",
        F.col("session_start").cast("timestamp_ltz").cast("long").alias("session_start"),
        F.col("session_end").cast("timestamp_ltz").cast("long").alias("session_end"),
        "n_events",
        "sum_cents",
    )
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_dedup_stream_across_microbatches(spark, tmp_path):
    """Streaming exact dedup keeps the FIRST occurrence of each content
    fingerprint, including duplicates arriving in a LATER drain — the
    seen-set lives in the state store across restarts."""
    from webx.streaming import dedup_stream, read_pages_stream

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    pages = synth.synth_pages(spark, SF_SMALL).limit(40)

    def drain():
        src = read_pages_stream(spark, inp)
        q = (
            dedup_stream(src)
            .select("url", "fp")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    pages.write.mode("append").parquet(inp)
    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 == 40  # all distinct in the first batch

    # append the SAME pages again (a re-crawled snapshot): the second
    # drain must emit zero new rows — duplicates recognized via state
    pages.write.mode("append").parquet(inp)
    drain()
    final = spark.read.parquet(out)
    assert final.count() == 40
    assert final.select("fp").distinct().count() == 40


def test_host_rate_windows_watermark_and_parity(spark, tmp_path):
    """Watermarked windowed crawl monitor: (1) streaming totals over
    on-time data equal the batch twin on the same input; (2) an event
    arriving far behind the watermark in a later drain is DROPPED."""
    import datetime as dt

    from pyspark.sql import functions as F

    from webx.streaming import host_rate_windows, read_pages_stream

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    def page(i, minutes, host):
        return (f"https://{host}/p/{i}", t0 + dt.timedelta(minutes=minutes), b"<p>%d</p>" % i)

    # two hosts, three 5-minute windows of on-time data
    rows = [page(i, m, h) for i, (m, h) in enumerate(
        [(0, "a.com"), (1, "a.com"), (6, "a.com"), (7, "b.com"), (11, "b.com"), (12, "a.com")]
    )]
    batch1 = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    batch1.write.mode("append").parquet(inp)

    def drain():
        q = (
            host_rate_windows(read_pages_stream(spark, inp), "5 minutes", "10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    # append-mode emits a window only once the watermark passes its end:
    # advance the watermark far ahead FIRST (t+60 event, its own drain)…
    spark.createDataFrame(
        [page(100, 60, "a.com")], "url string, warc_ts timestamp, html binary"
    ).write.mode("append").parquet(inp)
    drain()
    # …then an event 48 minutes behind the watermark: its window has
    # finalized and its state aged out — the event must be DROPPED.
    spark.createDataFrame(
        [page(101, 2, "a.com")], "url string, warc_ts timestamp, html binary"
    ).write.mode("append").parquet(inp)
    drain()
    drain()  # settle

    got = {
        (r["window_start"].minute, r["host"]): r["n_docs"]
        for r in spark.read.parquet(out).collect()
    }
    # on-time counts match the batch twin; the late page 101 is absent
    assert got[(0, "a.com")] == 2   # minutes 0,1 — NOT the late arrival
    assert got[(5, "a.com")] == 1
    assert got[(5, "b.com")] == 1
    assert got[(10, "b.com")] == 1
    assert got[(10, "a.com")] == 1
    # batch parity on the on-time subset
    batch_tw = {
        (r["window_start"].minute, r["host"]): r["n_docs"]
        for r in host_rate_windows(batch1).collect()
    }
    for k, v in batch_tw.items():
        assert got.get(k) == v, k


def test_enrich_stream_matches_batch_join(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    from webx.streaming import enrich_stream, read_events_stream

    inp, out, ck = (str(tmp_path / p) for p in ("in", "out", "ck"))
    t0 = dt.datetime(2026, 1, 1, 9, 0, 0)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), i % 3, "view", 1.0, "{}")
        for i in range(12)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    ev.write.mode("append").parquet(inp)
    dim = spark.createDataFrame(
        [(0, "bronze"), (1, "silver"), (2, "gold")], "user_id long, tier string"
    )
    q = (
        enrich_stream(read_events_stream(spark, inp), dim)
        .select("event_id", "user_id", "tier")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(
        map(tuple, ev.join(dim, "user_id").select("event_id", "user_id", "tier").collect())
    )
    assert got == want


def test_stream_stream_join_pairs_within_window_only(spark, tmp_path):
    import datetime as dt

    from webx.streaming import read_events_stream, stream_stream_join

    lin, rin, out, ck = (str(tmp_path / p) for p in ("l", "r", "out", "ck"))
    t0 = dt.datetime(2026, 1, 1, 9, 0, 0)

    def ev(i, minutes, uid):
        return (i, t0 + dt.timedelta(minutes=minutes), uid, "x", 0.0, "{}")

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    # views at t+0 (u1), t+5 (u2); purchases at t+10 (u1, in-window),
    # t+50 (u2, OUTSIDE the 30-min window), t+12 (u3, no view)
    spark.createDataFrame([ev(1, 0, 1), ev(2, 5, 2)], schema).write.mode(
        "append"
    ).parquet(lin)
    spark.createDataFrame(
        [ev(100, 10, 1), ev(101, 50, 2), ev(102, 12, 3)], schema
    ).write.mode("append").parquet(rin)
    q = (
        stream_stream_join(
            read_events_stream(spark, lin),
            read_events_stream(spark, rin),
            max_delay="30 minutes",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["user_id"], r["l_id"], r["r_id"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, 1, 100)]


def test_upsert_drain_latest_per_key_and_idempotent(spark, tmp_path):
    import datetime as dt

    from webx.streaming import upsert_drain

    inp, state, ck = (str(tmp_path / p) for p in ("in", "state", "ck"))
    t0 = dt.datetime(2026, 1, 1)

    def page(url, day, body):
        return (url, t0 + dt.timedelta(days=day), body)

    schema = "url string, warc_ts timestamp, html binary"
    spark.createDataFrame(
        [page("u/a", 1, b"a1"), page("u/b", 1, b"b1")], schema
    ).write.mode("append").parquet(inp)
    upsert_drain(spark, inp, state, ck)
    s1 = {r["url"]: (r["warc_ts"], bytes(r["html"])) for r in spark.read.parquet(state).collect()}
    assert s1["u/a"][1] == b"a1" and len(s1) == 2

    # second drain: recrawl of u/a (newer), stale duplicate of u/b (older), new u/c
    spark.createDataFrame(
        [page("u/a", 5, b"a2"), page("u/b", 0, b"b0"), page("u/c", 2, b"c1")],
        schema,
    ).write.mode("append").parquet(inp)
    upsert_drain(spark, inp, state, ck)
    s2 = {r["url"]: bytes(r["html"]) for r in spark.read.parquet(state).collect()}
    assert s2 == {"u/a": b"a2", "u/b": b"b1", "u/c": b"c1"}

    # third drain with no new files: state must be unchanged (idempotence)
    upsert_drain(spark, inp, state, ck)
    s3 = {r["url"]: bytes(r["html"]) for r in spark.read.parquet(state).collect()}
    assert s3 == s2


def test_rate_limit_stream_token_bucket_and_state_carryover(spark, tmp_path):
    """rate=1/s burst=2: a 6-candidate burst at t+0..t+1 admits only the
    bucket's budget; a SECOND drain starting where the first left off
    must see the depleted bucket (state carries), admitting only what
    refill allows."""
    import datetime as dt

    from webx.streaming import rate_limit_stream

    inp, out, ck = (str(tmp_path / p) for p in ("in", "out", "ck"))
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def cand(i, sec, host="h.com"):
        return (host, f"https://{host}/{i}", t0 + dt.timedelta(seconds=sec))

    schema = "host string, url string, ts timestamp"
    spark.createDataFrame(
        [cand(i, i * 0.2) for i in range(6)], schema
    ).write.mode("append").parquet(inp)

    def drain():
        q = (
            rate_limit_stream(
                spark.readStream.schema(schema).parquet(inp), 1.0, 2.0
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    rows = {r["url"]: r for r in spark.read.parquet(out).collect()}
    admitted = sorted(u for u, r in rows.items() if r["admitted"] == 1)
    # burst 2 at t=0, refill 0.2/step: admits 0, 1, then one more around t=1
    assert len(admitted) == 3, rows
    assert len(rows) == 6

    # second drain: candidates 2s later — refill grants ~2 tokens, not burst+
    spark.createDataFrame(
        [cand(100 + i, 3.0 + i * 0.1) for i in range(5)], schema
    ).write.mode("append").parquet(inp)
    drain()
    rows2 = {r["url"]: r for r in spark.read.parquet(out).collect()}
    new_admitted = [
        u for u, r in rows2.items() if r["admitted"] == 1 and "/10" in u
    ]
    assert len(new_admitted) == 2, rows2  # depleted bucket + 2s refill = 2


def test_table_extraction_stream_batch_parity(spark, tmp_path):
    """The exact table lane is stateless mapInPandas, so it composes
    with Structured Streaming unchanged: draining a file stream through
    run_table_extraction yields exactly the batch lane's rows."""
    from webx.streaming import read_pages_stream
    from webx.tables import run_table_extraction

    pages = synth.synth_pages_tables(spark, SF_SMALL)
    src = str(tmp_path / "pages")
    out = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")
    pages.write.parquet(src)
    q = (
        run_table_extraction(read_pages_stream(spark, src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out)
    batch = run_table_extraction(spark.read.parquet(src))
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_extract_mixed_stream_parity(spark, tmp_path):
    """The mixed-corpus router on a streaming frame: AvailableNow drain
    of a (url, payload) parquet dir through extract_mixed == the batch
    extract_mixed, exceptAll both ways."""
    from webx.media import png_bytes
    from webx.pdf import write_pdf, write_pdf_encrypted
    from webx.route import extract_mixed

    html = (
        b"<!DOCTYPE html><html><body><article><p>Prose long enough to "
        b"score as a real candidate block for the detector here."
        b"</p></article></body></html>"
    )
    rows = [
        ("u0", bytearray(html)),
        ("u1", bytearray(write_pdf("Doc 1", "Pdf body."))),
        ("u2", bytearray(write_pdf_encrypted("Doc 2", "Enc body.", "aesv2"))),
        ("u3", bytearray(png_bytes(101, 55))),
        ("u4", bytearray(b"plain words only")),
    ]
    src = str(tmp_path / "captures")
    spark.createDataFrame(rows, "url string, payload binary").write.parquet(src)
    batch = extract_mixed(spark.read.parquet(src)).collect()

    stream_in = (
        spark.readStream.schema("url string, payload binary").parquet(src)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        extract_mixed(stream_in)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out_dir)
    b_df = spark.createDataFrame(batch, streamed.schema)
    assert streamed.exceptAll(b_df).count() == 0
    assert b_df.exceptAll(streamed).count() == 0
    kinds = {r["url"]: r["kind"] for r in streamed.collect()}
    assert kinds == {"u0": "html", "u1": "pdf", "u2": "pdf",
                     "u3": "image", "u4": "other"}
