"""StructTypes for every stage boundary (fixed, declared up front —
the ``output_columns`` analog, reference mindocr/data/builder.py:36)."""

from __future__ import annotations

from pyspark.sql import types as T

# Input page table (BASELINE.json input_hint, exactly)
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

SPAN_TYPE = T.StructType(
    [
        T.StructField("start", T.LongType()),   # byte offset into html
        T.StructField("end", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("kind", T.StringType()),  # content | heading
        T.StructField("text", T.StringType()),  # decoded span text (stage 2)
    ]
)

META_TYPE = T.StructType(
    [
        T.StructField("html_bytes", T.LongType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("truncated", T.BooleanType()),
        T.StructField("charset", T.StringType()),
    ]
)


def extracted_schema(passthrough_fields=()) -> T.StructType:
    """Output schema of the fused extractor; passthrough fields keep their
    input types (supplied as StructFields)."""
    fields = [
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),        # joined extracted text
        T.StructField("spans", T.ArrayType(SPAN_TYPE)),
        T.StructField("conf", T.DoubleType()),        # tlen-weighted mean span score
        T.StructField("status", T.StringType()),      # ok | charset_fallback | empty
        T.StructField("meta", META_TYPE),
    ]
    return T.StructType(fields + list(passthrough_fields))


# Stage-1-only output (debug parity with save_det_res,
# tools/infer/text/predict_det.py:190-201)
DET_SPAN_TYPE = T.StructType(
    [
        T.StructField("start", T.LongType()),
        T.StructField("end", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("kind", T.StringType()),
    ]
)

DETECT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("spans", T.ArrayType(DET_SPAN_TYPE)),
        T.StructField("meta", META_TYPE),
    ]
)

# interleaved documents: one row per text span or <img>, in DOM order
INTERLEAVE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("src", T.StringType()),
        T.StructField("alt", T.StringType()),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("input_snapshot_id", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("ok_count", T.LongType()),
        T.StructField("err_count", T.LongType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("spans_out", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
