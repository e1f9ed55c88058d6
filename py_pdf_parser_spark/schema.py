"""Spark schemas for the pipeline tables (FIXTURES.md §1)."""

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# Input (BASELINE.json input_hint shape).
SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_STRUCT)),
    ]
)

# Documents table (TESTDATA.md): the text-analysis operators' input.
DOC_TABLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

# Crawled HTML pages.
HTML_PAGES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("html", StringType()),
    ]
)

# Raw PDF files.
PDF_BYTES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("pdf_bytes", BinaryType()),
    ]
)

# Embedding vectors (the driver's embeddings table shape).
EMBEDDINGS_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

# Ingest-telemetry event stream (the driver's events table shape).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# Working: exploded elements (FIXTURES.md §1.2 / SURVEY.md §1.2).
ELEMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("idx", LongType()),
        StructField("page_number", LongType()),
        StructField("page_width", DoubleType()),
        StructField("page_height", DoubleType()),
        StructField("x0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("text", StringType()),
        StructField("text_raw", StringType()),
        StructField("font_name", StringType()),
        StructField("font_size", DoubleType()),
        StructField("font", StringType()),
        StructField("kind", StringType()),
        StructField("media_ref", StringType()),
        StructField("tags", ArrayType(StringType())),
        StructField("ignored", BooleanType()),
    ]
)

# Output spans (span-sequence equality key: kind, text, media_ref, order).
OUT_SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("order", IntegerType()),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(OUT_SPAN_STRUCT)),
        StructField("n_spans", LongType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
    ]
)

# Extracted + routing bucket (written partitioned by bucket for resume).
EXTRACTED_BUCKETED_SCHEMA = StructType(
    EXTRACTED_SCHEMA.fields + [StructField("bucket", IntegerType())]
)

# Checkpoint lineage (BASELINE.md resumability row).
LINEAGE_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("doc_count", LongType()),
        StructField("element_count", LongType()),
        StructField("error_count", LongType()),
        StructField("status", StringType()),
        StructField("attempt", IntegerType()),
        StructField("wall_ms", LongType()),
    ]
)

# Per-document PDF parse audit (sources.pdf_bytes.pdf_parse_status).
PDF_STATUS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("n_elements", LongType()),
    ]
)
