"""Structured Streaming surfaces: the batch operators on file-source streams.

The reference has no streaming (SURVEY.md §2.10); the batch kernels are
pure, so every surface runs the batch operator itself and the kernels'
per-document error containment carries over.  Each surface is one
reader, one transform and one of two sinks:

* ``_read_stream`` — the parquet files landing in an input directory;
* ``_memory_sink`` — an in-memory table, for the stateless gates and the
  stateful operators;
* ``_idempotent_sink`` — the exactly-once parquet sink, for transforms
  whose output lands on disk.

A new surface declares its input schema, its ``maxFilesPerTrigger``
default, its transform (closing over any frozen artifact: a model, a
codebook, a thresholds table) and its sink.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .schema import (
    DOC_TABLE_SCHEMA,
    DOCUMENTS_SCHEMA,
    EVENTS_SCHEMA,
    HTML_PAGES_SCHEMA,
    PDF_BYTES_SCHEMA,
)


def _read_stream(
    spark: SparkSession, input_dir: str, schema, max_files_per_trigger: int
) -> DataFrame:
    """File-source stream of the parquet files landing in ``input_dir``."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def _memory_sink(
    df: DataFrame, query_name: str, output_mode: str = "append"
) -> StreamingQuery:
    """Stream ``df`` into the in-memory table ``query_name``."""
    return (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )


def write_batch(
    transform: Callable[[DataFrame], DataFrame],
    output_dir: str,
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """Write ``transform(batch_df)`` as partition ``batch_id`` of
    ``output_dir``, replacing that partition if it already exists."""
    (
        transform(batch_df)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(output_dir)
    )


def _idempotent_sink(
    stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Exactly-once parquet sink: every micro-batch runs ``transform``
    and lands as its own ``batch_id`` partition of ``output_dir``.

    ``foreachBatch`` is at-least-once: a batch retried after a partial
    write, or replayed from the checkpoint before its commit, runs
    again, so a blind append would duplicate rows.  ``write_batch``
    overwrites only partition ``batch_id=N`` (dynamic partition
    overwrite), and every transform here is deterministic, so a replay
    rewrites the same rows instead of appending a second copy.

    Transforms that aggregate per document (scores, span ``seq``) run
    per micro-batch and still equal the batch operator, because a
    document arrives whole in one file, never split across batches.
    Frozen artifacts (models, thresholds) are static broadcast tables,
    so arriving documents never shift them.
    """
    return (
        stream.writeStream.foreachBatch(
            partial(write_batch, transform, output_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_windowed_counts(
    spark: SparkSession,
    input_dir: str,
    query_name: str = "ev_windowed_counts",
    watermark: str = "10 minutes",
) -> StreamingQuery:
    """``events.windowed_counts`` under an event-time watermark, which
    bounds the window state however long the stream runs; complete mode,
    so the table equals the batch result."""
    from .events import windowed_counts

    # Watermarks require TIMESTAMP (ltz); parquet naive timestamps read
    # as NTZ.  Session timezone is pinned UTC, so the cast is exact.
    stream = (
        _read_stream(spark, input_dir, EVENTS_SCHEMA, 4)
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .withWatermark("ts", watermark)
    )
    return _memory_sink(windowed_counts(stream), query_name, "complete")


SESSION_OUT_SCHEMA = (
    "user_id long, session_id long, n_events long, start_s long, end_s long"
)
SESSION_STATE_SCHEMA = "session_id long, n_events long, start_s double, last_s double"


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    gap_minutes: int = 30,
    query_name: str = "ev_sessions",
) -> StreamingQuery:
    """Gap-based sessionization with ``applyInPandasWithState``; state per
    user is the open session.  The LAST update-mode emission per (user,
    session) equals the batch ``events.sessionize`` row."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_s = gap_minutes * 60.0

    def fold(key, pdfs, state):
        (user_id,) = key
        if state.exists:
            session_id, n_events, start_s, last_s = state.get
        else:
            session_id, n_events, start_s, last_s = 0, 0, None, None
        out = []
        # ``pdfs`` is an ITERATOR of Arrow chunks in shuffle order, not
        # event-time order: a group spanning multiple chunks (more rows
        # than maxRecordsPerBatch, or several input partitions) would be
        # folded out of order if each chunk were sorted independently.
        # Buffer the whole group for this micro-batch, sort ONCE, fold.
        chunks = list(pdfs)
        whole = (
            pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            if chunks
            else pd.DataFrame({"ts": pd.Series([], dtype="datetime64[ns]")})
        )
        for ts in whole["ts"].astype("int64") / 1e9:  # epoch seconds
            if last_s is None or ts - last_s > gap_s:
                if n_events:
                    out.append(
                        (user_id, session_id, n_events, start_s, last_s)
                    )
                session_id += 1
                n_events, start_s = 0, ts
            n_events += 1
            last_s = ts
        out.append((user_id, session_id, n_events, start_s, last_s))
        state.update((session_id, n_events, start_s, last_s))
        yield pd.DataFrame(
            out,
            columns=["user_id", "session_id", "n_events", "start_s", "end_s"],
        ).astype({"start_s": "int64", "end_s": "int64"})

    stream = _read_stream(spark, input_dir, EVENTS_SCHEMA, 2)
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _memory_sink(sessions, query_name, "update")


DEDUP_OUT_SCHEMA = "doc_id string, digest string"
DEDUP_STATE_SCHEMA = "seen long"


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    query_name: str = "doc_dedup",
    max_files_per_trigger: int = 4,
) -> StreamingQuery:
    """Exact dedup at ingest: the first document per content digest
    passes (lowest doc_id within its first batch); state is one seen
    flag per digest, so later copies in any batch are dropped."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def keep_first(key, pdfs, state):
        (digest,) = key
        if not state.exists:
            chunks = [p[["doc_id"]] for p in pdfs]
            if chunks:
                whole = pd.concat(chunks, ignore_index=True)
                survivor = whole["doc_id"].sort_values().iloc[0]
                state.update((1,))
                yield pd.DataFrame(
                    {"doc_id": [survivor], "digest": [digest]}
                )
        else:
            for _ in pdfs:  # drain; all dups of an already-seen digest
                pass

    stream = (
        _read_stream(spark, input_dir, DOCUMENTS_SCHEMA, max_files_per_trigger)
        .withColumn(
            "digest",
            # Digest over RAW span fields with explicit separators —
            # NOT to_json, whose canonicalization is Spark-version-
            # dependent (digests must stay stable across engine
            # upgrades when checkpointed state outlives a deploy).
            # \x1f joins fields, \x1e joins spans, \x00 marks null.
            F.md5(
                F.concat_ws(
                    "\x1e",
                    F.transform(
                        "spans",
                        lambda s: F.concat_ws(
                            "\x1f",
                            F.coalesce(s["kind"], F.lit("\x00")),
                            F.coalesce(s["text"], F.lit("\x00")),
                            F.coalesce(s["media_ref"], F.lit("\x00")),
                            F.coalesce(
                                s["offset"].cast("string"), F.lit("\x00")
                            ),
                        ),
                    ),
                )
            ),
        )
        .select("doc_id", "digest")
    )
    deduped = stream.groupBy("digest").applyInPandasWithState(
        keep_first,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _memory_sink(deduped, query_name)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Span extraction of document drops with the skew-aware
    ``extract_spans_rebalanced``."""
    from .pipeline import extract_spans_rebalanced

    stream = _read_stream(spark, input_dir, DOCUMENTS_SCHEMA, 8)
    transform = partial(extract_spans_rebalanced, spark)
    return _idempotent_sink(stream, transform, output_dir, checkpoint_dir)


def stream_html_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """HTML main-content extraction with the batch block pipeline
    (``textops.html.content_spans``)."""
    from .textops.html import content_spans

    stream = _read_stream(spark, input_dir, HTML_PAGES_SCHEMA, 8)
    return _idempotent_sink(stream, content_spans, output_dir, checkpoint_dir)


def stream_pdf_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    config=None,
    include_media: bool = False,
) -> StreamingQuery:
    """Real-PDF ingestion with the batch byte path
    (``sources.pdf_bytes.extract_spans_from_pdf``); corrupt PDFs land as
    error rows."""
    from .sources.pdf_bytes import extract_spans_from_pdf

    stream = _read_stream(spark, input_dir, PDF_BYTES_SCHEMA, 8)
    transform = partial(
        extract_spans_from_pdf, config=config, include_media=include_media
    )
    return _idempotent_sink(stream, transform, output_dir, checkpoint_dir)


def stream_pii_scrub(
    spark: SparkSession,
    input_dir: str,
    query_name: str = "pii_scrub",
    max_files_per_trigger: int = 4,
) -> StreamingQuery:
    """PII scrubbing at ingest (``analysis.pii_scrub``): detections
    counted and text redacted before documents land downstream."""
    from .textops.analysis import pii_scrub

    stream = _read_stream(
        spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger
    )
    return _memory_sink(pii_scrub(stream), query_name)


def stream_blocklist_gate(
    spark: SparkSession,
    input_dir: str,
    words: list,
    max_frac: float = 0.02,
    query_name: str = "blocklist_gate",
    max_files_per_trigger: int = 4,
) -> StreamingQuery:
    """C4-family blocklist gate at ingest (``analysis.blocklist_filter``);
    the word list compiles into the plan as one literal regex."""
    from .textops.analysis import blocklist_filter

    stream = _read_stream(
        spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger
    )
    return _memory_sink(
        blocklist_filter(stream, words, max_frac=max_frac), query_name
    )


def stream_mixture_sample(
    spark: SparkSession,
    input_dir: str,
    rates,
    default_pct: int = 0,
    query_name: str = "mixture_sample",
    max_files_per_trigger: int = 4,
) -> StreamingQuery:
    """Mixture sampling at ingest (``analysis.mixture_sample``) against a
    frozen per-source rates table; md5 buckets are fixed, so replayed
    files decide identically."""
    from .textops.analysis import mixture_sample

    stream = _read_stream(
        spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger
    )
    return _memory_sink(
        mixture_sample(stream, rates, default_pct=default_pct), query_name
    )


def stream_quality_gate(
    spark: SparkSession,
    input_dir: str,
    lm: DataFrame,
    thresholds: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
) -> StreamingQuery:
    """CCNet-style quality gate at ingest: bits-per-token under a frozen
    unigram LM (``analysis.unigram_lm``), labelled head/middle/tail
    against frozen per-language thresholds (``perplexity_thresholds``)."""
    from .textops.analysis import bucket_by_thresholds, lm_perplexity

    stream = _read_stream(
        spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger
    )

    def gate(batch_df: DataFrame) -> DataFrame:
        scores = lm_perplexity(batch_df.select("doc_id", "text"), lm=lm).join(
            batch_df.select("doc_id", "lang"), "doc_id"
        )
        return bucket_by_thresholds(scores, thresholds)

    return _idempotent_sink(stream, gate, output_dir, checkpoint_dir)


def stream_gopher_gate(
    spark: SparkSession,
    input_dir: str,
    query_name: str = "gopher_gate",
    max_files_per_trigger: int = 4,
    **rule_bounds,
) -> StreamingQuery:
    """Gopher-rule quality gate at ingest (``analysis.gopher_rules``);
    ``rule_bounds`` forwards min_words/max_words/etc."""
    from .textops.analysis import gopher_rules

    stream = _read_stream(
        spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger
    )
    return _memory_sink(gopher_rules(stream, **rule_bounds), query_name)


def stream_dsir_gate(
    spark: SparkSession,
    input_dir: str,
    model: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    n_buckets: int = None,
) -> StreamingQuery:
    """DSIR importance scoring at ingest against a frozen (f, lr) model
    (``analysis.dsir_model``) covering the whole hashed feature space, so
    tokens the training corpus never saw still score."""
    from .textops.analysis import DSIR_BUCKETS, dsir_score

    nb = n_buckets or DSIR_BUCKETS
    stream = _read_stream(
        spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger
    )

    def score(batch_df: DataFrame) -> DataFrame:
        return dsir_score(batch_df.select("doc_id", "text"), model, nb)

    return _idempotent_sink(stream, score, output_dir, checkpoint_dir)


def stream_pq_encode(
    spark: SparkSession,
    input_dir: str,
    codebook: DataFrame,
    query_name: str = "pq_encode",
    max_files_per_trigger: int = 4,
) -> StreamingQuery:
    """PQ encoding at ingest (``similarity.pq_assign``): each embedding
    compressed to its subspace codes against a frozen codebook."""
    from .textops.similarity import pq_assign

    stream = _read_stream(
        spark,
        input_dir,
        "vec_id long, embedding array<float>, label int",
        max_files_per_trigger,
    )
    return _memory_sink(pq_assign(stream, codebook), query_name)


def stream_bm25_gate(
    spark: SparkSession,
    input_dir: str,
    model: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
) -> StreamingQuery:
    """BM25 scoring at ingest against a frozen retrieval model
    (``analysis.bm25_model``): df/idf/avgdl never shift with arriving
    documents."""
    from .textops.analysis import bm25_score

    stream = _read_stream(
        spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger
    )

    def score(batch_df: DataFrame) -> DataFrame:
        return bm25_score(batch_df.select("doc_id", "text"), model)

    return _idempotent_sink(stream, score, output_dir, checkpoint_dir)
