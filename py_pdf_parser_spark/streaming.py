"""Structured Streaming: the batch operators on file-source streams.

The reference has no streaming (SURVEY.md §2.10); the batch kernels are
pure, so a stream runs the batch operator itself and the kernels'
per-document error containment carries over.  ``stream`` is the one
entry point: a reader, a transform and one of two sinks.

* The reader is the parquet files landing in an input directory, at
  most ``max_files_per_trigger`` of them per micro-batch.
* The transform is a batch operator, closing over any frozen artifact
  (a model, a codebook, a thresholds table), e.g.
  ``partial(blocklist_filter, words=words, max_frac=0.02)``.
* The sink is an in-memory table named ``query_name`` (append, complete
  or update mode), or the exactly-once parquet sink: ``output_dir`` and
  ``checkpoint_dir``, one ``batch_id`` partition per micro-batch.

``stream_sessionize`` and ``stream_dedup`` carry per-key state across
micro-batches (``applyInPandasWithState``), which no batch operator
has; each is a call to ``stream`` with its stateful transform.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupStateTimeout

from .events import SESSION_GAP_MINUTES
from .schema import DOCUMENTS_SCHEMA, EVENTS_SCHEMA

MAX_FILES_PER_TRIGGER = 4


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


def stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    transform: Callable[[DataFrame], DataFrame],
    query_name: str = None,
    output_mode: str = "append",
    output_dir: str = None,
    checkpoint_dir: str = None,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
) -> StreamingQuery:
    """Run ``transform`` over the ``schema`` parquet files landing in
    ``input_dir`` into one sink: the in-memory table ``query_name``, or
    the exactly-once parquet sink (``output_dir`` + ``checkpoint_dir``).
    Naming both sinks, neither, or half of the parquet one raises
    ``ValueError``.

    Parquet sink: ``foreachBatch`` is at-least-once, so a batch retried
    after a partial write, or replayed from the checkpoint before its
    commit, runs again and a blind append would duplicate rows.
    ``write_batch`` overwrites only partition ``batch_id=N`` (dynamic
    partition overwrite), and every transform here is deterministic, so
    a replay rewrites the same rows instead of appending a second copy.

    Transforms that aggregate per document (scores, span ``seq``) run
    per micro-batch and still equal the batch operator, because a
    document arrives whole in one file, never split across batches.
    Frozen artifacts (models, thresholds) are static broadcast tables,
    so arriving documents never shift them.
    """
    to_files = output_dir is not None or checkpoint_dir is not None
    if (query_name is not None) == to_files or (
        to_files and None in (output_dir, checkpoint_dir)
    ):
        raise ValueError(
            "stream needs exactly one sink: a query_name, or an "
            "output_dir and a checkpoint_dir"
        )
    source = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    if query_name is not None:
        writer = (
            transform(source).writeStream.format("memory").queryName(query_name)
        )
    else:
        writer = source.writeStream.foreachBatch(
            partial(write_batch, transform, output_dir)
        ).option("checkpointLocation", checkpoint_dir)
    return writer.outputMode(output_mode).start()


SESSION_OUT_SCHEMA = (
    "user_id long, session_id long, n_events long, start_s long, end_s long"
)
SESSION_STATE_SCHEMA = "session_id long, n_events long, start_s double, last_s double"


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    query_name: str,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
) -> StreamingQuery:
    """Gap-based sessionization with ``applyInPandasWithState``; state per
    user is the open session.  The LAST update-mode emission per (user,
    session) equals the batch ``events.sessionize`` row."""
    import pandas as pd

    gap_s = SESSION_GAP_MINUTES * 60.0

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

    def sessions(events: DataFrame) -> DataFrame:
        return events.groupBy("user_id").applyInPandasWithState(
            fold,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return stream(
        spark, input_dir, EVENTS_SCHEMA, sessions, query_name, "update",
        max_files_per_trigger=max_files_per_trigger,
    )


DEDUP_OUT_SCHEMA = "doc_id string, digest string"
DEDUP_STATE_SCHEMA = "seen long"


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    query_name: str,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
) -> StreamingQuery:
    """Exact dedup at ingest: the first document per content digest
    passes (lowest doc_id within its first batch); state is one seen
    flag per digest, so later copies in any batch are dropped."""
    import pandas as pd

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

    def first_per_digest(docs: DataFrame) -> DataFrame:
        # Digest over RAW span fields with explicit separators — NOT
        # to_json, whose canonicalization is Spark-version-dependent
        # (digests must stay stable across engine upgrades when
        # checkpointed state outlives a deploy).  \x1f joins fields,
        # \x1e joins spans, \x00 marks null.
        digest = F.md5(
            F.concat_ws(
                "\x1e",
                F.transform(
                    "spans",
                    lambda s: F.concat_ws(
                        "\x1f",
                        F.coalesce(s["kind"], F.lit("\x00")),
                        F.coalesce(s["text"], F.lit("\x00")),
                        F.coalesce(s["media_ref"], F.lit("\x00")),
                        F.coalesce(s["offset"].cast("string"), F.lit("\x00")),
                    ),
                ),
            )
        )
        return (
            docs.select("doc_id", digest.alias("digest"))
            .groupBy("digest")
            .applyInPandasWithState(
                keep_first,
                outputStructType=DEDUP_OUT_SCHEMA,
                stateStructType=DEDUP_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    return stream(
        spark, input_dir, DOCUMENTS_SCHEMA, first_per_digest, query_name,
        max_files_per_trigger=max_files_per_trigger,
    )
