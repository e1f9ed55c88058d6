"""The distributed extraction pipeline.

Design (SURVEY.md §3.1, §4):

* **Shuffle-free core.** Each input row is one complete document, so
  parse + extract is embarrassingly parallel ``mapInArrow`` — no groupBy,
  no join, no shuffle in the hot path.  At 100 TB the only data movement
  is the parquet scan and the partitioned write.
* **One driver.** Every Doc-building entry point (the spans path here,
  the PDF-bytes path, ``queries._per_doc``) is one ``mapInArrow`` in
  ``_map_docs``, whose per-batch body is the plain function perfbench's
  Spark-free kernel probe times.
* **Vectorized kernels.** Arrow batches in, Arrow batches out (schemas
  from ``schema.py``).  A batch's layout, element order and stripped text
  are computed once over its flat span columns (``kernel.parse_batch``)
  and each ``Doc`` is slices of them; default-recipe output is gathered
  batch-wide with one Arrow ``take`` per column; the layout operators
  inside the other recipes are a fixed handful of numpy calls each.
* **Cheap tasks.** Unpickling a kernel imports this package, which stops
  Spark's per-task re-read of its own archives (``_worker.py``): a reused
  Python worker pays that only on its first task.
* **Per-document error containment.** Any exception raised while
  building or extracting one document (the reference's exceptions,
  exceptions.py:1-52, or anything else) becomes ``status='error'`` and
  ``error='<Class>: msg'``; a poisoned document never kills a stage.
* **Skew handling.** AQE covers shuffle skew, but pathological documents
  (bigdoc/bigmedia families) skew *kernel compute*, which AQE cannot see:
  heavy docs (cost above a threshold) are split off and round-robin
  repartitioned over ``defaultParallelism`` tasks (no task gets two of
  them while there are at most that many); light docs flow straight
  from file splits (no shuffle: a full-corpus repartition measured ~3x
  slower).  ``_rebalanced`` runs one kernel per branch.
* **Checkpoint/resume.** Docs are routed to ``bucket =
  pmod(xxhash64(doc_id), num_buckets)``; the job runs in a fixed plan of
  waves (wave ``w`` is buckets ``range(w, num_buckets, num_waves)``),
  each committed via dynamic partition overwrite (retries idempotent)
  plus a lineage row per bucket.  A run reads the lineage once and
  filters completed buckets out of their waves — completed splits are
  never reprocessed, and a failed wave is replayed whole (BASELINE.md).
  Lineage is bookkeeping, not a Catalyst concern: it is read and
  appended on the driver (``pyarrow``), and the input schema comes from
  a parquet footer, so a resume runs only its wave's Spark jobs.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Callable, Iterator, List, Optional, Tuple
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType

from .kernel.parse import doc_from_arrays, parse_batch
from .kernel.recipes import LiveRows, default_columns, recipe_for
from .schema import (
    ELEMENTS_SCHEMA,
    EXTRACTED_BUCKETED_SCHEMA,
    EXTRACTED_SCHEMA,
    LINEAGE_SCHEMA,
)

_ELEMENTS_ARROW = to_arrow_schema(ELEMENTS_SCHEMA)
_EXTRACTED_ARROW = to_arrow_schema(EXTRACTED_SCHEMA)
_LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)


def _map_docs(
    df: DataFrame,
    cols: List[str],
    body: Callable[[pa.RecordBatch], pa.RecordBatch],
    schema: StructType,
) -> DataFrame:
    """The one Doc-building Spark driver: ``body(batch)`` for each Arrow
    batch of ``df``'s ``cols``, emitted as rows of ``schema``."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield body(batch)

    return df.select(*cols).mapInArrow(gen, schema)


def _error_text(err: Exception) -> str:
    return f"{type(err).__name__}: {err}"


def _rows_batch(rows: List[tuple], schema: StructType) -> pa.RecordBatch:
    """Row tuples -> one RecordBatch of ``schema``'s Arrow form."""
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return pa.RecordBatch.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, arrow)],
        names=arrow.names,
    )


# ---------------------------------------------------------------------------
# Arrow batch plumbing.  The hot path is mapInArrow: span structs are
# flattened to columnar arrays ONCE per batch (C-level); the batch's
# layout, element order and stripped text are computed once over those
# flat columns (``parse_batch``), and each Doc is slices of them; output
# span sequences are reassembled into a ListArray(StructArray) from flat
# arrays, default-recipe documents by one Arrow ``take`` per column.
# ---------------------------------------------------------------------------


def _flatten_span_batch(batch: pa.RecordBatch):
    """-> (doc_ids, list_offsets, kind/text/ref/off flat arrays, the flat
    span StructArray), list offsets starting at 0."""
    doc_ids = batch.column(0).to_pylist()
    spans = batch.column(1)
    offs = spans.offsets.to_numpy()
    vals = spans.values
    if len(offs) and (offs[0] or offs[-1] != len(vals)):
        # A sliced batch: copy its spans out, since pyarrow's if_else
        # mishandles sliced string inputs (recipes.default_columns).
        vals = pa.concat_arrays([vals.slice(offs[0], offs[-1] - offs[0])])
        offs = offs - offs[0]
    kinds = vals.field("kind").to_numpy(zero_copy_only=False)
    texts = vals.field("text").to_numpy(zero_copy_only=False)
    refs = vals.field("media_ref").to_numpy(zero_copy_only=False)
    offsets = vals.field("offset").to_numpy(zero_copy_only=False)
    return doc_ids, offs, kinds, texts, refs, offsets, vals


def _null_span_docs(vals: pa.StructArray, offs: np.ndarray) -> dict:
    """Document position -> error, for the documents holding a span with
    a null kind, or a ``text`` span whose text is null (media spans carry
    a null text by design): Arrow masks over the batch's spans, so a clean
    batch costs nothing per document."""
    kind = vals.field("kind")
    bad = {}
    for mask, message in (
        (pc.is_null(kind), "null span kind"),
        (pc.and_(pc.equal(kind, "text"), pc.is_null(vals.field("text"))),
         "null text in text span"),
    ):
        hits = pc.indices_nonzero(mask).to_numpy()
        for pos in np.unique(np.searchsorted(offs, hits, side="right") - 1).tolist():
            bad.setdefault(pos, ValueError(message))
    return bad


def _iter_docs(batch: pa.RecordBatch, config: dict = None):
    """Yield (doc_id, Doc-or-exception) per document in the batch.

    A null span kind, a null span text in a ``text`` span and a null
    offset are errors of their document (``parse_batch``)."""
    doc_ids, offs, kinds, texts, refs, offsets, vals = _flatten_span_batch(batch)
    parsed = parse_batch(
        doc_ids, offs, kinds, texts, refs, offsets, config=config,
        errors=_null_span_docs(vals, offs),
        arrow={"kind": vals.field("kind"), "media_ref": vals.field("media_ref")},
    )
    for pos, doc_id in enumerate(doc_ids):
        try:
            doc = doc_from_arrays(doc_id, parsed, pos)
        except Exception as err:  # any bad document, see module docstring
            doc = err
        yield doc_id, doc


# ---------------------------------------------------------------------------
# parse: documents(doc_id, spans) -> exploded elements
# ---------------------------------------------------------------------------


def pack_elements_batch(docs) -> pa.RecordBatch:
    """Pack (doc_id, Doc-or-exception) pairs into one ELEMENTS_SCHEMA
    RecordBatch; a document that failed to build has no elements (its
    error surfaces via ``extract_spans`` / ``pdf_parse_status``).

    Shared by the spans parse path (parse_elements) and the byte-stream
    loader (sources.pdf_bytes): any producer of kernel Docs gets the
    same Arrow element rows."""
    cols = {name: [] for name in _ELEMENTS_ARROW.names[:-2]}  # not tags, ignored
    for doc_id, doc in docs:
        if isinstance(doc, Exception):
            continue
        n = doc.n
        pw, ph = doc._page_width, doc._page_height
        cols["doc_id"].append(np.full(n, doc_id, dtype=object))
        cols["idx"].append(np.arange(n, dtype=np.int64))
        cols["page_number"].append(doc.page)
        cols["page_width"].append(
            np.full(n, pw) if not isinstance(pw, dict)
            else np.asarray([pw[int(p)] for p in doc.page])
        )
        cols["page_height"].append(
            np.full(n, ph) if not isinstance(ph, dict)
            else np.asarray([ph[int(p)] for p in doc.page])
        )
        cols["x0"].append(doc.x0)
        cols["x1"].append(doc.x1)
        cols["y0"].append(doc.y0)
        cols["y1"].append(doc.y1)
        cols["text"].append(doc.text_stripped)
        cols["text_raw"].append(doc.text_raw)
        cols["font_name"].append(doc.font_name)
        cols["font_size"].append(doc.font_size)
        cols["font"].append(doc.font)
        cols["kind"].append(doc.kind)
        cols["media_ref"].append(doc.media_ref)
    arrays = [
        pa.array(
            np.concatenate(cols[f.name]) if cols[f.name]
            else np.empty(0, dtype=object),
            type=f.type, from_pandas=True,
        )
        for f in _ELEMENTS_ARROW if f.name in cols
    ]
    n_rows = len(arrays[0])
    empty_tags = pa.ListArray.from_arrays(
        pa.array(np.zeros(n_rows + 1, dtype=np.int32)),
        pa.array([], type=pa.string()),
    )
    arrays.append(empty_tags)
    arrays.append(pa.array(np.zeros(n_rows, dtype=bool)))
    return pa.RecordBatch.from_arrays(arrays, names=_ELEMENTS_ARROW.names)


def parse_elements_arrow_batch(
    batch: pa.RecordBatch, config: dict = None
) -> pa.RecordBatch:
    return pack_elements_batch(_iter_docs(batch, config))


def parse_elements(docs_df: DataFrame, config: dict = None) -> DataFrame:
    """documents -> elements DataFrame (the §1.2 working table).

    ``config`` overrides per-document parse settings (components.py:386-397):
    ``element_ordering`` (preset name or callable — the reference's custom
    ordering UDF hook, components.py:409-413), ``font_mapping`` /
    ``font_mapping_is_regex`` / ``regex_flags`` / ``font_size_precision``.
    """
    return _map_docs(
        docs_df, ["doc_id", "spans"],
        lambda batch: parse_elements_arrow_batch(batch, config),
        ELEMENTS_SCHEMA,
    )


# ---------------------------------------------------------------------------
# extract: documents -> output spans (the full per-doc recipe)
# ---------------------------------------------------------------------------


def extract_arrow_batch(
    batch: pa.RecordBatch, passthrough: List[str]
) -> pa.RecordBatch:
    return pack_extracted_batch(
        _iter_docs(batch), batch.num_rows, batch, passthrough
    )


def pack_extracted_batch(
    pairs,
    num_rows: int,
    batch: Optional[pa.RecordBatch] = None,
    passthrough: Optional[List[str]] = None,
) -> pa.RecordBatch:
    """(doc_id, Doc-or-exception) pairs -> EXTRACTED_SCHEMA RecordBatch.

    Shared by the spans path (extract_arrow_batch) and the byte-stream
    path (sources.pdf_bytes.extract_spans_from_pdf): one recipe run per
    document, per-doc error isolation, output order = position in the
    recipe's emitted sequence.  A default-recipe document's output
    (``LiveRows``) is row positions into its batch's ``default_columns``;
    the rows other recipes emit go after those columns, and one ``take``
    per column assembles the batch's output spans in document order."""
    passthrough = passthrough or []
    doc_ids: List[str] = []
    statuses: List[str] = []
    errors: List[Optional[str]] = []
    counts = np.zeros(num_rows, dtype=np.int64)
    # per output document: (source ElementBatch, rows) or (None, (lo, hi))
    # into the emitted rows below.
    parts: list = []
    out_kind: List[str] = []
    out_text: List[Optional[str]] = []
    out_ref: List[Optional[str]] = []

    for row, (doc_id, doc) in enumerate(pairs):
        doc_ids.append(doc_id)
        if isinstance(doc, Exception):  # the document failed to build
            statuses.append("error")
            errors.append(_error_text(doc))
            continue
        try:
            out = recipe_for(doc_id)(doc)
            if isinstance(out, LiveRows):
                parts.append((out.batch, out.rows))
            elif out:
                ks, ts, ms = zip(*out)
                parts.append((None, (len(out_kind), len(out_kind) + len(ks))))
                out_kind.extend(ks)
                out_text.extend(ts)
                out_ref.extend(ms)
            counts[row] = len(out)
            statuses.append("ok")
            errors.append(None)
        except Exception as err:
            statuses.append("error")
            errors.append(_error_text(err))

    (kinds, texts, refs), index = _gather_plan(parts)
    kinds.append(pa.array(out_kind, type=pa.string()))
    texts.append(pa.array(out_text, type=pa.string()))
    refs.append(pa.array(out_ref, type=pa.string()))
    list_offs = np.zeros(num_rows + 1, dtype=np.int32)
    np.cumsum(counts, out=list_offs[1:])
    total = int(list_offs[-1])
    # order = position within each document's output sequence.
    order = np.arange(total, dtype=np.int32) - np.repeat(
        list_offs[:-1].astype(np.int64), counts
    ).astype(np.int32)
    struct = pa.StructArray.from_arrays(
        [pa.concat_arrays(cols).take(index) for cols in (kinds, texts, refs)]
        + [pa.array(order)],
        fields=list(_EXTRACTED_ARROW.field("spans").type.value_type),
    )
    spans_arr = pa.ListArray.from_arrays(pa.array(list_offs), struct)
    arrays = [
        pa.array(doc_ids, type=pa.string()),
        spans_arr,
        pa.array(counts),
        pa.array(statuses, type=pa.string()),
        pa.array(errors, type=pa.string()),
    ]
    names = list(_EXTRACTED_ARROW.names)
    for col in passthrough:
        arrays.append(batch.column(batch.schema.get_field_index(col)))
        names.append(col)
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _gather_plan(parts: list):
    """-> the kind, text and media_ref source columns (every batch the
    ``parts`` gather from, then the rows emitted by other recipes) and
    the gather index over them, in output order."""
    bases: dict = {}
    sources: list = []
    size = 0
    for source, _ in parts:
        if source is not None and id(source) not in bases:
            bases[id(source)] = size
            sources.append(source)
            size += source.size
    pieces = []
    for source, rows in parts:
        if source is None:
            pieces.append(np.arange(size + rows[0], size + rows[1]))
        else:
            base = bases[id(source)]
            pieces.append(rows + base if base else rows)
    index = np.concatenate(pieces) if pieces else np.empty(0, dtype=np.int64)
    columns = [[col] for col in default_columns(sources)] if sources else [[], [], []]
    return columns, index


def extract_spans(
    spark: SparkSession, docs_df: DataFrame, with_bucket: bool = False
) -> DataFrame:
    """documents -> extracted(doc_id, spans, n_spans, status, error)."""
    passthrough = ["bucket"] if with_bucket else []
    return _map_docs(
        docs_df, ["doc_id", "spans"] + passthrough,
        lambda batch: extract_arrow_batch(batch, passthrough),
        EXTRACTED_BUCKETED_SCHEMA if with_bucket else EXTRACTED_SCHEMA,
    )


def materialize_elements(
    spark: SparkSession, docs_path: str, out_path: str,
    bucket_by_doc: int = 0,
) -> str:
    """Parse once, query many: write the exploded elements table.

    Catalyst cannot prune columns or push filters through the mapInArrow
    parse kernel, so every ElementFrame query over raw documents re-runs
    the parse (twice for anchor joins).  The deployment-shape fix is a
    materialized elements table: filters and projections then push all
    the way into the parquet scan, and min/max row-group stats prune
    pages/fonts for free.  Optionally bucketed by doc_id so per-doc
    set-algebra joins co-locate without a shuffle.
    """
    elements = parse_elements(_scan_parquet(spark, docs_path))
    if bucket_by_doc:
        (
            elements.write.mode("overwrite")
            .bucketBy(bucket_by_doc, "doc_id")
            .sortBy("doc_id", "idx")
            .option("path", out_path)
            .saveAsTable("elements_bucketed")
        )
    else:
        elements.write.mode("overwrite").parquet(out_path)
    return out_path


# ---------------------------------------------------------------------------
# skew: cost-aware rebalancing (AQE can't see kernel compute skew)
# ---------------------------------------------------------------------------


_TASKS_PER_CORE = 4


# Hadoop scheme aliases of the schemes ``pyarrow.fs`` resolves.
_FS_SCHEMES = {"s3a": "s3", "s3n": "s3"}


def _fs_path(path: str) -> Tuple[pafs.FileSystem, str]:
    """``path`` as a ``pyarrow.fs`` filesystem and the path within it.

    A path without a scheme is local (made absolute).  A URI must use a
    scheme ``pyarrow.fs`` resolves: ``file``, ``s3`` (also ``s3a``,
    ``s3n``; credentials come from the AWS default chain, not Hadoop's
    ``fs.s3a.*`` settings), ``gs``/``gcs``, ``hdfs`` or ``viewfs``.  Any
    other scheme raises rather than resolving to a local path.
    """
    scheme = urlparse(path).scheme
    if not scheme:
        return pafs.FileSystem.from_uri(os.path.abspath(path))
    if scheme in _FS_SCHEMES:
        path = _FS_SCHEMES[scheme] + path[len(scheme):]
    try:
        return pafs.FileSystem.from_uri(path)
    except pa.ArrowInvalid as e:
        raise ValueError(
            f"{path}: unsupported filesystem scheme {scheme!r} ({e})"
        ) from e


def _hidden(part: str) -> bool:
    """Whether Spark's file index skips a path part of this name."""
    return (
        part.startswith(".") or (part.startswith("_") and "=" not in part)
        or part.endswith("._COPYING_")
    )


def _parquet_files(path: str) -> Tuple[pafs.FileSystem, List[pafs.FileInfo]]:
    """The files a Spark scan of ``path`` reads: ``path`` itself, or every
    file below it (whatever its extension) with no path part that Spark's
    file index hides (``_hidden``)."""
    fs, root = _fs_path(path)
    info = fs.get_file_info(root)
    if info.type == pafs.FileType.File:
        return fs, [info]
    listing = pafs.FileSelector(root, allow_not_found=True, recursive=True)
    return fs, [
        f for f in fs.get_file_info(listing)
        if f.type == pafs.FileType.File
        and not any(map(_hidden, f.path[len(root):].split("/")))
    ]


def _scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with tuned scan splits and no
    schema-inference job: the schema is read from a footer on the
    driver, and hive partition columns are left to Spark's inference
    from the directory names."""
    fs, files = tune_scan_splits(spark, path)
    if not files:
        raise FileNotFoundError(f"no input files under {path}")
    schema = pq.read_schema(files[0].path, filesystem=fs)
    return spark.read.schema(from_arrow_schema(schema)).parquet(path)


def tune_scan_splits(
    spark: SparkSession, input_path: str
) -> Tuple[pafs.FileSystem, List[pafs.FileInfo]]:
    """Size parquet scan splits so the job gets ~_TASKS_PER_CORE tasks
    per core, or one wave of tasks when the input is too small for that.

    Parallelism comes from scan splits, not a shuffle (see the module
    docstring).  The split is input bytes / (cores * _TASKS_PER_CORE),
    clamped to [1 MiB, 128 MiB], and the per-file open cost is
    min(split, 4 MiB).  At 100 TB the 128 MiB cap binds (~1M tasks).

    Below cores * _TASKS_PER_CORE MiB the 1 MiB floor binds, and with the
    open cost equal to the split every file would get its own task.  A
    Python task has a fixed cost that does not depend on its rows, almost
    all of it the worker waiting on the JVM (for its task, its first
    input batch, and after its result): 1-row ``mapInArrow`` tasks on 4
    CPUs spend ~2 ms of Python CPU each, and each extra wave of 4 tasks
    adds ~30-100 ms to a job.  So a small input is packed into one split
    per core: the split is raised to each core's even share of the
    weighted input (bytes plus one open cost per file), less half an open
    cost.  Spark packs files largest first and admits one while
    its split's weight is under the split size, so without that margin the
    first splits take a file more than their share and fewer than ``cores``
    splits come out; with it, near-equal files pack ``files / cores`` to a
    split.  The split never drops below 1 MiB, so fewer files than cores
    keep one split each.  On 4 CPUs spans_mixed's 8 files of ~42 KB plan 4
    tasks instead of 8 (one wave instead of two): a pass took 454 ms
    instead of 535 (medians of 16 interleaved passes in one session), and
    paired ``perfbench`` runs (``--seconds 10``) read a median 10,095
    docs/s instead of 9,062 on seeds 1-10 (ahead on 9) and 9,337 instead
    of 7,992 on seeds 11-20 (ahead on 8).

    Only ``maxPartitionBytes`` (at most 128 MiB, Spark's default) and
    ``openCostInBytes`` are set, and no partition-count cap: a later scan
    that skips this function gets splits no larger than Spark's own.

    Input bytes come from the ``pyarrow.fs`` listing of ``_parquet_files``
    (returned), so a plain path and a URI (any scheme ``_fs_path``
    resolves) size alike.
    """
    fs, files = _parquet_files(input_path)
    total = sum(f.size for f in files)
    cores = spark.sparkContext.defaultParallelism
    share = total // (cores * _TASKS_PER_CORE)
    split = max(1 << 20, min(128 << 20, share))
    open_cost = min(split, 4 << 20)
    if share < 1 << 20:
        weighted = total + len(files) * open_cost
        split = min(128 << 20, max(split, -(-weighted // cores) - open_cost // 2))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(open_cost))
    return fs, files


def _rebalanced(
    spark: SparkSession,
    df: DataFrame,
    cost: Column,
    threshold: int,
    extract: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Skew-aware ``extract``: docs with ``cost > threshold`` are
    round-robin repartitioned over ``defaultParallelism`` partitions,
    the rest keep their scan splits, and each branch runs its own
    kernel, unioned AFTER extraction.  No task gets two heavy docs only
    while there are at most ``defaultParallelism`` of them, and only when
    they come from one scan split: round-robin starts each input split at
    its own offset.  The heavy branch costs a shuffle, a re-plan and
    ``defaultParallelism`` Python tasks even when it holds no doc.

    One kernel over a pre-kernel union would put the heavy exchange
    under it, and the two corpus scans would serialize (measured 4x
    slower than plain on a mildly-skewed corpus); separate branches let
    the light scan+kernel run concurrently with the heavy scan+shuffle.

    An ingest-persisted cost column (``n_spans``, ``n_bytes``) pushes the
    branch predicates to parquet stats, so the two branches read disjoint
    row-groups; a computed cost makes each branch read the full corpus.
    """
    light = df.where(cost <= threshold)
    heavy = df.where(cost > threshold).repartition(
        spark.sparkContext.defaultParallelism
    )
    return extract(light).unionByName(extract(heavy))


def extract_spans_rebalanced(
    spark: SparkSession,
    docs_df: DataFrame,
    heavy_threshold: int = 2048,
    with_bucket: bool = False,
) -> DataFrame:
    """``extract_spans`` split by span count (``_rebalanced``): the
    ingest-persisted ``n_spans`` column when present, else
    ``size(spans)``."""
    cost = (
        F.col("n_spans") if "n_spans" in docs_df.columns else F.size("spans")
    )
    return _rebalanced(
        spark, docs_df, cost, heavy_threshold,
        lambda df: extract_spans(spark, df, with_bucket=with_bucket),
    )


# ---------------------------------------------------------------------------
# checkpointed job: waves of buckets + lineage + idempotent resume
# ---------------------------------------------------------------------------


def _lineage_state(output_dir: str) -> Tuple[set, dict]:
    """-> (buckets with an ``ok`` lineage row, last attempt per bucket).

    The ``_lineage`` part files are a few rows each, so they are read on
    the driver (``pyarrow.dataset`` with ``LINEAGE_SCHEMA``, ``.``- and
    ``_``-prefixed files skipped as Spark does): no Spark job.  A
    lineage that does not exist yet is an empty state; any other read
    error raises, since treating an unreadable lineage as empty would
    silently reprocess every completed bucket and restart attempts at 1.
    """
    fs, path = _fs_path(f"{output_dir}/_lineage")
    try:
        dataset = ds.dataset(
            path, schema=_LINEAGE_ARROW, format="parquet", filesystem=fs
        )
    except FileNotFoundError:
        return set(), {}
    rows = dataset.to_table(columns=["bucket", "status", "attempt"])
    done, attempts = set(), {}
    for b, status, attempt in zip(*(c.to_pylist() for c in rows.columns)):
        attempts[b] = max(attempts.get(b, 0), attempt)
        if status == "ok":
            done.add(b)
    return done, attempts


def completed_buckets(spark: SparkSession, output_dir: str) -> List[int]:
    """Buckets with an ``ok`` lineage row, ascending."""
    return sorted(_lineage_state(output_dir)[0])


def _append_lineage(output_dir: str, rows: List[tuple]) -> None:
    """Append ``LINEAGE_SCHEMA`` rows as one parquet part file, written
    on the driver (no Spark job) under a ``.``-prefixed name, which every
    reader skips, and then moved into place."""
    fs, path = _fs_path(f"{output_dir}/_lineage")
    fs.create_dir(path)
    name = f"part-{uuid.uuid4().hex}.parquet"
    table = pa.Table.from_pydict(
        dict(zip(_LINEAGE_ARROW.names, map(list, zip(*rows)))),
        schema=_LINEAGE_ARROW,
    )
    pq.write_table(table, f"{path}/.{name}", filesystem=fs)
    fs.move(f"{path}/.{name}", f"{path}/{name}")


def run_job(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    num_buckets: int = 64,
    num_waves: int = 4,
    heavy_threshold: int = 2048,
    fail_buckets: Optional[List[int]] = None,
) -> dict:
    """Checkpointed extraction: resume-safe, skew-aware.

    Wave ``w`` is always buckets ``range(w, num_buckets, num_waves)``;
    a run processes each wave minus its completed buckets and skips the
    waves left empty, so a resume replays a failed wave as the one wave
    it was.

    ``fail_buckets`` injects a failure for those buckets (testing only:
    proves failed waves don't poison completed ones and resume
    reprocesses only the failed buckets).

    Returns run stats {processed_buckets, skipped_buckets, docs, errors}.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    docs = _scan_parquet(spark, input_path).withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")
    )

    done, attempts = _lineage_state(output_dir)
    waves = [
        [b for b in range(w, num_buckets, num_waves) if b not in done]
        for w in range(num_waves)
    ]

    stats = {"processed_buckets": 0, "skipped_buckets": len(done), "docs": 0,
             "errors": 0}
    for wave in filter(None, waves):
        t0 = time.time()
        wave_docs = docs.where(F.col("bucket").isin(wave))
        attempt_nums = {b: attempts.get(b, 0) + 1 for b in wave}
        try:
            if fail_buckets and set(wave) & set(fail_buckets):
                raise RuntimeError(f"injected failure in wave {wave}")
            extracted = extract_spans_rebalanced(
                spark, wave_docs, heavy_threshold=heavy_threshold,
                with_bucket=True,
            )
            # Per-bucket lineage metrics ride on the write itself via
            # observe(): at 100 TB a read-back of everything just
            # written would be a second full corpus scan per wave.
            from pyspark.sql import Observation

            obs = Observation()
            aggs = []
            for b in wave:
                c = F.col("bucket") == b
                aggs.append(
                    F.sum(F.when(c, 1).otherwise(0)).alias(f"dc_{b}")
                )
                aggs.append(
                    F.sum(F.when(c, F.col("n_spans")).otherwise(0)).alias(
                        f"ec_{b}"
                    )
                )
                aggs.append(
                    F.sum(
                        F.when(c & (F.col("status") == "error"), 1)
                        .otherwise(0)
                    ).alias(f"er_{b}")
                )
            extracted = extracted.observe(obs, *aggs)
            # Dynamic partition overwrite: re-running a wave replaces only
            # its own bucket partitions — idempotent retries.
            extracted.write.partitionBy("bucket").mode("overwrite").parquet(
                f"{output_dir}/extracted"
            )
            wall_ms = int((time.time() - t0) * 1000)
            m = obs.get
            lineage_rows = [
                (
                    b, int(m[f"dc_{b}"] or 0), int(m[f"ec_{b}"] or 0),
                    int(m[f"er_{b}"] or 0), "ok", attempt_nums[b], wall_ms,
                )
                for b in wave
            ]
            stats["processed_buckets"] += len(wave)
            stats["docs"] += sum(r[1] for r in lineage_rows)
            stats["errors"] += sum(r[3] for r in lineage_rows)
        except Exception:
            wall_ms = int((time.time() - t0) * 1000)
            _append_lineage(output_dir, [
                (b, 0, 0, 0, "failed", attempt_nums[b], wall_ms) for b in wave
            ])
            raise
        _append_lineage(output_dir, lineage_rows)
    return stats
