"""Seeded benchmark inputs, generated before any timing starts.

The seed picks each family's doc-number range and the interleave order;
documents come from the public ``kernel.layout`` span builders, and PDF
inputs (every doc of the byte workload, or a seeded sample of another
workload's docs) are rendered with ``sources.pdf_writer.render_pdf`` (the
per-document renderer that ``render_pdfs`` maps over a DataFrame; calling
it directly keeps Spark out of input generation).  Inputs are cached by
workload, seed and size, so a repeated seed skips generation.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from py_pdf_parser_spark.kernel.layout import SPAN_BUILDERS
from py_pdf_parser_spark.sources.pdf_writer import render_pdf
from py_pdf_parser_spark.synth import SPANS_ARROW_SCHEMA

MIX = (("ora", 0.70), ("memo", 0.15), ("media", 0.10), ("ordsum", 0.05))
PATHO = ("bigdoc", "bigmedia", "bigtable")
PATHO_SHARE = 0.001  # per pathological family, as synth.ensure_mixed_corpus
PDF_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("pdf_bytes", pa.binary()), ("n_bytes", pa.int64())]
)
KEEP_CACHED = 6  # input sets kept on disk; older ones are removed


@dataclass
class Inputs:
    spans_path: str  # (doc_id, spans, n_spans) parquet dataset
    pdf_path: str  # (doc_id, pdf_bytes, n_bytes) dataset, byte workload only
    pdf_sample_path: str  # the same for a seeded sample of the docs, or ""
    doc_ids: List[str]
    stats: Dict = field(default_factory=dict)


def _doc_ids(rng: random.Random, n_docs: int, skew: bool) -> Tuple[List[str], List[str]]:
    """(interleaved ordinary ids, clustered pathological ids)."""
    n_patho = max(1, round(n_docs * PATHO_SHARE)) if skew else 0
    counts = {fam: int(n_docs * share) for fam, share in MIX}
    counts["ora"] += n_docs - 3 * n_patho - sum(counts.values())
    ids = []
    for fam, count in counts.items():
        start = rng.randrange(0, 999_999 - count)
        ids += [f"{fam}-{i:06d}" for i in range(start, start + count)]
    rng.shuffle(ids)
    patho = []
    for fam in PATHO if n_patho else ():
        start = rng.randrange(0, 999_999 - n_patho)
        patho += [f"{fam}-{i:06d}" for i in range(start, start + n_patho)]
    return ids, patho


def _spans(doc_id: str):
    fam, num = doc_id.split("-", 1)
    return SPAN_BUILDERS[fam](int(num))


def _spans_table(ids: List[str]) -> pa.Table:
    rows = [_spans(d) for d in ids]
    return pa.Table.from_pydict(
        {
            "doc_id": ids,
            "spans": [
                [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in r]
                for r in rows
            ],
            "n_spans": [len(r) for r in rows],
        },
        schema=SPANS_ARROW_SCHEMA,
    )


def _pdf_table(ids: List[str]) -> pa.Table:
    blobs = [render_pdf(d, _spans(d)) for d in ids]
    return pa.Table.from_pydict(
        {"doc_id": ids, "pdf_bytes": blobs, "n_bytes": [len(b) for b in blobs]},
        schema=PDF_SCHEMA,
    )


def _write(files: List[List[str]], out_dir: str, make) -> int:
    """One parquet file (one row group) per id chunk; returns bytes written."""
    os.makedirs(out_dir)
    for n, chunk in enumerate(files):
        pq.write_table(make(chunk), f"{out_dir}/part-{n:05d}.parquet")
    return sum(os.path.getsize(f"{out_dir}/{f}") for f in os.listdir(out_dir))


def _chunks(ids: List[str], per_file: int) -> List[List[str]]:
    return [ids[i : i + per_file] for i in range(0, len(ids), per_file)]


def _prune(cache_dir: str) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(cache_dir, e)), e) for e in os.listdir(cache_dir)
    )
    for _mtime, name in entries[:-KEEP_CACHED]:
        shutil.rmtree(os.path.join(cache_dir, name), ignore_errors=True)


def generate(cache_dir: str, workload, seed: int) -> Inputs:
    """Build (or reuse) the workload's inputs for ``seed``."""
    key = f"{workload.name}-s{seed}-n{workload.n_docs}-p{workload.pdf_sample}"
    root = os.path.join(cache_dir, key)
    manifest = os.path.join(root, "manifest.json")
    if not os.path.exists(manifest):
        os.makedirs(cache_dir, exist_ok=True)
        _prune(cache_dir)
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        rng = random.Random(f"{workload.name}:{seed}")
        ids, patho = _doc_ids(rng, workload.n_docs, workload.skew)
        files = _chunks(ids, workload.docs_per_file)
        if patho:
            files.append(patho)  # heavy docs clustered in their own file
        spans_bytes = _write(files, f"{tmp}/spans", _spans_table)
        pdf_bytes = _write(files, f"{tmp}/pdf", _pdf_table) if workload.pdf else 0
        all_ids = ids + patho
        sample = sorted(rng.sample(all_ids, workload.pdf_sample))
        if sample:
            _write([sample], f"{tmp}/pdf_sample", _pdf_table)
        n_spans = sum(len(_spans(d)) for d in all_ids)
        stats = {
            "workload": workload.name,
            "seed": seed,
            "docs": len(all_ids),
            "spans": n_spans,
            "files": len(files),
            "input_bytes": pdf_bytes or spans_bytes,
            "pathological_share": len(patho) / len(all_ids),
            "pdf_sample_docs": len(sample),
            "why": workload.why,
            "doc_ids": all_ids,
        }
        with open(f"{tmp}/manifest.json", "w") as fh:
            json.dump(stats, fh)
        os.rename(tmp, root)
    with open(manifest) as fh:
        stats = json.load(fh)
    os.utime(root)
    return Inputs(
        spans_path=f"{root}/spans",
        pdf_path=f"{root}/pdf",
        pdf_sample_path=f"{root}/pdf_sample" if stats["pdf_sample_docs"] else "",
        doc_ids=stats.pop("doc_ids"),
        stats=stats,
    )
