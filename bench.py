#!/usr/bin/env python
"""Driver benchmark: extraction throughput and scaling, per-query times
and the LSH audit, in one run that always prints its headline.

    python bench.py

1. Runs the gated benchmark's own command (``BENCHMARK.json``'s
   ``command`` with ``--workload all --seed 1 --seconds <run_seconds>``)
   as a child and reads its record: docs/s, 1-CPU-vs-all-CPU scaling
   efficiency and correctness of ``spans_mixed``, ``pdf_bytes`` and
   ``skew_checkpoint``.
2. Times every ``BENCH_QUERIES`` entry in one ``get_spark(cores=
   SPARK_GRAFT_CPUS)`` session over ``SPARK_GRAFT_SF_DIR``: one warm
   pass, then one measured pass with the build and the force timed apart.
3. Audits the LSH dedup: bucket-cap drops and connected-component rounds.

Stdout carries exactly one line, the headline (under 1 KB); the full
record, per-query times included, goes to ``BENCH/RESULT.json`` and
everything Spark prints to ``BENCH/bench.log`` (both under the working
directory).  A SIGTERM or the ``DEADLINE_S`` deadline still yields the
headline, with whatever had finished and ``"complete": false``, and
exit code 3.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import traceback

from perfbench import record as rec_mod
from perfbench import spark_env
from perfbench.run import signal_off

ROOT = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# A run ends, with its headline, inside 15 minutes: the perfbench child
# stops itself within 3 x 170 s, and at sf0.1 on 4 CPUs the queries and
# the audit took ~250 s (the whole run 405 s).
DEADLINE_S = 840
RESULT = os.path.join("BENCH", "RESULT.json")
LOG = os.path.join("BENCH", "bench.log")

BENCH_QUERIES = [
    "pp_extract_spans",
    "pp_pdf_roundtrip_extract",  # render->REAL-PDF-parse->extract
    "pp_parse_elements",
    "pp_to_the_right_of",
    "pp_below_all_pages",
    "pp_between",
    "pp_set_xor",
    "pp_memo_extract",
    "pp_ordsum_table",
    "mm_media_features",
    "pp_font_mode",
    "pp_sections_multi",
    "td_minhash_signatures",
    "td_simhash",
    "td_simhash_pairs",
    "td_ngram_jaccard_pairs",
    "td_jaccard_lsh_verified",
    "td_lsh_candidate_pairs",
    "td_lsh_pairs_capped",
    "td_dedup_incremental",
    "td_exact_dups",
    "emb_cosine_topk",
    "emb_lsh_topk",
    "emb_lsh_multiprobe",
    "emb_ivf_topk",
    "emb_ivf_multiprobe",
    "emb_kmeans_centroids",
    "emb_kmeans_ivf_topk",
    "emb_pq_codes",
    "emb_pq_adc_topk",
    "emb_ivfpq_topk",
    "emb_dup_pairs",
    "emb_semantic_dedup",
    "ev_windowed_counts",
    "ev_sessionize",
    "ev_json_props",
    "html_main_text",
    "html_content_spans",
    "html_dedup_main_text",
    "td_dup_clusters",
    "td_corpus_prep",
    "td_jaccard_borderline",
    "td_repetition_stats",
    "td_pii_scrub",
    "td_shard_stats",
    "td_chunk_documents",
    "td_corpus_to_shards",
    "td_decontaminate",
    "td_substring_dedup",
    "td_lm_perplexity",
    "td_vocab_topk",
    "td_tfidf_topk",
    "td_bpe_merge_counts",
    "td_bm25_topk",
    "td_length_quantiles",
    "td_ppl_buckets",
    "html_line_dedup",
    "td_gopher_rules",
    "td_dsir_weights",
    "td_corpus_shuffle",
    "td_shuffled_shards",
    "td_bigram_perplexity",
    "td_dataset_split",
    "td_split_stats",
    "td_corpus_manifest",
]


def run_perfbench(record: rec_mod.Record) -> None:
    """The gated extraction workloads, in a child; its metrics, document
    counts and correctness go into ``record``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cmd = spec["command"] + ["--workload", "all", "--seed", "1",
                             "--seconds", str(spec["run_seconds"])]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate()
    except rec_mod.Interrupted:
        signal_off()
        proc.terminate()  # the child prints its own partial record
        take_child_record(record, proc.communicate()[0], proc.returncode)
        raise
    take_child_record(record, out, proc.returncode)


def take_child_record(record: rec_mod.Record, out: str, rc: int) -> None:
    lines = out.strip().splitlines()
    child = json.loads(lines[-1]) if lines else {}
    if not child.get("correct"):
        record.fail(f"perfbench exited {rc} with an incorrect or no record")
    record.count(child.get("attempted", 1), child.get("failed", 1))
    for name, m in child.get("metrics", {}).items():
        record.put(name, m["value"], m["unit"])


def time_queries(spark, queries: dict) -> None:
    """Per query: a warm pass, which fills the shared tables it reads,
    then a measured pass on a rebuilt DataFrame (forcing the same object
    again would reuse its shuffle outputs).  The build is timed apart
    from the force: it covers driver-side planning and any eager jobs a
    builder runs (td_dup_clusters' connected-component rounds)."""
    from py_pdf_parser_spark.queries import queries as registry

    qs = registry()
    for name in BENCH_QUERIES:
        qs[name](spark, SF_DIR).count()
        t0 = time.perf_counter()
        df = qs[name](spark, SF_DIR)
        t1 = time.perf_counter()
        df.count()
        queries[name] = {"build_s": round(t1 - t0, 3),
                         "force_s": round(time.perf_counter() - t1, 3)}


def lsh_audit(spark) -> dict:
    """What the 256-doc LSH bucket cap drops at this sf, and how many
    label-propagation rounds the connected components take."""
    from pyspark.sql import functions as F

    from py_pdf_parser_spark.queries import _docs_table, _minhash_wide_table
    from py_pdf_parser_spark.textops import dedup as dedup_ops

    wide = _minhash_wide_table(spark, SF_DIR)
    cap_row = (
        dedup_ops.bucket_cap_stats(
            dedup_ops.minhash_banded(wide), ["band", "bucket"], 256
        )
        .agg(
            F.count("*").alias("oversized_buckets"),
            F.sum("pairs_dropped").alias("pairs_dropped"),
        )
        .collect()[0]
    )
    cc_stats: dict = {}
    dedup_ops.dup_clusters(
        _docs_table(spark, SF_DIR), wide=wide, stats=cc_stats
    ).count()
    return {
        "minhash_perms": len(dedup_ops.MINHASH_PARAMS),
        "bands": dedup_ops.MINHASH_BANDS,
        "rows_per_band": dedup_ops.MINHASH_ROWS_PER_BAND,
        "oversized_buckets": int(cap_row["oversized_buckets"] or 0),
        "capped_pairs_dropped": int(cap_row["pairs_dropped"] or 0),
        "cc_rounds": cc_stats.get("rounds"),
    }


def headline(full: dict) -> dict:
    """The stdout line: extraction throughput and scaling (from the
    gated workloads), correctness, error share and the LSH audit.
    Per-query times stay in the full record."""
    m = full["metrics"]

    def metric(name: str, digits: int):
        return None if name not in m else round(m[name], digits)

    dps = metric("spans_mixed.docs_per_s", 1)
    return {
        "metric": "spans_mixed extraction throughput (perfbench, local[nproc])",
        "value": dps,
        "unit": "docs/s",
        "docs_per_sec": dps,
        "pdf_path": {"docs_per_sec": metric("pdf_bytes.docs_per_s", 1)},
        "skew": {"docs_per_sec": metric("skew_checkpoint.docs_per_s", 1)},
        "scaling": {
            "efficiency_median": metric("spans_mixed.scaling_eff", 3),
            "levels": [1, full["nproc"]],
        },
        "correct": full["correct"],
        "complete": full["complete"],
        "error_share": round(full["failed"] / max(full["attempted"], 1), 6),
        "lsh_audit": full["lsh_audit"],
        "detail": RESULT,
    }


def main() -> int:
    os.makedirs("BENCH", exist_ok=True)
    # Stdout carries the headline only: Spark's output, the child's
    # summary and any traceback go to the log.
    out_fd = os.dup(1)
    log_fd = os.open(LOG, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    record = rec_mod.Record(out_fd)
    # Python workers import the engine from the repository, whatever the
    # working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    queries: dict = {}
    audit: dict = {}
    session = spark_env.Session(CPUS)
    t0 = time.perf_counter()
    rec_mod.install_interrupts(DEADLINE_S)
    complete = False
    try:
        run_perfbench(record)
        spark = session.start()
        time_queries(spark, queries)
        audit = lsh_audit(spark)
        complete = True
    except Exception as err:  # noqa: BLE001 - any failure still gets a headline
        traceback.print_exc()
        if not rec_mod.INTERRUPTED_BY:
            record.fail(f"{type(err).__name__}: {err}")
            complete = True
    finally:
        signal_off()
        session.shutdown(graceful=complete)
    full = {
        "complete": complete,
        "correct": complete and record.correct,
        "attempted": record.attempted,
        "failed": record.failed,
        "problems": record.problems,
        "metrics": {k: m["value"] for k, m in sorted(record.metrics.items())},
        "queries": queries,
        "lsh_audit": audit or None,
        "elapsed_s": round(time.perf_counter() - t0, 1),
        "deadline_s": DEADLINE_S,
        "sf_dir": SF_DIR,
        "cpus": CPUS,
        "nproc": spark_env.cores(),
    }
    with open(RESULT, "w") as fh:
        json.dump(full, fh, indent=1)
    line = json.dumps(headline(full), separators=(",", ":")) + "\n"
    os.write(out_fd, line.encode())
    if not complete:
        return 3
    return 0 if full["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
