"""Structured Streaming path: the batch operators through ``stream``."""

from functools import partial

import pytest

pyspark = pytest.importorskip("pyspark")

from py_pdf_parser_spark.pipeline import (  # noqa: E402
    extract_spans,
    extract_spans_rebalanced,
)
from py_pdf_parser_spark.schema import (  # noqa: E402
    DOC_TABLE_SCHEMA,
    DOCUMENTS_SCHEMA,
    EMBEDDINGS_SCHEMA,
    EVENTS_SCHEMA,
    HTML_PAGES_SCHEMA,
)
from py_pdf_parser_spark.streaming import stream  # noqa: E402
from py_pdf_parser_spark.synth import ensure_mixed_corpus  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from py_pdf_parser_spark.session import get_spark

    return get_spark(cores=4)


def _batches(query):
    """How many of ``query``'s micro-batches read at least one row."""
    return sum(p["numInputRows"] > 0 for p in query.recentProgress)


def test_stream_extract_processes_files(spark, tmp_path):
    import os
    import shutil

    src = ensure_mixed_corpus(0.001)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for name in os.listdir(src):
        if name.endswith(".parquet"):
            shutil.copy(os.path.join(src, name), os.path.join(in_dir, name))

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        query = stream(
            spark, in_dir, DOCUMENTS_SCHEMA,
            partial(extract_spans_rebalanced, spark),
            output_dir=out_dir, checkpoint_dir=ckpt,
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()

    run()
    # replay: a batch whose offsets were logged but whose commit was lost
    # runs again on restart (foreachBatch is at-least-once)
    commits = os.path.join(ckpt, "commits")
    for name in os.listdir(commits):
        os.remove(os.path.join(commits, name))
    run()

    out = spark.read.parquet(out_dir)
    n_docs = spark.read.parquet(src).count()
    assert out.count() == n_docs
    assert out.where("status = 'ok'").count() == n_docs

    # span-sequence equality with batch extraction of the same files
    def span_seqs(frame):
        return sorted(
            (
                r.doc_id,
                r.status,
                [(s.kind, s.text, s.media_ref, s.order) for s in r.spans or []],
            )
            for r in frame.collect()
        )

    batch = extract_spans(spark, spark.read.parquet(in_dir))
    assert span_seqs(out.drop("batch_id")) == span_seqs(batch)


def test_stream_windowed_counts_matches_batch(spark, tmp_path):
    """Complete-mode streaming window agg == batch windowed_counts."""
    import shutil

    from py_pdf_parser_spark.events import windowed_counts

    src = "/root/testdata/sf0.001/events.parquet"
    in_dir = tmp_path / "events_in"
    in_dir.mkdir()
    shutil.copy(src, in_dir / "part-0.parquet")
    query = stream(
        spark, str(in_dir), EVENTS_SCHEMA, windowed_counts,
        query_name="wc_test", output_mode="complete",
    )
    try:
        query.processAllAvailable()
        streamed = {
            tuple(r)
            for r in spark.table("wc_test").collect()
        }
    finally:
        query.stop()

    batch = {
        tuple(r)
        for r in windowed_counts(spark.read.parquet(src)).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization == batch sessionize."""
    from pyspark.sql import functions as F

    from py_pdf_parser_spark.events import sessionize
    from py_pdf_parser_spark.streaming import stream_sessionize

    src = "/root/testdata/sf0.001/events.parquet"
    in_dir = str(tmp_path / "ev_in")
    # Multiple time-ordered files so the stateful op crosses micro-batch
    # boundaries (state carried between batches).
    (
        spark.read.parquet(src)
        .repartitionByRange(3, "ts")
        .sortWithinPartitions("ts")
        .write.parquet(in_dir)
    )
    # The file source orders batches by (modTime, path); the parallel
    # write gives near-identical mtimes, so pin them ascending in part
    # order to make arrival order == event-time order (the contract a
    # real log stream provides).
    import os

    parts = sorted(
        f for f in os.listdir(in_dir) if f.endswith(".parquet")
    )
    base = int(os.path.getmtime(os.path.join(in_dir, parts[0])))
    for i, name in enumerate(parts):
        os.utime(os.path.join(in_dir, name), (base + 10 * i, base + 10 * i))
    # two files per trigger: 2 micro-batches over the 3 files (4 would
    # read them in one, and the fold would never carry state)
    query = stream_sessionize(
        spark, in_dir, "sess_test", max_files_per_trigger=2
    )
    try:
        query.processAllAvailable()
        n_batches = _batches(query)
        streamed = (
            spark.table("sess_test")
            .groupBy("user_id", "session_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.min("start_s").alias("start_s"),
                F.max("end_s").alias("end_s"),
            )
        )
        got = {tuple(r) for r in streamed.collect()}
    finally:
        query.stop()

    want = {tuple(r) for r in sessionize(spark.read.parquet(src)).collect()}
    assert got == want
    assert len(want) > 50
    assert n_batches == 2


def test_stream_sessionize_multi_chunk_groups(spark, tmp_path):
    """A group whose micro-batch rows span several Arrow chunks arrives
    in shuffle order, not event-time order — the fold must buffer and
    sort the WHOLE group once (per-chunk sorting folds chunks out of
    order and corrupts session boundaries).  Forced here with a
    time-DESCENDING input file and a tiny Arrow batch size."""
    from pyspark.sql import functions as F

    from py_pdf_parser_spark.events import sessionize
    from py_pdf_parser_spark.streaming import stream_sessionize

    src = "/root/testdata/sf0.001/events.parquet"
    in_dir = str(tmp_path / "ev_desc")
    (
        spark.read.parquet(src)
        .repartition(1)
        .sortWithinPartitions(F.desc("ts"))
        .write.parquet(in_dir)
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        query = stream_sessionize(spark, in_dir, "sess_chunks")
        try:
            query.processAllAvailable()
            n_batches = _batches(query)
            streamed = (
                spark.table("sess_chunks")
                .groupBy("user_id", "session_id")
                .agg(
                    F.max("n_events").alias("n_events"),
                    F.min("start_s").alias("start_s"),
                    F.max("end_s").alias("end_s"),
                )
            )
            got = {tuple(r) for r in streamed.collect()}
        finally:
            query.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    want = {tuple(r) for r in sessionize(spark.read.parquet(src)).collect()}
    assert got == want
    # one input file: the chunks, not the batches, are what is split
    assert n_batches == 1


def test_stream_dedup_keeps_first_per_digest(spark, tmp_path):
    """Streaming exact dedup: one survivor per content digest across
    micro-batch boundaries (state carries seen digests)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    src = ensure_mixed_corpus(0.001)
    in_dir = str(tmp_path / "dedup_in")
    os.makedirs(in_dir)
    parts = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )
    # two drops of the SAME file -> second batch is 100% duplicates
    shutil.copy(os.path.join(src, parts[0]), os.path.join(in_dir, "a.parquet"))
    shutil.copy(os.path.join(src, parts[0]), os.path.join(in_dir, "b.parquet"))

    from py_pdf_parser_spark.streaming import stream_dedup

    # one file per trigger: the second (all-duplicate) drop arrives in a
    # LATER micro-batch, so survivors depend on carried state
    query = stream_dedup(
        spark, in_dir, "dedup_test", max_files_per_trigger=1
    )
    try:
        query.processAllAvailable()
        n_batches = _batches(query)
        out = spark.table("dedup_test")
        n_out = out.count()
        n_digests = out.select("digest").distinct().count()
        survivors = {r.doc_id for r in out.collect()}
    finally:
        query.stop()

    batch = spark.read.parquet(in_dir).withColumn(
        "digest", F.md5(F.to_json(F.struct("spans")))
    )
    want = batch.select("digest").distinct().count()
    assert n_out == n_digests == want
    # the doubled drop means input rows are ~2x the survivors
    assert batch.count() > n_out
    assert n_batches == 2
    # the survivor per digest is the lowest doc_id of the first drop
    first_drop = spark.read.parquet(os.path.join(in_dir, "a.parquet"))
    lowest = first_drop.groupBy(
        F.md5(F.to_json(F.struct("spans")))
    ).agg(F.min("doc_id").alias("d"))
    assert survivors == {r.d for r in lowest.collect()}


def test_stream_html_extract_matches_batch(spark, tmp_path):
    """Streaming HTML main-content extraction == batch content_spans."""
    import os
    import shutil

    from py_pdf_parser_spark.synth import ensure_html_corpus
    from py_pdf_parser_spark.textops.html import content_spans

    src = ensure_html_corpus(0.001)
    in_dir = str(tmp_path / "html_in")
    os.makedirs(in_dir)
    for name in os.listdir(src):
        if name.endswith(".parquet"):
            shutil.copy(os.path.join(src, name), os.path.join(in_dir, name))

    out_dir = str(tmp_path / "html_out")
    ckpt = str(tmp_path / "html_ckpt")
    query = stream(
        spark, in_dir, HTML_PAGES_SCHEMA, content_spans,
        output_dir=out_dir, checkpoint_dir=ckpt,
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    out = spark.read.parquet(out_dir).drop("batch_id")
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        tuple(r) for r in content_spans(spark.read.parquet(src)).collect()
    )
    assert got == want


@pytest.mark.parametrize("surface", ["html", "extract"])
def test_stream_replay_is_idempotent(spark, tmp_path, surface):
    """A replayed micro-batch (foreachBatch is at-least-once) must not
    duplicate rows: the shared sink's writer overwrites its batch_id
    partition, for HTML and document extraction alike."""
    from py_pdf_parser_spark.streaming import write_batch
    from py_pdf_parser_spark.synth import ensure_html_corpus
    from py_pdf_parser_spark.textops.html import content_spans

    if surface == "html":
        src, transform = ensure_html_corpus(0.001), content_spans
    else:
        src = ensure_mixed_corpus(0.001)
        transform = partial(extract_spans_rebalanced, spark)
    batch = spark.read.parquet(src)
    out_dir = str(tmp_path / "replay_out")

    write_batch(transform, out_dir, batch, 0)
    first = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    # simulate a checkpoint replay: same batch_id, same input, again
    write_batch(transform, out_dir, batch, 0)
    second = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    assert first == second
    # while a genuinely NEW batch appends its own partition
    write_batch(transform, out_dir, batch.limit(1), 1)
    n_new = (
        spark.read.parquet(out_dir).where("batch_id = 1").count()
    )
    assert len(second) + n_new == spark.read.parquet(out_dir).count()


def test_stream_pii_scrub_matches_batch(spark, tmp_path):
    """Stateless streaming scrub == the batch operator on the same rows."""
    from py_pdf_parser_spark.textops.analysis import pii_scrub

    rows = [
        (1, "mail a.b+c@mail.example.com now", "en", "s0", 30),
        (2, "call 212-555-1234 or visit 10.0.0.7", "en", "s0", 30),
        (3, "clean text with nothing planted", "en", "s1", 30),
        (4, "overlap 212-555-1234@mail.example.net case", "en", "s1", 30),
    ]
    schema = ("doc_id long, text string, lang string, source string,"
              " n_chars long")
    docs = spark.createDataFrame(rows, schema)
    in_dir = str(tmp_path / "in")
    docs.coalesce(1).write.parquet(in_dir)

    q = stream(spark, in_dir, DOC_TABLE_SCHEMA, pii_scrub, query_name="pii_t")
    try:
        q.processAllAvailable()
        got = {
            tuple(r)
            for r in spark.sql("SELECT * FROM pii_t").collect()
        }
    finally:
        q.stop()
    want = {tuple(r) for r in pii_scrub(docs).collect()}
    assert got == want and len(want) == 4


def test_stream_blocklist_gate_matches_batch(spark, tmp_path):
    """Stateless streaming blocklist gate == the batch operator."""
    from py_pdf_parser_spark.textops.analysis import blocklist_filter

    rows = [
        (1, "clean text only here", "en", "s0", 20),
        (2, "bad bad bad bad words", "en", "s0", 21),
        (3, "one bad among many many fine words now", "en", "s1", 39),
        (4, "badge embedded is not a hit", "en", "s1", 27),
    ]
    schema = ("doc_id long, text string, lang string, source string,"
              " n_chars long")
    docs = spark.createDataFrame(rows, schema)
    in_dir = str(tmp_path / "in")
    docs.coalesce(1).write.parquet(in_dir)

    q = stream(
        spark, in_dir, DOC_TABLE_SCHEMA,
        partial(blocklist_filter, words=["bad", "ugly"], max_frac=0.2),
        query_name="blk_t")
    try:
        q.processAllAvailable()
        got = {
            tuple(r)
            for r in spark.sql("SELECT * FROM blk_t").collect()
        }
    finally:
        q.stop()
    want = {
        tuple(r)
        for r in blocklist_filter(docs, ["bad", "ugly"],
                                  max_frac=0.2).collect()
    }
    assert got == want and len(want) == 4
    kept = {r[0] for r in want if r[4]}
    assert kept == {1, 3, 4}


def test_stream_mixture_sample_matches_batch(spark, tmp_path):
    """Stateless streaming mixture sampling == the batch operator on
    the same rows (fixed buckets + broadcast rates decide identically
    in any execution mode)."""
    from py_pdf_parser_spark.textops.analysis import mixture_sample

    rows = [
        (i, f"doc {i}", "en", ["a", "b", "zero"][i % 3], 10)
        for i in range(60)
    ]
    schema = ("doc_id long, text string, lang string, source string,"
              " n_chars long")
    docs = spark.createDataFrame(rows, schema)
    in_dir = str(tmp_path / "in")
    docs.coalesce(2).write.parquet(in_dir)
    rates = spark.createDataFrame(
        [("a", 60), ("zero", 0)], "source string, pct long"
    )

    q = stream(
        spark, in_dir, DOC_TABLE_SCHEMA,
        partial(mixture_sample, rates=rates, default_pct=30),
        query_name="mix_t",
    )
    try:
        q.processAllAvailable()
        got = {
            tuple(r) for r in spark.sql("SELECT * FROM mix_t").collect()
        }
    finally:
        q.stop()
    want = {
        tuple(r)
        for r in mixture_sample(docs, rates, default_pct=30).collect()
    }
    assert got == want
    assert want  # non-degenerate: something was kept
    assert not any(t[1] == "zero" for t in got)


def test_stream_quality_gate_matches_batch(spark, tmp_path):
    """Streaming quality gate (fixed pre-trained LM + fixed tercile
    thresholds) == the batch bucketing with the same artifacts on the
    same rows, across multiple micro-batches and a replay-safe sink."""
    import random

    from py_pdf_parser_spark.textops.analysis import (
        bucket_by_thresholds,
        lm_perplexity,
        perplexity_thresholds,
        quality_gate,
        unigram_lm,
    )

    rng = random.Random(23)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]

    def corpus(n, off=0):
        return [
            (off + i,
             " ".join(rng.choice(vocab)
                      for _ in range(rng.randint(3, 12))),
             rng.choice(["en", "de"]), "web", 10)
            for i in range(n)
        ]

    schema = ("doc_id long, text string, lang string, source string,"
              " n_chars long")
    ref = spark.createDataFrame(corpus(80), schema)
    # train the gate artifacts once on the reference corpus
    lm = unigram_lm(ref.select("doc_id", "text")).persist()
    ref_scores = lm_perplexity(ref.select("doc_id", "text"), lm=lm).join(
        ref.select("doc_id", "lang"), "doc_id"
    )
    thresholds = perplexity_thresholds(ref_scores).persist()

    incoming = spark.createDataFrame(corpus(40, off=1000), schema)
    in_dir = str(tmp_path / "in")
    incoming.coalesce(4).write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream(
        spark, in_dir, DOC_TABLE_SCHEMA,
        partial(quality_gate, lm=lm, thresholds=thresholds),
        output_dir=out_dir, checkpoint_dir=ckpt, max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
        n_batches = _batches(q)
    finally:
        q.stop()

    got = {
        (r["doc_id"], r["lang"], r["bits_per_token"], r["bucket"])
        for r in spark.read.parquet(out_dir).collect()
    }
    batch_scores = lm_perplexity(
        incoming.select("doc_id", "text"), lm=lm
    ).join(incoming.select("doc_id", "lang"), "doc_id")
    want = {
        (r["doc_id"], r["lang"], r["bits_per_token"], r["bucket"])
        for r in bucket_by_thresholds(batch_scores, thresholds).collect()
    }
    assert got == want and len(want) == 40
    assert {b for _, _, _, b in got} <= {"head", "middle", "tail"}
    assert n_batches >= 2


def test_stream_gopher_gate_matches_batch(spark, tmp_path):
    """Stateless streaming Gopher-rule gate == the batch operator."""
    from py_pdf_parser_spark.textops.analysis import gopher_rules

    rows = [
        (1, "the cat and dog ran to a tree in the park and sat on it",
         "en", "s0", 56),
        (2, "the and of", "en", "s0", 10),
        (3, "cats dogs birds fish mice foxes wolves bears deer hawks",
         "en", "s1", 55),
        (4, "the 123 456 789 000 111 222 333 444 a", "en", "s1", 38),
    ]
    schema = ("doc_id long, text string, lang string, source string,"
              " n_chars long")
    docs = spark.createDataFrame(rows, schema)
    in_dir = str(tmp_path / "in")
    docs.coalesce(2).write.parquet(in_dir)

    bounds = dict(min_words=10, max_words=40,
                  min_mean_word_len=2.0, max_mean_word_len=6.0)
    q = stream(
        spark, in_dir, DOC_TABLE_SCHEMA, partial(gopher_rules, **bounds),
        query_name="gph_t", max_files_per_trigger=1)
    try:
        q.processAllAvailable()
        got = {tuple(r)
               for r in spark.sql("SELECT * FROM gph_t").collect()}
    finally:
        q.stop()
    want = {tuple(r) for r in gopher_rules(docs, **bounds).collect()}
    assert got == want and len(want) == 4
    kept = {r[0] for r in want if r[-1]}
    assert kept == {1}


def test_stream_dsir_gate_matches_batch(spark, tmp_path):
    """Streaming DSIR scoring (fixed pre-trained model) == batch
    dsir_score with the same model on the same rows, including docs
    whose tokens the training corpus never saw."""
    from py_pdf_parser_spark.textops.analysis import (
        dsir_model,
        dsir_score,
    )

    schema = ("doc_id long, text string, lang string, source string,"
              " n_chars long")
    ref = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "en" if i % 2 == 0 else "de",
          "s", 1) for i in range(20)], schema)
    model = dsir_model(
        ref, ref.where("lang = 'en'"), n_buckets=128).persist()

    incoming = spark.createDataFrame(
        [(1000, "alpha beta alpha", "xx", "s", 1),
         (1001, "neverseen tokens entirely fresh", "xx", "s", 1),
         (1002, "gamma neverseen delta", "xx", "s", 1)], schema)
    in_dir = str(tmp_path / "in")
    incoming.coalesce(3).write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    q = stream(
        spark, in_dir, DOC_TABLE_SCHEMA,
        partial(dsir_score, model=model, n_buckets=128),
        output_dir=out_dir, checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1)
    try:
        q.processAllAvailable()
        n_batches = _batches(q)
    finally:
        q.stop()

    got = {(r["doc_id"], r["n_tokens"], r["dsir_weight"])
           for r in spark.read.parquet(out_dir).collect()}
    want = {tuple(r) for r in
            dsir_score(incoming, model, n_buckets=128).collect()}
    assert got == want and len(want) == 3
    # every token scored, unseen ones included
    assert {r[1] for r in want} == {3, 4}
    assert n_batches >= 2


def test_stream_pq_encode_matches_batch(spark, tmp_path):
    """Streaming PQ encode against a frozen codebook == batch
    pq_assign with the same codebook on the same rows."""
    import numpy as np

    from py_pdf_parser_spark.textops.similarity import (
        pq_assign,
        pq_train,
    )

    rng = np.random.RandomState(13)
    vecs = rng.randn(24, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], int(i % 3)) for i in range(24)],
        EMBEDDINGS_SCHEMA,
    )
    codebook = pq_train(emb, n_subs=4, n_codes=4, n_iters=1)
    in_dir = str(tmp_path / "in")
    emb.coalesce(1).write.parquet(in_dir)

    q = stream(
        spark, in_dir, EMBEDDINGS_SCHEMA,
        partial(pq_assign, codebook=codebook), query_name="pq_t",
    )
    try:
        q.processAllAvailable()
        got = {
            (r.vec_id, tuple(r.codes))
            for r in spark.sql("SELECT * FROM pq_t").collect()
        }
    finally:
        q.stop()
    want = {
        (r.vec_id, tuple(r.codes))
        for r in pq_assign(emb, codebook).collect()
    }
    assert got == want and len(want) == 24


def test_stream_bm25_gate_matches_batch(spark, tmp_path):
    """Streaming BM25 scoring (fixed retrieval model) == batch
    bm25_score with the same model on the same rows; the frozen
    df/avgdl come from the reference corpus, not the stream."""
    from py_pdf_parser_spark.textops.analysis import (
        bm25_model,
        bm25_score,
    )

    schema = ("doc_id long, text string, lang string, source string,"
              " n_chars long")
    ref = spark.createDataFrame(
        [(i, "spark window merge filler" if i % 2 == 0
          else "hash join scan other words here", "en", "s", 1)
         for i in range(20)], schema)
    queries = ((0, ("spark", "window")), (1, ("hash", "join")))
    model = bm25_model(ref, queries=queries).persist()

    incoming = spark.createDataFrame(
        [(1000, "spark spark window", "xx", "s", 1),
         (1001, "no matching terms at all", "xx", "s", 1),
         (1002, "hash join spark", "xx", "s", 1)], schema)
    in_dir = str(tmp_path / "in")
    incoming.coalesce(3).write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    q = stream(
        spark, in_dir, DOC_TABLE_SCHEMA, partial(bm25_score, model=model),
        output_dir=out_dir, checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1)
    try:
        q.processAllAvailable()
        n_batches = _batches(q)
    finally:
        q.stop()

    got = {(r["doc_id"], r["q_id"], r["score_micro"])
           for r in spark.read.parquet(out_dir).collect()}
    want = {tuple(r) for r in bm25_score(incoming, model).collect()}
    assert got == want
    # doc 1002 matches both queries; 1001 matches none
    assert {d for d, _, _ in want} == {1000, 1002}
    assert {(d, qid) for d, qid, _ in want} == {
        (1000, 0), (1002, 0), (1002, 1)}
    assert n_batches >= 2


@pytest.mark.parametrize(
    "sink",
    [
        {},
        {"query_name": "t", "output_dir": "out", "checkpoint_dir": "ck"},
        {"query_name": "t", "output_dir": "out"},
        {"output_dir": "out"},
        {"checkpoint_dir": "ck"},
    ],
    ids=["neither", "both", "table+dir", "dir-only", "checkpoint-only"],
)
def test_stream_needs_exactly_one_sink(spark, tmp_path, sink):
    with pytest.raises(ValueError, match="exactly one sink"):
        stream(spark, str(tmp_path), DOC_TABLE_SCHEMA, lambda d: d, **sink)
