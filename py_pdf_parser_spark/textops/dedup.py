"""Deduplication operators: exact, n-gram Jaccard, MinHash(+LSH), SimHash.

Scale notes:
  * exact dedup: one hash-shuffle on the digest — the minimal possible.
  * MinHash signatures: narrow (no shuffle); the LSH candidate join
    shuffles on (band, bucket) only, never on raw text.
  * SimHash: narrow after one explode+groupBy(doc) (map-side combinable).
  * Pairwise Jaccard runs ONLY within LSH/blocking buckets — never a full
    cross join.

Each near-dup rule lives in one private helper: ``_gram_rows`` (the
token posexplode + ``lead``-window gram build under ``shingle_rows`` and
``substring_dedup``), ``_chunk_capped`` (the band-salted bucket rank,
also ``index_bucket_reps``' cap), ``_capped_self_join`` (the chunk-capped
bucket self-join of ``lsh_candidate_pairs`` and ``simhash_pairs``) and
``_verified_pairs`` over ``_jaccard_kept`` (exact hashed-shingle Jaccard,
shared by ``jaccard_lsh_verified``, ``dedup_against_index`` and
``ngram_jaccard_pairs``).  The shingle width is ``SHINGLE_N``; the
banding is ``MINHASH_BANDS`` x ``MINHASH_ROWS_PER_BAND`` over
``MINHASH_PARAMS``, applied in one place, ``minhash_banded`` — a consumer
that wants another banding passes its output as ``banded=``.

All hash math is md5-based so a SQL oracle (DuckDB) can reproduce it
bit-for-bit: H(s) = int(first 8 hex chars of md5(s)) in [0, 2^32).
"""

from __future__ import annotations

from typing import Callable, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SHINGLE_N = 3  # words per shingle, for every shingle-based operator
MERSENNE = 2147483647  # 2^31 - 1
# MinHash banding configuration — ONE surface.  The LSH recall curve is
# P(candidate | J=t) = 1 - (1 - t^rows)^bands; with 16 bands x 2 rows
# that is 0.99 at t=0.5 and ~1.0 above 0.7, so borderline near-dups
# (J ~ 0.5-0.6) are still proposed with near-certainty.  bands x rows
# determines the permutation count; everything downstream (signature
# aggregates, banding, the DuckDB oracles) derives from these two
# numbers, so they can never drift apart from the documented math.
MINHASH_ROWS_PER_BAND = 2
MINHASH_BANDS = 16
# Deterministic affine hash params (a_k, b_k) for k minhash functions.
MINHASH_PARAMS: List = [
    (1 + 2 * k, 10007 * (k + 1) % MERSENNE)
    for k in range(MINHASH_BANDS * MINHASH_ROWS_PER_BAND)
]


def _h(col_expr: str) -> str:
    """SQL: 32-bit integer hash of a string via md5 prefix (JVM-side)."""
    return f"cast(conv(substring(md5({col_expr}), 1, 8), 16, 10) as bigint)"


def exact_dups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content digest (hash-groupBy)."""
    w = Window.partitionBy("digest")
    return (
        docs.select("doc_id", F.md5("text").alias("digest"))
        .withColumn("group_size", F.count("*").over(w).cast("long"))
    )


def dedup_survivors(docs: DataFrame) -> DataFrame:
    """Exact dedup's OUTPUT side: one surviving doc per content digest
    (deterministic: min doc_id wins), with the group size it
    represents.  One map-side-combinable min/count aggregation on the
    digest — the actual 'write the deduplicated corpus' operator that
    ``exact_dups`` diagnostics feed."""
    return (
        docs.select("doc_id", F.md5("text").alias("digest"))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").cast("long").alias("group_size"),
        )
        .select("doc_id", "digest", "group_size")
    )


def _tokens(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """(doc_id[, keep...], pos, tok): one row per space-split token."""
    return docs.select(
        "doc_id", *keep,
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    )


def _gram_rows(docs: DataFrame, width: int, hash_sql: Callable[[str], str],
               keep: tuple = ()) -> DataFrame:
    """(doc_id[, keep...], pos, h): one row per ``width``-token gram
    (tokens joined with '_') starting at token ``pos``, hashed by the
    SQL builder ``hash_sql``.  100% whole-stage codegen.

    The array-typed formulations (``transform``/``array_distinct`` +
    ``explode``) run interpreted (higher-order functions have no
    codegen), and worse: exploding a COMPUTED array makes the optimizer
    infer a ``size(arr) > 0`` filter with the entire array expression
    inlined into it — the shingle+md5 pipeline evaluated 3x per row
    (measured ~9s for 260k shingles).  This shape has no array at all:
    posexplode the tokens, build each gram with ``lead`` windows over
    (doc_id, pos) — null past the doc tail, so a doc shorter than
    ``width`` has no grams — and hash per row with scalar md5: every
    operator codegen-friendly, one shuffle (the window's hash partition
    by doc_id, which downstream doc-level aggregations then reuse)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.col("tok")
    for j in range(1, width):
        gram = F.concat(gram, F.lit("_"), F.lead("tok", j).over(w))
    return (
        _tokens(docs, keep).withColumn("g", gram)
        .where(F.col("g").isNotNull())
        .select("doc_id", *keep, "pos", F.expr(hash_sql("g")).alias("h"))
    )


def shingle_rows(
    docs: DataFrame, keep: tuple = (), distinct: bool = False
) -> DataFrame:
    """Exploded shingle-hash rows (doc_id[, keep...], h): the 32-bit
    ``_h`` of every ``SHINGLE_N``-word shingle (``_gram_rows``), one row
    per occurrence, or per distinct hash with ``distinct``."""
    rows = _gram_rows(docs, SHINGLE_N, _h, keep).drop("pos")
    if distinct:
        rows = rows.dropDuplicates(["doc_id", "h"])
    return rows


def minhash_wide(
    docs: DataFrame, rows: Optional[DataFrame] = None
) -> DataFrame:
    """Wide MinHash signatures (doc_id, m0..m{k-1}), one row per doc.

    ``shingle_rows`` -> one groupBy(doc_id) with k min-aggregates: the
    groupBy reuses the window's doc_id partitioning (no extra
    exchange), partial aggregation is map-side combinable, and
    min(multiset) == min(set) so no distinct pass is needed.

    ``rows``: precomputed ``shingle_rows`` output (distinct or not —
    min is set-idempotent).  In a parse-once-query-many deployment the
    shingle rows are a materialized table shared by every dedup
    operator; recomputing the tokenize+window+md5 pipeline per operator
    is the single biggest avoidable cost in composed queries.
    """
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE).alias(f"m{k}")
        for k, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    if rows is None:
        rows = shingle_rows(docs)
    return rows.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    docs: DataFrame, rows: Optional[DataFrame] = None,
    wide: Optional[DataFrame] = None,
) -> DataFrame:
    """MinHash signature rows (doc_id, k, minhash).

    Shape: explode shingle hashes once, then ONE groupBy(doc_id) with k
    min-aggregates — md5 runs exactly once per shingle (expression-level
    transforms would be re-inlined k times by the optimizer, measured 8x
    the cost), and the aggregation is map-side combinable: the shuffle
    carries k ints per doc per partition.
    """
    if wide is None:
        wide = minhash_wide(docs, rows=rows)
    sig_cols = [
        F.struct(
            F.lit(k).alias("k"), F.col(f"m{k}").cast("long").alias("minhash")
        )
        for k in range(len(MINHASH_PARAMS))
    ]
    return (
        wide.select("doc_id", F.explode(F.array(*sig_cols)).alias("s"))
        .select("doc_id", F.col("s.k").alias("k"), F.col("s.minhash").alias("minhash"))
    )


def _chunk_capped(banded: DataFrame, key: str,
                  max_bucket: int) -> DataFrame:
    """``banded`` plus ``chunk``: each (band, ``key``) bucket split into
    deterministic chunks of ``max_bucket`` rows.

    A degenerate bucket (crawl boilerplate: thousands of identical docs)
    makes a within-bucket self-join quadratic IN THAT BUCKET.  Chunking by
    rank caps every join group at ``max_bucket`` members: pairs form only
    within a chunk, so the worst bucket costs ``(n/cap)·C(cap,2)`` instead
    of ``C(n,2)`` — linear in bucket size.  Buckets at or under the cap are
    one chunk.  Use ``bucket_cap_stats`` to audit what the cap split.

    Rank order is SALTED PER BAND: docs sort by md5(<band>:doc_id) (with a
    doc_id tiebreak).  Under a plain doc_id order, a cluster that
    co-buckets in EVERY band (identical docs) would get identical chunk
    boundaries in all bands — cross-chunk pairs dropped in every band, so
    connected components permanently splits one semantic cluster into
    ceil(n/cap) pieces.  Band-keyed salting de-correlates chunk
    boundaries across bands: a cross-chunk pair in one band lands
    within-chunk in another, and the CC pass re-merges the cluster.
    Still fully deterministic and SQL-reproducible (md5 string order on
    both engines).
    """
    order_col = F.md5(
        F.concat_ws(":", F.col("band").cast("string"), F.col("doc_id"))
    )
    w = Window.partitionBy("band", key).orderBy(order_col, F.col("doc_id"))
    return banded.withColumn(
        "chunk",
        ((F.row_number().over(w) - 1) / F.lit(max_bucket)).cast("long"),
    )


def _capped_self_join(banded: DataFrame, key: str,
                      max_bucket: int) -> DataFrame:
    """Pairs of ``banded`` rows (aliased ``a`` and ``b``, a.doc_id <
    b.doc_id) that share a (band, ``key``) bucket and its
    ``_chunk_capped`` chunk — the candidate join of every banded
    operator, never quadratic in a hot bucket."""
    capped = _chunk_capped(banded, key, max_bucket)
    return (
        capped.alias("a").join(capped.alias("b"), ["band", key, "chunk"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
    )


def bucket_cap_stats(banded: DataFrame, keys: List[str],
                     max_bucket: int) -> DataFrame:
    """Audit table for the bucket cap: one row per oversized bucket with
    the number of cross-chunk candidate pairs the cap drops.  Run it as a
    side output when tuning ``max_bucket`` — silent truncation reads as
    "covered everything" when it didn't."""
    n = F.col("n")
    n_chunks = F.ceil(n / F.lit(max_bucket))
    full_pairs = (n * (n - 1) / 2).cast("long")
    last = n - (n_chunks - 1) * max_bucket
    kept = (
        (n_chunks - 1) * (max_bucket * (max_bucket - 1) // 2)
        + (last * (last - 1) / 2).cast("long")
    )
    return (
        banded.groupBy(*keys).agg(F.count("*").alias("n"))
        .where(n > max_bucket)
        .select(
            *keys, "n",
            (full_pairs - kept).alias("pairs_dropped"),
        )
    )


def minhash_banded(
    wide: DataFrame, rows_per_band: int = MINHASH_ROWS_PER_BAND
) -> DataFrame:
    """(doc_id, band, bucket) rows from the wide signature table: one
    md5 bucket per band over that band's signature slice, in k order —
    NOT via ``collect_list`` (whose post-shuffle ordering is
    nondeterministic at scale: two docs with identical signatures could
    concat in different orders and miss each other).  No shuffle: a
    narrow explode over the wide table.  The one place the banding is
    chosen; exposed for audits (``bucket_cap_stats``) and as the
    ``banded=`` table of every LSH consumer."""
    if len(MINHASH_PARAMS) % rows_per_band:
        raise ValueError(
            f"rows_per_band={rows_per_band} does not divide the "
            f"{len(MINHASH_PARAMS)} minhash permutations evenly"
        )
    n_bands = len(MINHASH_PARAMS) // rows_per_band
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{band * rows_per_band + j}").cast("string")
                        for j in range(rows_per_band)
                    ],
                )
            ).alias("bucket"),
        )
        for band in range(n_bands)
    ]
    return (
        wide.select("doc_id", F.explode(F.array(*band_structs)).alias("bb"))
        .select(
            "doc_id",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
    )


def lsh_candidate_pairs(
    docs: DataFrame, max_bucket: int = 256,
    rows: Optional[DataFrame] = None, wide: Optional[DataFrame] = None,
    banded: Optional[DataFrame] = None,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    Shuffle is on (band, bucket) — tiny keys — then a self-join within
    buckets, chunk-capped at ``max_bucket`` members per join group
    (``_capped_self_join``) so one hot bucket can never go quadratic.
    Returns distinct (doc_a, doc_b) with doc_a < doc_b.

    ``rows``/``wide``/``banded``: precomputed shingle_rows /
    minhash_wide / minhash_banded outputs — in a deployment these are
    materialized shingle, signature and band-bucket tables shared by
    every LSH consumer (pairs, verified-jaccard, clusters); recomputing
    the signature aggregate or the 16-band explode per join branch is
    avoidable cost (and, for banding, avoidable per-query plan
    analysis).
    """
    if banded is None:
        if wide is None:
            wide = minhash_wide(docs, rows=rows)
        banded = minhash_banded(wide)
    return (
        _capped_self_join(banded, "bucket", max_bucket)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _jaccard_kept(pairs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) of the ``pairs`` (doc_a, doc_b, ni, na,
    nb) — ni = |A ∩ B|, na = |A|, nb = |B| — whose Jaccard, rounded to
    4 dp, is >= ``threshold``."""
    jaccard = F.round(
        F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni")), 4
    )
    return (
        pairs.select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _verified_pairs(cands: DataFrame, rows_a: DataFrame, rows_b: DataFrame,
                    threshold: float) -> DataFrame:
    """Exact hashed-shingle Jaccard check of the candidate pairs
    ``cands`` (doc_a, doc_b): doc_a's set is its (doc_id, h) rows in
    ``rows_a``, doc_b's in ``rows_b`` (distinct shingle_rows) ->
    ``_jaccard_kept``.  Shuffles: two (doc, h) joins bounded by the
    candidate set, plus the per-doc set sizes — never corpus-quadratic;
    a false candidate costs one join row, never a wrong pair."""
    def sizes(rows, side):
        return rows.groupBy(F.col("doc_id").alias(f"doc_{side}")).agg(
            F.count("*").alias(f"n{side}")
        )

    inter = (
        cands.join(rows_a.select(F.col("doc_id").alias("doc_a"), "h"),
                   "doc_a")
        .join(rows_b.select(F.col("doc_id").alias("doc_b"), "h"),
              ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ni"))
    )
    return _jaccard_kept(
        inter.join(sizes(rows_a, "a"), "doc_a")
        .join(sizes(rows_b, "b"), "doc_b"),
        threshold,
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5,
    block_chars: int = 16, rows: Optional[DataFrame] = None,
) -> DataFrame:
    """Near-dup pairs by shingle Jaccard within cheap length blocks.

    Blocking key = n_chars // block_chars, matched against the SAME and
    ADJACENT blocks: near-identical docs have near-identical lengths, so
    the join never goes quadratic in the corpus — but two 0.9-Jaccard
    docs of lengths 159 and 161 straddle a block boundary, so each doc's
    rows are emitted at keys {blk, blk+1} and a pair is kept only at
    ``greatest(blk_a, blk_b)`` (each cross/same-block pair meets at
    exactly one key — no double-counted intersections).
    """
    # hs and the block key come from ONE projection over the scan (the
    # previous shape joined two scans of the same table on doc_id — a
    # full extra shuffle); the round-robin exchange then materializes hs
    # once, and the self-join's two sides reuse it (ReusedExchange).
    # |A∩B| via shingle rows + equi-join on (blk, hash) + count — the
    # whole hot loop is JVM codegen (window, hash join, hash agg).  A
    # per-pair array_intersect looks cheaper on paper but runs
    # interpreted (higher-order fn), measured ~540us/pair = 25x this.
    # Distinct-set sizes ride along in the rows, so no extra join; the
    # per-doc window count (computed BEFORE the 2x block emit) reuses the
    # shingle window's partitioning.
    oblk = (F.length("text") / block_chars).cast("long").alias("oblk")
    if rows is not None:
        # Shared DISTINCT shingle table: attach the length-block key with
        # one doc_id join (the rows keep hash(doc_id) partitioning, so
        # only the tiny (doc_id, oblk) projection shuffles) instead of
        # re-running tokenize+window+md5+distinct.
        rows = rows.join(docs.select("doc_id", oblk), "doc_id")
    else:
        blocked = docs.withColumn("oblk", oblk)
        rows = shingle_rows(blocked, keep=("oblk",), distinct=True)
    ex = (
        rows.withColumn(
            "nd", F.count("*").over(Window.partitionBy("doc_id"))
        )
        .withColumn(
            "blk",
            F.explode(F.array(F.col("oblk"), F.col("oblk") + F.lit(1))),
        )
    )
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(b, ["blk", "h"])
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("blk") == F.greatest(F.col("a.oblk"), F.col("b.oblk")))
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count("*").alias("ni"),
            F.first("a.nd").alias("na"),
            F.first("b.nd").alias("nb"),
        )
    )
    return _jaccard_kept(pairs, threshold)


def jaccard_lsh_verified(
    docs: DataFrame, threshold: float = 0.5, max_bucket: int = 256,
    rows: Optional[DataFrame] = None, wide: Optional[DataFrame] = None,
    banded: Optional[DataFrame] = None,
) -> DataFrame:
    """Near-dup pairs: LSH banding proposes candidates, exact shingle
    Jaccard verifies them (``_verified_pairs``) — the at-scale default
    for corpus-wide near-dup pair mining.

    ``ngram_jaccard_pairs`` is exact but blocks on LENGTH, so its
    (blk, h) self-join output grows with block density: at web scale a
    16-char length block holds millions of docs and every shared
    frequent shingle becomes join output.  Here the join fan-out is
    bounded by the LSH candidate set (true-near-dup density,
    chunk-capped), independent of how many docs share a length.
    Recall is the banding's (MINHASH_BANDS x MINHASH_ROWS_PER_BAND =
    16 x 2): P(candidate | J=t) = 1-(1-t^2)^16 — 0.99 at t=0.5, ~1.0
    above 0.7; measured on engineered BORDERLINE pairs (J 0.51-0.67,
    synth.borderline_text) by tests/test_borderline.py and the
    td_lsh_recall_borderline driver query, plus 100% agreement with
    the exact operator at sf0.1 (PLANS.md, "Round 3: jaccard A/B/C").
    """
    if rows is None:
        rows = shingle_rows(docs, distinct=True)
    cands = lsh_candidate_pairs(
        docs, max_bucket, rows=rows, wide=wide, banded=banded
    )
    return _verified_pairs(cands, rows, rows, threshold)


def dup_clusters(
    docs: DataFrame, max_bucket: int = 256,
    max_iter: int = 25, checkpoint_dir: Optional[str] = None,
    stats: Optional[dict] = None, rows: Optional[DataFrame] = None,
    wide: Optional[DataFrame] = None, banded: Optional[DataFrame] = None,
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the LSH
    candidate-pair graph, cluster_id = min doc_id in the component.

    The grouping operator a dedup pipeline actually keeps ("pick one
    doc per near-dup cluster") — pairs alone don't compose: A~B and
    B~C must land A, B, C in one cluster even if A~C was never a
    candidate pair.

    Delegates to ``connected_components`` (min-label propagation with
    pointer jumping) over the LSH candidate graph.
    """
    edges = lsh_candidate_pairs(
        docs, max_bucket, rows=rows, wide=wide, banded=banded
    )
    return connected_components(
        docs.select("doc_id").distinct(), edges,
        max_iter=max_iter, checkpoint_dir=checkpoint_dir, stats=stats,
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 25,
    checkpoint_dir: Optional[str] = None, stats: Optional[dict] = None,
) -> DataFrame:
    """Connected components: (doc_id, cluster_id=min doc_id reachable).

    ``nodes``: one doc_id per row; ``edges``: (doc_a, doc_b) pairs.

    Iterative min-label propagation (the standard large-graph CC under
    a hash-partitioned join engine, cf. GraphX/GraphFrames): each
    round every node takes the min label over itself and its
    neighbors, then pointer-jumps (lbl -> lbl(lbl)), so label chains
    halve per round — O(log diameter) rounds.  The loop is
    driver-side but each round is one distributed join + aggregate on
    doc_id keys; the loop EXITS on a converged count.  Near-dup
    components are overwhelmingly cliques or tight clusters (diameter
    1-3), so rounds stay in single digits; ``max_iter`` is a safety
    rail (raises if ever hit, rather than returning wrong clusters).
    ``stats`` (optional dict) records the round count under "rounds".
    """
    # Eager checkpoints (not persist/unpersist): iterative loops over
    # cached-plan chains degrade round over round — unpersisting a
    # round's parents invalidates/recompiles dependent cache entries
    # and the lineage re-executes from the source (measured: rounds of
    # 2s -> 30s -> 75s).  Checkpointing materializes each round's
    # labels and CUTS the plan, so every round's cost is flat.
    #
    # ``checkpoint_dir=None`` (default) uses localCheckpoint() —
    # fastest, but round state lives on executors, so an executor loss
    # kills the job.  At deployment scale pass a (DFS) directory:
    # rounds then write RELIABLE checkpoints that survive executor
    # loss.  The algorithm is identical either way.
    if checkpoint_dir is not None:
        nodes.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        _ckpt = lambda df: df.checkpoint()  # noqa: E731 — eager
    else:
        _ckpt = lambda df: df.localCheckpoint()  # noqa: E731
    sym = _ckpt(
        edges.select("doc_a", "doc_b").union(
            edges.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
    )
    labels = _ckpt(nodes.withColumn("lbl", F.col("doc_id")))
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # neighbor labels: for each edge (a, b), b's current label
        nbr = (
            sym.join(
                labels.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("lbl").alias("nlbl"),
                ),
                "doc_b",
            )
            .groupBy("doc_a")
            .agg(F.min("nlbl").alias("nmin"))
        )
        relaxed = (
            labels.join(
                nbr.select(F.col("doc_a").alias("doc_id"), "nmin"),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nmin"), F.col("lbl"))
                ).alias("lbl"),
            )
            .transform(_ckpt)  # read twice by the jump self-join below
        )
        # pointer jumping: follow lbl -> lbl(lbl) so label chains halve
        # per round — O(log diameter) rounds instead of O(diameter),
        # which matters for chain-shaped near-dup components.  NOTE the
        # fully-qualified self-join refs: an unqualified join key on a
        # self-joined frame silently resolves both sides to the SAME
        # column (trivially-true condition -> cross product).
        x = relaxed.alias("x")
        y = relaxed.alias("y")
        new_labels = (
            x.join(y, F.col("x.lbl") == F.col("y.doc_id"), "left")
            .select(
                F.col("x.doc_id").alias("doc_id"),
                F.least(
                    F.col("x.lbl"),
                    F.coalesce(F.col("y.lbl"), F.col("x.lbl")),
                ).alias("lbl"),
            )
            .transform(_ckpt)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("doc_id", F.col("lbl").alias("cluster_id"))


SIMHASH_BITS = 32


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over the distinct token set.

    One explode + map-side-combinable groupBy(doc_id): each token votes
    +1/-1 per bit position of its 32-bit hash; the sign vector packs into
    an integer.  32 bits (not 16) so the Hamming-band pairing below gets
    8-bit bands — 256-way spread per band instead of 16.
    """
    words = docs.select(
        "doc_id",
        F.explode(F.expr("array_distinct(split(text, ' '))")).alias("w"),
    ).withColumn("h", F.expr(_h("w")))
    votes = [
        F.sum(
            F.expr(f"CASE WHEN (shiftright(h, {j}) % 2) = 1 THEN 1 ELSE -1 END")
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = words.groupBy("doc_id").agg(*votes)
    packed = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        packed = bit if packed is None else packed + bit
    return agg.select("doc_id", packed.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, max_bucket: int = 256,
    sig: Optional[DataFrame] = None,
) -> DataFrame:
    """Near-dup pairs at SimHash Hamming distance <= ``max_hamming``.

    The pigeonhole banding trick keeps it bucketed: split the 32-bit
    signature into ``max_hamming + 1`` bands — any pair within Hamming
    ``max_hamming`` agrees EXACTLY on at least one whole band, so
    candidates = docs sharing (band, band_value), verified with an exact
    ``bit_count(xor)``.  Complete recall over the signature space, never
    corpus-quadratic; hot band-buckets are chunk-capped like LSH
    (``_chunk_capped``).  Shuffle keys are (band:int, value:int) — tiny.

    Each pair is emitted at exactly its LOWEST agreeing band (both
    signatures are on the joined row, so "no band below this one also
    agrees" is pure bit math) — output is unique by construction, so
    the pair set needs NO distinct/shuffle.  Same one-key-counts trick
    as the jaccard b±1 blocks.  In over-cap buckets this reads as: a
    pair is found iff it is co-chunked at its lowest agreeing band
    (the per-band salted chunking makes that a fresh draw per band).
    """
    n_bands = max_hamming + 1
    width = SIMHASH_BITS // n_bands
    if sig is None:
        # precomputed simhash table (see ``wide`` on lsh_candidate_pairs)
        sig = simhash(docs)
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.shiftright(F.col("simhash"), band * width).bitwiseAND(
                F.lit((1 << width) - 1)
            ).alias("bval"),
        )
        for band in range(n_bands)
    ]
    banded = sig.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        "doc_id", "simhash",
        F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"),
    )
    mask = (1 << width) - 1
    lowest_band = F.expr(
        " AND ".join(
            f"(band <= {j} OR (shiftright(a.simhash ^ b.simhash, "
            f"{j * width}) & {mask}) != 0)"
            for j in range(n_bands - 1)
        )
    )
    return (
        _capped_self_join(banded, "bval", max_bucket)
        .where(lowest_band)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("long")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def line_dedup(
    docs: DataFrame, min_repeat: int = 3, sep: str = "\n"
) -> DataFrame:
    """Corpus-level boilerplate-line removal (the C4/RefinedWeb rule
    family): a line whose exact text occurs in >= ``min_repeat``
    DISTINCT documents is boilerplate (cookie banners, nav crumbs,
    legal footers that survived page-local extraction because every
    page "legitimately" contains them) — ALL its occurrences are
    dropped, and each document's surviving lines are reassembled in
    original order.

    -> (doc_id, clean_text, n_kept_lines, n_dropped_lines).

    Shape at scale: one shuffle keyed on md5(line) for the global
    distinct-doc counts (narrow hex keys, never the line text), an
    anti-join of the line rows against the (small) over-threshold key
    set, and one doc_id aggregation for the ordered reassembly
    (collect_list(struct(pos, line)) + array_sort — deterministic, the
    same trick as html.main_text).  ``sep`` is a split REGEX and also
    the rejoin separator, so keep it a literal character."""
    base = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), sep, -1)).cast("long").alias("n_lines"),
    )
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), sep, -1)).alias("pos", "line"),
    ).withColumn("lh", F.md5("line"))
    common = (
        lines.groupBy("lh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_repeat)
        .select("lh")
    )
    kept = lines.join(common, "lh", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_kept_lines"),
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("n_kept_lines"), F.lit(0))
        .cast("long")
        .alias("n_kept_lines"),
        (F.col("n_lines") - F.coalesce(F.col("n_kept_lines"), F.lit(0)))
        .cast("long")
        .alias("n_dropped_lines"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    min_overlap: int = 5,
    rows: Optional[DataFrame] = None,
) -> DataFrame:
    """Benchmark decontamination: per-document count of distinct
    shingle hashes shared with an evaluation set — the train/test
    overlap scrub every serious training corpus runs before shipping.

    Returns every corpus document as (doc_id, n_overlap, contaminated)
    with ``contaminated = n_overlap >= min_overlap``; the caller
    anti-joins flagged docs out (reported rather than silently dropped,
    so overlap statistics are auditable).

    Scale shape: the benchmark side is an EVAL SET — thousands of
    documents against 10^12 — so its distinct shingle hashes broadcast
    and the corpus NEVER shuffles for the membership probe; the only
    corpus-keyed operation is the per-doc overlap count, which reuses
    the shingle table's hash(doc_id) partitioning (no new exchange).
    ``rows``: the shared distinct (doc_id, h) shingle table
    (queries._shingle_rows_table) — the same materialized rows every
    MinHash/LSH/Jaccard operator consumes.
    """
    from pyspark.sql.functions import broadcast

    bench_h = shingle_rows(benchmark).select("h").distinct()
    corpus_rows = (
        rows if rows is not None else shingle_rows(docs, distinct=True)
    )
    overlap = (
        corpus_rows.join(broadcast(bench_h), "h")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    return (
        docs.select("doc_id")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_overlap"), F.lit(0))
            .cast("long")
            .alias("n_overlap"),
            (
                F.coalesce(F.col("n_overlap"), F.lit(0))
                >= F.lit(int(min_overlap))
            ).alias("contaminated"),
        )
    )


SUBSTR_K = 5  # dup-span k-gram width (tokens)


def _h60(col_expr: str) -> str:
    """SQL: 60-bit integer hash of a string via md5 prefix (15 hex
    chars) — the wider variant of ``_h`` for corpus-global k-gram keys,
    where 32 bits would birthday-collide at realistic gram counts."""
    return f"cast(conv(substring(md5({col_expr}), 1, 15), 16, 10) as bigint)"


def substring_dedup(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """Exact substring (duplicated-span) deduplication — the k-gram-hash
    formulation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    public): a k-token span whose exact text occurs in >= 2 DISTINCT
    documents is a duplicated span; every token position it covers is
    marked, and each document's surviving tokens are reassembled in
    original order.

    -> (doc_id, n_tokens, dup_tokens, clean_text).  Unlike document- or
    line-level dedup this removes the copied REGION only (quote farms,
    syndicated paragraphs, licence blocks) and keeps the rest of the
    document.  Cross-document occurrences only: a span repeated within
    a single document is repetition (see ``analysis.repetition_stats``),
    not corpus duplication.

    Shape at scale: the suffix array of the original paper is a global
    sort the cluster can't stream; hashing every k-gram instead needs
    ONE shuffle keyed on the 60-bit gram hash for the global min/max
    doc_id (map-side combinable — never count_distinct), a join of the
    gram rows against the (true-dup-density-bounded) over-threshold
    key set, and one doc_id aggregation for the ordered reassembly
    (collect_list(struct(pos, tok)) + array_sort, the line_dedup
    trick).  The gram build is shingle_rows' ``_gram_rows`` at width
    ``k`` with the 60-bit ``_h60`` — codegen end-to-end, the window's
    doc_id partitioning reused by the final aggregation.
    60-bit hashes keep the shuffle narrow; at 10^12-gram scale accept
    the ~birthday collision count or verify survivors against the gram
    text (one extra bucket-local join) — documented, not silent.

    The gram subtree is deliberately built TWICE (once under the global
    aggregate, once under the covered-position join) rather than shared
    through a ``Window.partitionBy(h)`` single pass: common k-grams
    ("of the end of the") are web-scale hot keys, and only the groupBy
    form crushes them map-side before the exchange — the window form
    lands every occurrence of a hot gram on one reducer.  The duplicate
    cost is narrow codegen CPU; the shuffle volume is identical."""
    kg = _gram_rows(docs, k, _h60)
    dup_h = (
        kg.groupBy("h")
        .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
        .where(F.col("_lo") != F.col("_hi"))
        .select("h")
    )
    covered = (
        kg.join(dup_h, "h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("cpos"),
        )
        .dropDuplicates(["doc_id", "cpos"])
        .withColumnRenamed("doc_id", "cdoc")
    )
    flagged = _tokens(docs).join(
        covered,
        (F.col("doc_id") == F.col("cdoc")) & (F.col("pos") == F.col("cpos")),
        "left",
    ).select(
        "doc_id", "pos", "tok", F.col("cpos").isNotNull().alias("is_dup")
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.col("is_dup").cast("long")).cast("long").alias("dup_tokens"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok", "is_dup"))
                    ),
                    lambda s: ~s["is_dup"],
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )


def index_bucket_reps(
    index_banded: DataFrame, max_bucket: int = 256
) -> DataFrame:
    """Cap the frozen index's band-bucket table at ``max_bucket``
    representatives per (band, bucket): the ``_chunk_capped`` chunk-0
    rows, i.e. the first ``max_bucket`` in the same band-salted md5
    order — the incremental-dedup dual of the chunked self-join.  A
    boilerplate bucket holding millions of index docs would make every
    arriving doc that lands in it join-fan-out by the full bucket.  The
    cap bounds that fan-out at a cost in recall: new docs are verified
    against the reps only, so when a bucket overflows ``max_bucket`` a
    new doc whose true near-dup was not kept as a rep in any bucket they
    share is NOT flagged, and a flagged doc's ``dup_of`` can name a rep
    rather than its true best match.  Buckets within the cap lose
    nothing.  Audit: ``bucket_cap_stats(index_banded, ["band",
    "bucket"], max_bucket)`` lists exactly the truncated buckets, each
    dropping ``n - max_bucket`` index docs.  A deployment materializes
    this table once per index build; it is strictly smaller than the
    full band table."""
    return (
        _chunk_capped(index_banded, "bucket", max_bucket)
        .where(F.col("chunk") == 0)
        .drop("chunk")
    )


def dedup_against_index(
    new_docs: DataFrame,
    index_docs: DataFrame,
    threshold: float = 0.5,
    max_bucket: int = 256,
    index_banded: Optional[DataFrame] = None,
    index_rows: Optional[DataFrame] = None,
    new_banded: Optional[DataFrame] = None,
    new_rows: Optional[DataFrame] = None,
) -> DataFrame:
    """Incremental near-dup dedup: flag each NEW document that
    near-duplicates a FROZEN, already-ingested index -> (doc_id,
    dup_of, jaccard), one row per flagged new doc with its best index
    match (max Jaccard, dup_of tie-break).  The production crawl-update
    shape: the index's band-bucket and shingle tables are materialized
    artifacts (pass ``index_banded``/``index_rows``); a new snapshot
    pays only ITS OWN signatures + a join against the bucket-capped
    index reps + exact verification on the candidate set — never a
    corpus x corpus comparison, and the index is never recomputed.

    Recall is the banding's 1-(1-t^2)^16 (same 16x2 config as
    ``lsh_candidate_pairs``); verification is ``_verified_pairs``, so
    false candidates cost one join row, never a wrong flag.  Shuffles:
    new-side signature aggregate (new-snapshot-sized), the (band,
    bucket) candidate join, and two (doc, h) verification joins bounded
    by candidate density."""
    if index_rows is None:
        index_rows = shingle_rows(index_docs, distinct=True)
    if index_banded is None:
        index_banded = minhash_banded(minhash_wide(index_docs))
    if new_rows is None:
        new_rows = shingle_rows(new_docs, distinct=True)
    if new_banded is None:
        new_banded = minhash_banded(minhash_wide(new_docs, rows=new_rows))
    reps = index_bucket_reps(index_banded, max_bucket)
    cand = (
        new_banded.join(
            reps.select("band", "bucket", F.col("doc_id").alias("doc_b")),
            ["band", "bucket"],
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    j = _verified_pairs(cand, new_rows, index_rows, threshold)
    w = Window.partitionBy("doc_a").orderBy(
        F.desc("jaccard"), F.asc("doc_b")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("dup_of"),
            "jaccard",
        )
    )
