"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query
  set against the corpus; one narrow pass + per-query top-k window.  The
  correctness baseline.
* ``lsh_topk`` / ``ivf_topk`` — the same exact rerank, restricted to the
  query's random-hyperplane LSH bucket(s) or nearest IVF cell(s).  The
  scale path: the corpus is hashed/assigned once (narrow), the join
  touches only candidates.
* ``embedding_dup_pairs`` / ``semantic_dup_pairs`` — near-duplicate pairs
  by cosine >= threshold within an LSH bucket or IVF cell, chunk-capped
  so the pair join never goes quadratic.
* ``kmeans_centroids``, ``pq_*``, ``ivf_residuals``, ``ivfpq_topk`` —
  Lloyd's codebooks, product quantization and IVF-PQ search.

Each step these share lives in one private helper: ``_top_k`` (the
per-query rank window), ``_rerank_topk`` (exact cosine rerank),
``_ivf_scored`` over ``_cells`` (nearest-cell assignment),
``_capped_pairs`` (the chunk-capped pair join), ``_adc_topk`` (LUT + ADC
scoring) and ``_lloyd_update`` (Lloyd's mean update).

All vector math is built-in higher-order functions (JVM-side): zip_with +
aggregate for dot products; elements cast to double for deterministic
precision (mirrors DuckDB's list_cosine_similarity on DOUBLE[]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "cast(0.0 as double), (acc, v) -> acc + v)"
)


def _norm(col: str) -> str:
    return f"sqrt({DOT.format(a=col, b=col)})"


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", F.expr(_norm(vec_col)))


def _top_k(
    scored: DataFrame,
    k: int,
    score: str,
    ascending: bool = False,
    part: str = "q_id",
    tie: str = "vec_id",
    keep: tuple = (),
) -> DataFrame:
    """(part, tie, *keep, score, rank): each ``part`` group's best ``k``
    rows by ``score`` (descending unless ``ascending``), ties broken by
    ``tie`` ascending for determinism; rank is a 1-based bigint.  Also
    the rank tail of the text-retrieval operators (``analysis``)."""
    order = F.asc(score) if ascending else F.desc(score)
    w = Window.partitionBy(part).orderBy(order, F.asc(tie))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(part, tie, *keep, score, "rank")
    )


def _rerank_topk(
    corpus: DataFrame, queries: DataFrame, k: int, key: str = None
) -> DataFrame:
    """Exact cosine rerank: each (broadcast) query against every corpus
    row sharing its ``key`` (every row when there is none), itself
    excluded; cos rounded to 4dp, then ``_top_k``.  Both sides carry
    (vec_id, embedding, _norm[, key])."""
    keys = [key] if key else []
    corpus = corpus.select(
        "vec_id", "embedding", F.col("_norm").alias("n_c"), *keys
    )
    queries = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("_norm").alias("n_q"),
        *[F.col(c).alias("q_key") for c in keys],
    )
    on = corpus[key] == queries["q_key"] if key else None
    dot = F.expr(DOT.format(a="q_emb", b="embedding"))
    joined = (
        corpus.join(F.broadcast(queries), on)
        .where(F.col("vec_id") != F.col("q_id"))
        .withColumn("cos", F.round(dot / (F.col("n_c") * F.col("n_q")), 4))
    )
    return _top_k(joined, k, "cos")


def cosine_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors.

    Output: (q_id, vec_id, cos, rank) — cos rounded to 4dp, ties broken
    by vec_id for determinism.
    """
    queries = with_norm(emb.where(F.col("vec_id") < n_queries))
    return _rerank_topk(with_norm(emb), queries, k)


N_HYPERPLANES = 8


def _hyperplane_sketch(vec_col: str) -> str:
    """Sign-bit sketch: hyperplane h has pseudo-random +-1 components
    derived from (h, dim) — deterministic, SQL-reproducible:
    sign = +1 if (dim * (h + 3) + h * 7) % 2 = 0 else -1."""
    bits = []
    for h in range(N_HYPERPLANES):
        proj = (
            f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1), "
            f"(x, d) -> cast(x as double) * IF((d * ({h} + 3) + {h} * 7) % 2 = 0, 1.0, -1.0)), "
            f"cast(0.0 as double), (acc, v) -> acc + v)"
        )
        bits.append(f"IF({proj} > 0, {2 ** h}, 0)")
    return " + ".join(bits)


def lsh_buckets(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return emb.withColumn(
        "bucket", F.expr(_hyperplane_sketch(vec_col)).cast("long")
    )


def hashed_embeddings(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """The signature table: (vec_id, embedding, bucket, _norm).

    The sketch + norm are interpreted higher-order expressions — the
    most expensive per-row work in this module — and every LSH consumer
    (``lsh_topk`` both probe modes, ``embedding_dup_pairs``' counts AND
    both join sides) starts from exactly this projection.  A deployment
    materializes it ONCE per corpus as a bucketed table and shares it;
    callers here pass it via the ``hashed=`` parameter (the analogue of
    dedup's shared shingle-rows table).  Without sharing, a self-join
    consumer recomputes the sketch once per plan branch — 3x for
    ``embedding_dup_pairs`` (measured: the r4 md5-chunk cap made that
    visible as the emb_dup_pairs watch item).
    """
    return with_norm(lsh_buckets(emb, vec_col), vec_col)


N_IVF_CELLS = 16


def _cells(
    emb: DataFrame, n_cells: int, centroids: DataFrame = None
) -> DataFrame:
    """(cell_id, centroid array<double>): the trained codebook
    ``centroids`` (kmeans_centroids output) when given, else the
    deterministic stand-in — the first ``n_cells`` corpus vectors
    (SQL-reproducible in place of a k-means fit; the plan is the same
    either way)."""
    if centroids is not None:
        return centroids.select("cell_id", "centroid")
    return emb.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias(
            "centroid"
        ),
    )


def _ivf_scored(
    emb: DataFrame, n_cells: int, centroids: DataFrame = None
) -> DataFrame:
    """IVF coarse quantization: (vec_id, embedding, _norm, cell_id, rn)
    — every vector scored against every ``_cells`` centroid, rn =
    1-based nearest-cell rank (cosine descending, lowest cell_id on
    ties); ``rn = 1`` is the vector's cell.  Broadcast centroids + one
    narrow rank window; no corpus shuffle."""
    cents = _cells(emb, n_cells, centroids).withColumn(
        "n_cent", F.expr(_norm("centroid"))
    )
    dot = F.expr(DOT.format(a="embedding", b="centroid"))
    scored = with_norm(emb).join(F.broadcast(cents)).withColumn(
        "c_cos", dot / (F.col("_norm") * F.col("n_cent"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("c_cos"), F.asc("cell_id")
    )
    return scored.withColumn("rn", F.row_number().over(w)).select(
        "vec_id", "embedding", "_norm", "cell_id", "rn"
    )


def ivf_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5,
    n_cells: int = N_IVF_CELLS, n_probe: int = 1,
    centroids: DataFrame = None,
) -> DataFrame:
    """Approximate top-k: exact rerank within the query's ``n_probe``
    nearest IVF cells.  Multi-probe recovers most single-probe recall
    loss at the cost of probing n_probe buckets per query — the
    candidate set stays bucketed (never the whole corpus).  Pass
    ``centroids`` (kmeans_centroids output) to search against the
    trained codebook instead of the first-n-vectors stand-in."""
    scored = _ivf_scored(emb, n_cells, centroids=centroids)
    queries = scored.where(
        (F.col("vec_id") < n_queries) & (F.col("rn") <= n_probe)
    )
    return _rerank_topk(
        scored.where(F.col("rn") == 1), queries, k, key="cell_id"
    )


def _lloyd_update(
    assigned: DataFrame, keys: tuple, vec: str, round_dp: int
) -> DataFrame:
    """Lloyd's mean update: (*keys, centroid) = the component-wise mean
    of the ``vec`` arrays assigned to each ``keys`` cell, every
    component rounded to ``round_dp`` so successive iterations operate
    on identical values in any engine.  The posexploded components
    aggregate on (*keys, pos) with map-side partial combine, so each
    task exchanges at most cells x dim partial rows — bytes, not the
    corpus.  A cell that captures no vectors drops out (classic
    Lloyd's; deterministic, identical in the SQL oracle)."""
    means = (
        assigned.select(*keys, F.posexplode(vec).alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(
            F.round(F.avg(F.col("x").cast("double")), round_dp).alias("m")
        )
    )
    return means.groupBy(*keys).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, m))), s -> s.m)"
        ).alias("centroid")
    )


def kmeans_centroids(
    emb: DataFrame,
    n_cells: int = N_IVF_CELLS,
    n_iters: int = 2,
    round_dp: int = 6,
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column — a REAL
    trained codebook for IVF coarse quantization (upgrades the
    first-n-vectors stand-in; spherical variant: max-cosine assignment,
    per-cell component mean update).

    Deterministic and SQL-reproducible by construction:
    * init = the first ``n_cells`` corpus vectors,
    * assignment ranks ``round(cos, round_dp)`` descending with
      ``cell_id`` ascending tie-break (FP summation-order noise is
      ~1e-15 — nine orders below the rounding step),
    * updated centroid components are ``round()``ed (``_lloyd_update``).

    Per iteration the ENTIRE centroid set rides as one broadcast array
    row and the argmax assignment is a pure projection (transform
    scores -> fold to best) — the corpus NEVER moves: no window, no
    per-vector shuffle (a Window.partitionBy(vec_id) form was plan-
    audited at a full corpus exchange per iteration and rejected,
    PLANS.md r4).  At web scale k-means training additionally runs over
    a deterministic hash sample (analysis.hash_sample) and the codebook is
    reused corpus-wide.

    Returns ``(cell_id, centroid array<double>)``.
    """
    corpus = with_norm(emb).select("vec_id", "embedding", "_norm")
    cents = _cells(emb, n_cells)
    dot = DOT.format(a="embedding", b="c.centroid")
    best_cell = f"""
aggregate(
  transform(cells, c -> named_struct(
    'cell', cast(c.cell_id as bigint),
    'cos', round({dot} / (_norm * c.n_cent), {round_dp}))),
  named_struct('cell', cast(-1 as bigint), 'cos', cast(-2.0 as double)),
  (acc, s) -> IF(s.cos > acc.cos,
                 named_struct('cell', s.cell, 'cos', s.cos), acc)
).cell"""
    # scores are in cell_id-ascending order (array_sort on the struct's
    # leading field), so strict > keeps the LOWEST cell_id on ties —
    # identical to the rank(cos DESC, cell_id ASC) rule the oracle uses.
    for _ in range(n_iters):
        cents_row = (
            cents.withColumn("n_cent", F.expr(_norm("centroid")))
            .agg(
                F.expr(
                    "array_sort(collect_list("
                    "struct(cell_id, centroid, n_cent)))"
                ).alias("cells")
            )
        )
        assigned = corpus.join(F.broadcast(cents_row)).select(
            F.expr(best_cell).alias("cell_id"), "embedding"
        )
        cents = _lloyd_update(assigned, ("cell_id",), "embedding", round_dp)
    return cents


def lsh_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5,
    multi_probe: bool = False, hashed: DataFrame = None,
) -> DataFrame:
    """Approximate top-k: exact rerank within the query's LSH bucket.

    ``multi_probe=True`` additionally probes every bucket at Hamming
    distance 1 from the query's sketch (flip each of the 8 sign bits) —
    the vectors most likely misplaced by a borderline hyperplane
    projection — recovering most single-probe recall loss for 9 bucket
    probes per query instead of 1.  The corpus is still hashed once and
    never shuffled; each corpus vector lives in exactly one bucket, so
    probes never duplicate candidates.

    ``hashed``: a precomputed/shared ``hashed_embeddings(emb)`` table;
    when given, ``emb`` is ignored and the sketch is not recomputed.
    """
    if hashed is None:
        hashed = hashed_embeddings(emb)
    queries = hashed.where(F.col("vec_id") < n_queries)
    if multi_probe:
        bucket = F.col("bucket")
        queries = queries.withColumn("bucket", F.explode(F.array(
            bucket,
            *[bucket.bitwiseXOR(F.lit(1 << h)) for h in range(N_HYPERPLANES)],
        )))
    return _rerank_topk(hashed, queries, k, key="bucket")


def _capped_pairs(
    keyed: DataFrame, key: str, threshold: float, max_bucket: int
) -> DataFrame:
    """(id_a, id_b, cos): pairs of ``keyed`` rows (vec_id, embedding,
    _norm, key) in the same ``key`` group and md5 chunk, id_a < id_b,
    with round(cos, 4) >= threshold.

    A degenerate group (zero vectors, a boilerplate embedding repeated
    across a crawl) would make the within-group join quadratic, so a
    group of n rows splits into ceil(n / ``max_bucket``) chunks by
    ``md5(vec_id)`` and pairs form only within a chunk — worst-group
    cost drops from C(n,2) to ~(n/cap)·C(cap,2); groups at or under the
    cap keep one chunk, i.e. are untouched.  Chunks come from per-group
    COUNTS (tiny, broadcast) — NOT a rank window: partitionBy(key)
    ranking would shuffle AND sort the full embedding arrays (measured
    2.6x the query).  The md5 chunk is deterministic and
    SQL-reproducible."""
    counts = keyed.groupBy(key).agg(F.count("*").alias("_n"))
    chunk = F.expr(
        "cast(conv(substring(md5(cast(vec_id as string)), 1, 8), 16, 10) "
        "as bigint)"
    ) % F.ceil(F.col("_n") / F.lit(max_bucket))
    chunked = (
        keyed.join(F.broadcast(counts), key)
        .withColumn("chunk", chunk)
        .drop("_n")
    )
    a, b = (
        chunked.select(
            F.col("vec_id").alias(f"id_{s}"),
            F.col("embedding").alias(f"emb_{s}"),
            F.col("_norm").alias(f"n_{s}"),
            key, "chunk",
        )
        for s in "ab"
    )
    dot = F.expr(DOT.format(a="emb_a", b="emb_b"))
    return (
        a.join(b, [key, "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(dot / (F.col("n_a") * F.col("n_b")), 4))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semantic_dup_pairs(
    emb: DataFrame, threshold: float = 0.9, n_cells: int = N_IVF_CELLS,
    centroids: DataFrame = None, max_bucket: int = 256,
) -> DataFrame:
    """Semantic near-dup candidate pairs: cosine >= threshold WITHIN a
    vector's (trained) k-means cell — the SemDeDup shape (Abbas et al.
    2023, public): cluster with a coarse codebook, then compare only
    inside a cluster, so the candidate space is corpus x cell-size,
    never corpus x corpus.

    Same scale guards as ``embedding_dup_pairs`` (``_capped_pairs``):
    per-cell counts are tiny (<= n_cells rows, broadcast) and oversized
    cells split into deterministic md5 chunks of ~``max_bucket``.  Pass
    ``centroids`` (kmeans_centroids output) to pair within the trained
    codebook's cells; default = the deterministic first-n-vectors
    stand-in.
    """
    assigned = _ivf_scored(emb, n_cells, centroids=centroids).where(
        F.col("rn") == 1
    )
    return _capped_pairs(assigned, "cell_id", threshold, max_bucket)


def semantic_dedup(
    emb: DataFrame, threshold: float = 0.9, n_cells: int = N_IVF_CELLS,
    centroids: DataFrame = None, max_bucket: int = 256,
    max_iter: int = 25, stats: dict = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over the embedding column:
    (vec_id, cluster_id, is_rep) where cluster_id = min vec_id of the
    vector's within-cell near-dup component and a vector survives the
    dedup iff ``is_rep``.

    Composition of audited stages: trained-cell assignment (broadcast
    argmax — corpus never shuffles), chunk-capped within-cell pairs
    (``semantic_dup_pairs``), then the same pointer-jumping
    connected-components used by text dup_clusters (O(log diameter)
    rounds, each one join + aggregate on id keys).  Pairs alone don't
    compose — A~B and B~C must land one representative even when A~C
    was never scored.
    """
    from . import dedup

    pairs = semantic_dup_pairs(
        emb, threshold=threshold, n_cells=n_cells,
        centroids=centroids, max_bucket=max_bucket,
    )
    nodes = emb.select(F.col("vec_id").alias("doc_id")).distinct()
    edges = pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    cc = dedup.connected_components(
        nodes, edges, max_iter=max_iter, stats=stats
    )
    return cc.select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_rep"),
    )


def embedding_dup_pairs(
    emb: DataFrame, threshold: float = 0.95, max_bucket: int = 256,
    hashed: DataFrame = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold), LSH-bucketed
    and chunk-capped per bucket (``_capped_pairs``; per-bucket counts
    are ≤ 2^N_HYPERPLANES rows).

    ``hashed``: a precomputed/shared ``hashed_embeddings(emb)`` table.
    This query's plan scans the signature projection THREE times
    (counts + both join sides); without a shared table each scan
    re-evaluates the interpreted sketch over the corpus.
    """
    if hashed is None:
        hashed = hashed_embeddings(emb)
    return _capped_pairs(hashed, "bucket", threshold, max_bucket)


# ---------------------------------------------------------------------------
# product quantization (PQ): subspace codebooks + ADC search
# ---------------------------------------------------------------------------
#
# The classic memory-bound ANN compression (Jegou et al. 2011, "Product
# Quantization for Nearest Neighbor Search"): split each D-dim vector
# into M contiguous subvectors, train an independent k-codeword
# codebook per subspace (Lloyd's, L2), and store each vector as M small
# integer codes.  Search is Asymmetric Distance Computation (ADC): the
# raw query builds an M x K lookup table of squared subspace distances
# once, and every database vector's approximate distance is M table
# lookups — no float math per candidate.  At 10^12 vectors the codes
# table is ~M bytes/vector (vs 4D), the codebook and per-query LUTs are
# kilobytes riding a broadcast, and both training and assignment keep
# the corpus stationary (same discipline as ``kmeans_centroids``: the
# only exchanges are the (sub_id, code, pos) mean updates — bytes).
#
# Determinism mirrors the k-means contract so a SQL oracle reproduces
# it bit-for-bit: init = subvectors of the first K corpus vectors,
# assignment ranks round(L2, 6) ascending with lowest-code tie-break,
# centroid components round to 6dp between iterations, LUT entries
# round to 6dp and ADC sums round to 4dp.

N_PQ_SUBS = 4
N_PQ_CODES = 8

_SUBVECS = (
    "transform(sequence(0, {m1}), s -> "
    "slice(transform({vec}, x -> cast(x as double)), "
    "s * (size({vec}) div {m}) + 1, size({vec}) div {m}))"
)

_SUB_D2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "cast(0.0 as double), (a2, v) -> a2 + v)"
)


def _pq_subvecs_expr(n_subs: int, vec_col: str = "embedding") -> str:
    return _SUBVECS.format(m1=n_subs - 1, m=n_subs, vec=vec_col)


def _pq_subvec_rows(emb: DataFrame, n_subs: int) -> DataFrame:
    """(vec_id, sub_id bigint, sv): one narrow row per subvector."""
    return emb.select(
        "vec_id",
        F.posexplode(F.expr(_pq_subvecs_expr(n_subs))).alias(
            "sub_id", "sv"
        ),
    ).select(
        "vec_id", F.col("sub_id").cast("long").alias("sub_id"), "sv"
    )


def _pq_cells_row(codebook: DataFrame) -> DataFrame:
    """The whole codebook as ONE broadcastable row, code-ascending (so
    a strict-< fold keeps the LOWEST code on rounded-distance ties —
    identical to the oracle's rank(d ASC, code ASC))."""
    return codebook.select(
        "sub_id", "code", F.col("centroid").alias("c")
    ).agg(
        F.expr(
            "array_sort(collect_list(struct(sub_id, code, c)))"
        ).alias("cells")
    )


def _pq_best_code(sub_ref: str, sv_ref: str, round_dp: int) -> str:
    """Min-distance fold over this subspace's codewords (projection)."""
    d2 = _SUB_D2.format(a=sv_ref, b="cb.c")
    return f"""
aggregate(
  transform(filter(cells, cb -> cb.sub_id = {sub_ref}),
            cb -> named_struct(
                'd', round(sqrt({d2}), {round_dp}),
                'code', cb.code)),
  named_struct('d', cast('Infinity' as double),
               'code', cast(-1 as bigint)),
  (acc, t) -> IF(t.d < acc.d, t, acc)
)"""


def pq_train(
    emb: DataFrame,
    n_subs: int = N_PQ_SUBS,
    n_codes: int = N_PQ_CODES,
    n_iters: int = 2,
    round_dp: int = 6,
) -> DataFrame:
    """Train the M-subspace PQ codebook (Lloyd's per subspace, run for
    all subspaces simultaneously with sub_id as a grouping key).

    Per iteration the corpus subvector table is a narrow posexplode
    (M rows per vector, no exchange), the whole codebook rides as one
    broadcast row, and the argmin assignment is a pure projection; the
    only shuffles are the (sub_id, code, pos) mean aggregations
    (``_lloyd_update``) — M x K x (D/M) = D x K partial rows per task,
    bytes at any corpus size.  At web scale train over a deterministic
    ``hash_sample`` and reuse the codebook corpus-wide (same note as
    kmeans_centroids).

    The codebook is seeded from the subvectors of the first
    ``n_codes`` vec_ids of ``emb`` (code = that vec_id).  Returns
    ``(sub_id, code, centroid array<double>)``.  A codeword that
    captures no subvectors drops out (classic Lloyd's; identical in the
    SQL oracle).
    """
    sv = _pq_subvec_rows(emb, n_subs)
    seeds = emb.select("vec_id").orderBy("vec_id").limit(n_codes)
    cents = sv.join(F.broadcast(seeds), "vec_id").select(
        "sub_id",
        F.col("vec_id").alias("code"),
        F.col("sv").alias("centroid"),
    )
    best = _pq_best_code("sub_id", "sv", round_dp) + ".code"
    for _ in range(n_iters):
        assigned = sv.join(F.broadcast(_pq_cells_row(cents))).select(
            "sub_id", F.expr(best).alias("code"), "sv"
        )
        cents = _lloyd_update(assigned, ("sub_id", "code"), "sv", round_dp)
    return cents


def pq_assign(
    emb: DataFrame,
    codebook: DataFrame,
    n_subs: int = N_PQ_SUBS,
    round_dp: int = 6,
    keep: tuple = (),
) -> DataFrame:
    """Encode every vector as M codes in ONE projection — no explode,
    no shuffle: (vec_id, codes array<bigint> ordered by sub_id).  This
    is the table a deployment persists (M bytes/vector instead of the
    raw floats) and every ADC consumer scans.  ``keep`` names extra
    input columns to carry through (e.g. the IVF cell_id)."""
    best = _pq_best_code("s", "svs[cast(s as int)]", round_dp) + ".code"
    codes = (
        f"transform(sequence(0, {n_subs - 1}), s -> {best})"
    )
    return (
        emb.withColumn("svs", F.expr(_pq_subvecs_expr(n_subs)))
        .join(F.broadcast(_pq_cells_row(codebook)))
        .select("vec_id", *keep, F.expr(codes).alias("codes"))
    )


def pq_codes(
    emb: DataFrame,
    codebook: DataFrame = None,
    n_subs: int = N_PQ_SUBS,
    n_codes: int = N_PQ_CODES,
    n_iters: int = 2,
    round_dp: int = 6,
) -> DataFrame:
    """The exploded scalar view of ``pq_assign`` — one row per
    (vec_id, sub_id, code), all BIGINT (the oracle-comparable shape;
    trains the codebook first if one isn't supplied)."""
    if codebook is None:
        codebook = pq_train(emb, n_subs, n_codes, n_iters, round_dp)
    return (
        pq_assign(emb, codebook, n_subs, round_dp)
        .select("vec_id", F.posexplode("codes").alias("sub_id", "code"))
        .select(
            "vec_id", F.col("sub_id").cast("long").alias("sub_id"), "code"
        )
    )


def _adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int,
    n_subs: int,
    round_dp: int,
    probe: tuple = (),
) -> DataFrame:
    """ADC top-k: (q_id, vec_id, adist, rank).  Each query (vec_id,
    embedding, *probe) is scored against the codebook ONCE — the M x K
    LUT of squared subspace distances, rounded to ``round_dp`` — and
    all queries ride one broadcast row.  Every ``codes`` row (vec_id,
    *probe, codes) that shares the query's ``probe`` columns, the query
    itself excluded, then scores as a filter+sum over its codes' LUT
    entries (adist, 4dp): zero vector math per candidate, and the codes
    table never shuffles (the only exchange is the ``_top_k`` window,
    ascending adist)."""
    d2 = _SUB_D2.format(a="svs[cast(s as int)]", b="cb.c")
    lut = f"""
flatten(transform(sequence(0, {n_subs - 1}), s ->
  transform(filter(cells, cb -> cb.sub_id = s),
            cb -> named_struct(
                'sub_id', cb.sub_id, 'code', cb.code,
                'd2', round({d2}, {round_dp})))))"""
    q_lut = (
        queries.withColumn("svs", F.expr(_pq_subvecs_expr(n_subs)))
        .join(F.broadcast(_pq_cells_row(codebook)))
        .select(F.col("vec_id").alias("q_id"), *probe, F.expr(lut).alias("lut"))
    )
    fields = ", ".join(("q_id", *probe, "lut"))
    qrow = q_lut.agg(
        F.expr(f"array_sort(collect_list(struct({fields})))").alias("qs")
    )
    match = F.col("vec_id") != F.col("q.q_id")
    for c in probe:
        match = match & (F.col(c) == F.col(f"q.{c}"))
    adist = (
        "round(aggregate("
        "filter(q.lut, e -> e.code = codes[cast(e.sub_id as int)]), "
        "cast(0.0 as double), (acc, e) -> acc + e.d2), 4)"
    )
    scored = (
        codes.join(F.broadcast(qrow))
        .select("vec_id", *probe, "codes", F.explode("qs").alias("q"))
        .where(match)
        .select(
            "vec_id",
            F.col("q.q_id").alias("q_id"),
            F.expr(adist).alias("adist"),
        )
    )
    return _top_k(scored, k, "adist", ascending=True)


def pq_adc_topk(
    emb: DataFrame,
    codebook: DataFrame,
    codes: DataFrame = None,
    n_queries: int = 10,
    k: int = 5,
    n_subs: int = N_PQ_SUBS,
    round_dp: int = 6,
) -> DataFrame:
    """ADC top-k (``_adc_topk``): approximate nearest neighbors of the
    first ``n_queries`` vectors from the codes table alone.

    Output: (q_id, vec_id, adist, rank) — adist = the ADC
    approximation of squared L2, rounded to 4dp, ties broken by
    vec_id.
    """
    if codes is None:
        codes = pq_assign(emb, codebook, n_subs, round_dp)
    queries = emb.where(F.col("vec_id") < n_queries)
    return _adc_topk(codes, queries, codebook, k, n_subs, round_dp)


def pq_recon_stats(
    emb: DataFrame,
    codebook: DataFrame,
    n_subs: int = N_PQ_SUBS,
    round_dp: int = 6,
) -> DataFrame:
    """Codebook-quality manifest: per subspace, how many vectors and
    the mean quantization distance (the number a pipeline monitors to
    decide when to retrain).  Same stationary-corpus shape as
    assignment; the aggregate exchanges M rows."""
    best_d = _pq_best_code("sub_id", "sv", round_dp) + ".d"
    return (
        _pq_subvec_rows(emb, n_subs)
        .join(F.broadcast(_pq_cells_row(codebook)))
        .select("sub_id", F.expr(best_d).alias("d"))
        .groupBy("sub_id")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("d"), 4).alias("mean_dist"),
        )
    )


def ivf_residuals(
    emb: DataFrame,
    n_cells: int = N_IVF_CELLS,
    centroids: DataFrame = None,
) -> DataFrame:
    """Coarse-quantize and subtract: (vec_id, cell_id, embedding =
    vector − its cell centroid).  The residual table IVF-PQ encodes —
    residuals are much tighter than raw vectors, so the same code
    budget quantizes them far more accurately (Jegou et al. 2011 §IV).
    Centroid subtraction is exact double arithmetic (no rounding
    needed for cross-engine parity); a deployment materializes this
    table once alongside the codes."""
    assigned = _ivf_scored(emb, n_cells, centroids=centroids).where(
        F.col("rn") == 1
    )
    cents = _cells(emb, n_cells, centroids)
    return assigned.join(F.broadcast(cents), "cell_id").select(
        "vec_id",
        "cell_id",
        F.expr(
            "zip_with(embedding, centroid, (x, y) -> cast(x as double) - y)"
        ).alias("embedding"),
    )


def ivfpq_topk(
    emb: DataFrame,
    residuals: DataFrame = None,
    codebook: DataFrame = None,
    n_cells: int = N_IVF_CELLS,
    n_queries: int = 10,
    q_lo: int = None,
    k: int = 5,
    n_subs: int = N_PQ_SUBS,
    n_codes: int = N_PQ_CODES,
    n_iters: int = 2,
    round_dp: int = 6,
) -> DataFrame:
    """IVF-PQ search (the FAISS-style IVFADC index, end to end):
    coarse-assign every vector to a cell, PQ-encode its RESIDUAL with
    one codebook shared across cells, then answer queries by probing
    the query's own cell and ADC-scoring only that cell's compressed
    codes (``_adc_topk`` with cell_id as the probe).  The web-scale
    serving shape for 10^12 vectors: the index is (cell_id, M codes)
    per vector — a few bytes — the codebook and per-query LUTs ride
    broadcasts, and a query touches ~1/n_cells of the codes table
    (partition the codes table by cell_id and the probe prunes
    partitions).

    The first ``n_cells`` vectors ARE the coarse stand-in centroids, so
    their residuals are exactly zero: a codebook trained or seeded on
    them collapses to one zero codeword per subspace, and a query among
    them builds a degenerate LUT.  So the codebook (unless supplied)
    trains on ``vec_id >= n_cells``, and queries default to the
    ``n_queries`` vectors after the centroids (``q_lo = n_cells``).

    Output: (q_id, vec_id, adist, rank) — ADC approximation of the
    residual-space squared L2 within the probed cell, 4dp, vec_id
    tie-break."""
    if residuals is None:
        residuals = ivf_residuals(emb, n_cells)
    if codebook is None:
        codebook = pq_train(
            residuals.where(F.col("vec_id") >= n_cells).select(
                "vec_id", "embedding"
            ),
            n_subs, n_codes, n_iters, round_dp,
        )
    codes = pq_assign(
        residuals, codebook, n_subs, round_dp, keep=("cell_id",)
    )
    if q_lo is None:
        q_lo = n_cells
    queries = residuals.where(
        (F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_lo + n_queries)
    )
    return _adc_topk(
        codes, queries, codebook, k, n_subs, round_dp, probe=("cell_id",)
    )
