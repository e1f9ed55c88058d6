"""Unit tests for dedup/similarity scale guards: block-boundary recall,
bucket chunk caps, SimHash Hamming pairing."""

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from py_pdf_parser_spark.textops import (  # noqa: E402
    analysis,
    dedup,
    packing,
    similarity,
)


@pytest.fixture(scope="module")
def spark():
    from py_pdf_parser_spark.session import get_spark

    return get_spark(cores=4)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestJaccardBlockBoundary:
    def test_near_dups_straddling_block_boundary_are_found(self, spark):
        """Two ~0.9-Jaccard docs whose lengths fall in adjacent 16-char
        blocks (159 -> blk 9, 162 -> blk 10).  Same-block-only matching
        (round 1) never compares them."""
        base = " ".join(f"tok{i:02d}" for i in range(26))  # 6*26-1 = 155
        a = base + " end"            # 159 chars -> blk 9
        b = base + " lo end"         # 162 chars -> blk 10
        assert len(a) // 16 == 9 and len(b) // 16 == 10
        out = dedup.ngram_jaccard_pairs(
            _docs(spark, [(1, a), (2, b)]), threshold=0.5
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["doc_a"], r["doc_b"]) == (1, 2)
        assert r["jaccard"] > 0.8

    def test_same_block_pair_not_double_counted(self, spark):
        """Docs in the same block meet at keys blk AND blk+1; the
        greatest(oblk) filter must keep exactly one meeting so the
        intersection count (and jaccard) is not doubled."""
        t = " ".join(f"w{i}" for i in range(30))
        out = dedup.ngram_jaccard_pairs(
            _docs(spark, [(1, t), (2, t)]), threshold=0.5
        ).collect()
        assert len(out) == 1
        assert out[0]["jaccard"] == 1.0

    def test_far_blocks_still_not_compared(self, spark):
        short = " ".join(f"w{i}" for i in range(10))
        long = " ".join(f"w{i}" for i in range(200))
        out = dedup.ngram_jaccard_pairs(
            _docs(spark, [(1, short), (2, long)]), threshold=0.0
        ).collect()
        assert out == []


class TestBucketCaps:
    def test_lsh_pairs_capped_per_chunk(self, spark):
        """100 identical docs = one bucket per band.  cap=10 -> each
        band forms pairs only within its chunks of 10, so the join COST
        per band is 10 * C(10,2) = 450 pairs, not C(100,2) = 4950.
        Chunk order is salted per band, so the distinct union across
        the 16 bands covers MORE than one band's 450 (extra recall at
        the same per-band cost) while staying well under quadratic."""
        t = " ".join(f"tok{i}" for i in range(20))
        docs = _docs(spark, [(i, t) for i in range(100)])
        capped = dedup.lsh_candidate_pairs(docs, max_bucket=10)
        n = capped.count()
        assert 450 < n < 4950
        # per-band bound: no band contributes more than 450 pairs
        wide = dedup.minhash_wide(docs)
        banded = wide.select(
            "doc_id", F.lit(0).alias("band"),
            F.md5(F.concat_ws(",", F.col("m0").cast("string"),
                              F.col("m1").cast("string"))).alias("bucket"),
        )
        one_band = dedup._chunk_capped(banded, "bucket", 10)
        a, b = one_band.alias("a"), one_band.alias("b")
        per_band = (
            a.join(b, ["band", "bucket", "chunk"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .count()
        )
        assert per_band == 450
        uncapped = dedup.lsh_candidate_pairs(docs, max_bucket=1000)
        assert uncapped.count() == 4950

    def test_bucket_cap_stats_reports_drops(self, spark):
        t = " ".join(f"tok{i}" for i in range(20))
        docs = _docs(spark, [(i, t) for i in range(100)])
        wide = dedup.minhash_wide(docs)
        # band 0 bucket from (m0, m1) — same for all docs
        banded = wide.select(
            "doc_id", F.lit(0).alias("band"),
            F.md5(F.concat_ws(",", F.col("m0").cast("string"),
                              F.col("m1").cast("string"))).alias("bucket"),
        )
        stats = dedup.bucket_cap_stats(banded, ["band", "bucket"], 10)
        rows = stats.collect()
        assert len(rows) == 1
        assert rows[0]["n"] == 100
        assert rows[0]["pairs_dropped"] == 4950 - 450

    @pytest.mark.parametrize("corpus,cap", [
        ("_docs_table", 256), ("_patho_corpus", 256), ("_patho_corpus", 32),
    ])
    def test_cap_only_drops_pairs_of_an_overflowing_bucket(
        self, spark, corpus, cap
    ):
        """An invariant that needs no oracle: capped LSH pairs and
        verified pairs are a subset of the uncapped ones (cap above the
        corpus size), and all of them when ``bucket_cap_stats`` lists no
        bucket.  On sf0.01 no 256 cap binds.  On ``td_lsh_pairs_capped``'s
        corpus (301 identical docs, one bucket per band) both caps do; at
        256 no pair is lost all the same, since a pair split in one band
        shares a chunk in another (salted chunk order), but at 32 some
        are.  So an empty audit implies equal pairs, not the converse."""
        from py_pdf_parser_spark import queries as Q
        from tests.test_oracle_parity import SF_DIR

        docs = getattr(Q, corpus)(spark, SF_DIR).select("doc_id", "text")
        rows = dedup.shingle_rows(docs, distinct=True).persist()
        banded = dedup.minhash_banded(dedup.minhash_wide(docs, rows=rows)).persist()
        uncapped = docs.count() + 1
        overflow = not dedup.bucket_cap_stats(banded, ["band", "bucket"], cap).isEmpty()
        assert overflow == (corpus == "_patho_corpus")
        for op in (dedup.lsh_candidate_pairs, dedup.jaccard_lsh_verified):
            got, full = (
                set(op(docs, max_bucket=m, rows=rows, banded=banded).collect())
                for m in (cap, uncapped)
            )
            assert full and got <= full, op.__name__
            if not overflow:
                assert got == full, op.__name__
            if cap == Q._PATHO_CAP:
                assert got < full, op.__name__
        rows.unpersist()
        banded.unpersist()

    def test_embedding_dup_pairs_capped(self, spark):
        import hashlib
        from collections import Counter

        emb = spark.createDataFrame(
            [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(50)],
            "vec_id long, embedding array<double>",
        )
        out = similarity.embedding_dup_pairs(
            emb, threshold=0.99, max_bucket=10
        )
        # 50 identical vectors -> one bucket -> ceil(50/10)=5 md5 chunks;
        # pairs form only within a chunk.
        sizes = Counter(
            int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 5
            for i in range(50)
        )
        want = sum(n * (n - 1) // 2 for n in sizes.values())
        got = out.count()
        assert got == want
        assert got < 50 * 49 // 2


class TestSimhashPairs:
    def test_identical_docs_pair_at_hamming_zero(self, spark):
        t = " ".join(f"alpha{i}" for i in range(15))
        other = " ".join(f"zulu{i}" for i in range(40))
        out = dedup.simhash_pairs(
            _docs(spark, [(1, t), (2, t), (3, other)])
        ).collect()
        got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out}
        assert got.get((1, 2)) == 0
        assert all(h <= 3 for h in got.values())

    def test_recall_vs_exact_hamming(self, spark):
        """Banding must find EVERY pair at Hamming <= 3 (pigeonhole:
        4 bands, <=3 flipped bits leave one band intact)."""
        rows = [
            (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(12)))
            for i in range(40)
        ]
        docs = _docs(spark, rows)
        sigs = {r["doc_id"]: r["simhash"]
                for r in dedup.simhash(docs).collect()}
        want = {
            (a, b)
            for a in sigs for b in sigs
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
        }
        got = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.simhash_pairs(docs).collect()
        }
        assert got == want


class TestDupClusters:
    def test_identical_docs_form_one_cluster(self, spark):
        t1 = " ".join(f"alpha{i}" for i in range(20))
        t2 = " ".join(f"beta{i}" for i in range(25))
        rows = [(1, t1), (2, t1), (5, t1), (3, t2), (4, " ".join(
            f"gamma{i}" for i in range(30)))]
        out = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.dup_clusters(_docs(spark, rows)).collect()
        }
        assert out[1] == out[2] == out[5] == 1
        assert out[3] == 3 and out[4] == 4

    def test_chain_component_converges_in_log_rounds(self, spark, tmp_path):
        """A 33-node path graph (diameter 32) must resolve to one
        cluster in O(log d) rounds — pointer jumping halves label
        chains each round, so ~log2(32)+2 rounds, nowhere near the
        25-round rail.  Also exercises the RELIABLE checkpoint path
        (checkpoint_dir set): round state goes to disk, not executor
        memory."""
        import math

        n = 33
        nodes = spark.createDataFrame(
            [(i,) for i in range(1, n + 1)], "doc_id long"
        )
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
        )
        stats = {}
        out = dedup.connected_components(
            nodes, edges, checkpoint_dir=str(tmp_path / "ckpt"),
            stats=stats,
        )
        labels = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
        assert set(labels.values()) == {1}
        assert stats["rounds"] <= math.ceil(math.log2(n - 1)) + 2

    def test_oversized_cluster_remerges_across_salted_chunks(self, spark):
        """40 identical docs co-bucket in EVERY band; with cap 8 each
        band's bucket splits into 5 chunks.  Under unsalted (doc_id)
        chunk order the boundaries align across bands, cross-chunk
        pairs are dropped everywhere, and CC reports 5 clusters.  The
        band-salted chunk order de-correlates boundaries, so connected
        components re-merges the cluster into ONE."""
        t = " ".join(f"tok{i}" for i in range(30))
        rows = [(i, t) for i in range(1, 41)]
        out = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.dup_clusters(
                _docs(spark, rows), max_bucket=8
            ).collect()
        }
        assert set(out.values()) == {1}


class TestSharedShingleRows:
    """Precomputed-rows threading (the persisted shingle table the
    queries layer shares across MinHash/LSH/Jaccard) must be
    result-identical to each operator computing its own rows."""

    def _corpus(self, spark):
        base = "the quick brown fox jumps over the lazy dog " * 3
        rows = [(i, base + f"tail {i % 7}") for i in range(40)]
        rows += [(100 + i, f"unique doc {i} with words " + "x " * i)
                 for i in range(10)]
        return _docs(spark, rows)

    def test_operators_match_with_and_without_shared_rows(self, spark):
        docs = self._corpus(spark)
        rows = dedup.shingle_rows(docs, distinct=True).persist()
        try:
            for fn in (
                lambda d, r: dedup.minhash_signatures(d, rows=r),
                lambda d, r: dedup.lsh_candidate_pairs(d, rows=r),
                lambda d, r: dedup.jaccard_lsh_verified(d, rows=r),
                lambda d, r: dedup.dup_clusters(d, rows=r),
            ):
                alone = {tuple(x) for x in fn(docs, None).collect()}
                shared = {tuple(x) for x in fn(docs, rows).collect()}
                assert alone == shared and alone
        finally:
            rows.unpersist()


class TestSharedSignatureTables:
    """Shared persisted signature tables (minhash_wide / simhash) must be
    result-identical to per-operator recomputation — the same guarantee
    the shared shingle-rows table carries."""

    def test_lsh_pairs_same_with_shared_wide(self, spark):
        docs = _docs(
            spark,
            [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(30)))
             for i in range(60)],
        )
        wide = dedup.minhash_wide(docs)
        a = sorted(map(tuple, dedup.lsh_candidate_pairs(docs).collect()))
        b = sorted(map(tuple,
                       dedup.lsh_candidate_pairs(docs, wide=wide).collect()))
        assert a == b and a

    def test_simhash_pairs_same_with_shared_sig(self, spark):
        docs = _docs(
            spark,
            [(i, " ".join(f"w{(i // 3 * 5 + j) % 17}" for j in range(20)))
             for i in range(45)],
        )
        sig = dedup.simhash(docs)
        a = sorted(map(tuple, dedup.simhash_pairs(docs).collect()))
        b = sorted(map(tuple, dedup.simhash_pairs(docs, sig=sig).collect()))
        assert a == b and a

    def test_jaccard_pairs_same_with_shared_rows(self, spark):
        docs = _docs(
            spark,
            [(i, " ".join(f"w{(i // 2 * 5 + j) % 19}" for j in range(25)))
             for i in range(40)],
        )
        rows = dedup.shingle_rows(docs, distinct=True)
        a = sorted(map(tuple, dedup.ngram_jaccard_pairs(docs).collect()))
        b = sorted(map(tuple,
                       dedup.ngram_jaccard_pairs(docs, rows=rows).collect()))
        assert a == b and a


class TestCorpusPrepFilters:
    """Gopher/C4-style corpus-prep rules: repetition signals,
    deterministic sampling, per-source caps, PII scrubbing."""

    def test_repetition_stats_known_fractions(self, spark):
        from py_pdf_parser_spark.textops import analysis

        docs = _docs(spark, [
            (1, "a a a a"),          # 4 words, 1 distinct, bigram 'a a' x3
            (2, "a b c d"),          # all distinct, every bigram unique
            (3, "x y x y x"),        # top word x:3/5, bigrams 'x y' 2/4
            (4, "solo"),             # <2 words -> no bigrams
        ])
        out = {r["doc_id"]: r for r in
               analysis.repetition_stats(docs).collect()}
        assert out[1]["n_words"] == 4 and out[1]["n_distinct_words"] == 1
        assert out[1]["dup_word_frac"] == 0.75
        assert out[1]["top_word_frac"] == 1.0
        assert out[1]["top_bigram_frac"] == 1.0
        assert out[2]["dup_word_frac"] == 0.0
        assert out[2]["top_bigram_frac"] == 1.0 / 3.0
        assert out[3]["top_word_frac"] == 3.0 / 5.0
        assert out[3]["top_bigram_frac"] == 2.0 / 4.0
        assert out[4]["top_bigram_frac"] == 0.0

    def test_hash_sample_deterministic_and_content_stable(self, spark):
        from py_pdf_parser_spark.textops import analysis

        docs = _docs(spark, [(i, f"doc {i}") for i in range(500)])
        a = sorted(r["doc_id"] for r in
                   analysis.hash_sample(docs, pct=10).collect())
        b = sorted(r["doc_id"] for r in
                   analysis.hash_sample(docs, pct=10).collect())
        assert a == b and 0 < len(a) < 500
        # rate roughly holds (md5 buckets are uniform-ish)
        assert 20 <= len(a) <= 90
        # monotone in pct: a 10% sample is a subset of a 20% sample
        wider = sorted(r["doc_id"] for r in
                       analysis.hash_sample(docs, pct=20).collect())
        assert set(a) <= set(wider)
        # different seed -> different (deterministic) subset
        other = sorted(r["doc_id"] for r in
                       analysis.hash_sample(docs, pct=10, seed="s1").collect())
        assert other != a

    def test_source_cap_keeps_first_n_per_source(self, spark):
        from py_pdf_parser_spark.textops import analysis

        rows = [(i, f"t{i}", "en", f"src{i % 3}", 2) for i in range(30)]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long")
        out = analysis.source_cap(docs, cap=4).collect()
        assert len(out) == 12
        by_src = {}
        for r in out:
            by_src.setdefault(r["source"], []).append(r["doc_id"])
        for src, ids in by_src.items():
            expected = sorted(
                i for i in range(30) if f"src{i % 3}" == src)[:4]
            assert sorted(ids) == expected

    def test_blocklist_filter_counts_and_gate(self, spark):
        import re

        from py_pdf_parser_spark.textops import analysis

        texts = [
            "clean text only",                    # 0 bad / 3 -> kept
            "one BAD word here now yes ok",       # 1/7 <= 0.2 -> kept
            "bad bad bad",                        # 3/3 -> dropped
            "badge embedded not a match",         # \b guard: 0 -> kept
            "ugly at the end bad",                # 2/5 -> dropped
        ]
        docs = _docs(spark, list(enumerate(texts)))
        out = {r["doc_id"]: r for r in analysis.blocklist_filter(
            docs, ["bad", "ugly"], max_frac=0.2).collect()}
        pat = re.compile(r"\b(bad|ugly)\b")
        for i, t in enumerate(texts):
            expect = len(pat.findall(t.lower()))
            assert out[i]["n_bad"] == expect, (i, t)
            assert out[i]["n_tokens"] == len(t.split(" "))
            assert out[i]["kept"] == (
                expect / len(t.split(" ")) <= 0.2)
        assert [out[i]["kept"] for i in range(5)] == [
            True, True, False, True, False]
        # regex metacharacters in the list are escaped, not interpreted
        lit = analysis.blocklist_filter(
            _docs(spark, [(0, "a.b literal"), (1, "axb nope")]),
            ["a.b"], max_frac=0.0).collect()
        by_id = {r["doc_id"]: r["n_bad"] for r in lit}
        assert by_id == {0: 1, 1: 0}

    def test_pii_scrub_detectors_and_overlap(self, spark):
        from py_pdf_parser_spark.textops import analysis

        docs = _docs(spark, [
            (1, "mail me at a.b+c@mail.example.com or 212-555-1234 now"),
            (2, "server at 10.0.200.7 and not@adomain plus 123-45-6789"),
            (3, "overlap 212-555-1234@mail.example.net case"),
            (4, "clean text with no identifiers at all"),
        ])
        out = {r["doc_id"]: r for r in analysis.pii_scrub(docs).collect()}
        assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ips"]) == (1, 1, 0)
        assert out[1]["clean_text"] == "mail me at <EMAIL> or <PHONE> now"
        # near-misses: domain-less '@' and SSN-shaped 3-2-4 match nothing
        assert (out[2]["n_emails"], out[2]["n_phones"], out[2]["n_ips"]) == (0, 0, 1)
        assert out[2]["clean_text"] == "server at <IP> and not@adomain plus 123-45-6789"
        # phone-shaped local part: counted by BOTH, redacted once as email
        assert (out[3]["n_emails"], out[3]["n_phones"]) == (1, 1)
        assert out[3]["clean_text"] == "overlap <EMAIL> case"
        assert out[4]["clean_text"] == out[4]["clean_text"] and out[4]["n_emails"] == 0

    def test_lsh_consumers_same_with_shared_banded(self, spark):
        from py_pdf_parser_spark.textops import analysis, dedup  # noqa: F401

        docs = _docs(
            spark,
            [(i, " ".join(f"w{(i // 2 * 5 + j) % 19}" for j in range(25)))
             for i in range(40)],
        )
        banded = dedup.minhash_banded(dedup.minhash_wide(docs))
        for fn in (
            lambda d, b: dedup.lsh_candidate_pairs(d, banded=b),
            lambda d, b: dedup.jaccard_lsh_verified(d, banded=b),
            lambda d, b: dedup.dup_clusters(d, banded=b),
        ):
            alone = {tuple(x) for x in fn(docs, None).collect()}
            shared = {tuple(x) for x in fn(docs, banded).collect()}
            assert alone == shared and alone

    def test_repetition_stats_matches_counter_model(self, spark):
        """Differential vs collections.Counter over seeded-random token
        lists (incl. adversarial shapes: all-same, all-distinct, runs
        that interleave after sorting, single word): the longest-run
        scan over the SORTED array must equal the most-common count."""
        import random
        from collections import Counter

        from py_pdf_parser_spark.textops import analysis

        rng = random.Random(42)
        vocab = [f"w{k}" for k in range(9)]
        rows = [(0, "solo"), (1, "a a a a a"), (2, "a b c d e f")]
        for i in range(3, 160):
            n = rng.randint(1, 40)
            rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
        out = {r["doc_id"]: r for r in
               analysis.repetition_stats(_docs(spark, rows)).collect()}
        assert len(out) == len(rows)
        for doc_id, text in rows:
            w = text.split(" ")
            r = out[doc_id]
            assert r["n_words"] == len(w)
            assert r["n_distinct_words"] == len(set(w))
            top_w = Counter(w).most_common(1)[0][1]
            assert r["top_word_frac"] == top_w / len(w), (doc_id, text)
            if len(w) >= 2:
                bgs = [f"{a} {b}" for a, b in zip(w, w[1:])]
                top_b = Counter(bgs).most_common(1)[0][1]
                assert r["top_bigram_frac"] == top_b / len(bgs), (doc_id, text)
            else:
                assert r["top_bigram_frac"] == 0.0

    def test_line_dedup_corpus_level(self, spark):
        from py_pdf_parser_spark.textops import dedup

        docs = spark.createDataFrame(
            [
                (1, "unique one\nFOOTER\nalpha"),
                (2, "FOOTER\nunique two"),
                (3, "unique three\nFOOTER"),
                (4, "REPEAT\nREPEAT\nREPEAT\nonly here"),  # within ONE doc:
                # distinct-doc count = 1 < 3, so repeats survive
                (5, "FOOTER"),  # nothing survives -> empty text
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in
               dedup.line_dedup(docs, min_repeat=3).collect()}
        assert len(out) == 5
        assert out[1]["clean_text"] == "unique one\nalpha"
        assert out[1]["n_kept_lines"] == 2 and out[1]["n_dropped_lines"] == 1
        assert out[2]["clean_text"] == "unique two"
        assert out[3]["clean_text"] == "unique three"
        # per-document repetition does NOT trigger the corpus rule
        assert out[4]["clean_text"] == "REPEAT\nREPEAT\nREPEAT\nonly here"
        assert out[4]["n_dropped_lines"] == 0
        assert out[5]["clean_text"] == "" and out[5]["n_kept_lines"] == 0


class TestKMeansCentroids:
    def test_matches_numpy_lloyds(self, spark):
        """kmeans_centroids == a plain-numpy Lloyd's reference with the
        same init / rounding / tie-break rules, on clustered synthetic
        vectors (3 planted directions + per-vector jitter)."""
        import numpy as np

        rng = np.random.RandomState(7)
        base = rng.randn(3, 8)
        vecs = np.array(
            [
                base[i % 3] + 0.05 * rng.randn(8)
                for i in range(60)
            ]
        )
        emb = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(60)],
            "vec_id long, embedding array<double>",
        )
        n_cells, n_iters, dp = 4, 2, 6

        # numpy reference: identical rules
        cents = vecs[:n_cells].copy()
        cell_ids = list(range(n_cells))
        for _ in range(n_iters):
            norms_c = np.linalg.norm(cents, axis=1)
            norms_v = np.linalg.norm(vecs, axis=1)
            cos = np.round(
                (vecs @ cents.T) / np.outer(norms_v, norms_c), dp
            )
            # argmax with lowest-cell_id tie-break = first max
            assign = cos.argmax(axis=1)
            new_cents, new_ids = [], []
            for j, cid in enumerate(cell_ids):
                members = vecs[assign == j]
                if len(members):
                    new_cents.append(
                        np.round(members.mean(axis=0), dp)
                    )
                    new_ids.append(cid)
            cents = np.array(new_cents)
            cell_ids = new_ids

        got = {
            r.cell_id: r.centroid
            for r in similarity.kmeans_centroids(
                emb, n_cells=n_cells, n_iters=n_iters, round_dp=dp
            ).collect()
        }
        assert sorted(got) == sorted(cell_ids)
        for cid, want in zip(cell_ids, cents):
            assert np.allclose(got[cid], want, atol=1e-9)

    def test_codebook_beats_stand_in_inertia(self, spark):
        """The trained codebook separates planted clusters: every
        vector's nearest trained centroid has cosine >= its nearest
        first-n-vectors stand-in centroid (aggregate, on clustered
        data)."""
        import numpy as np

        rng = np.random.RandomState(11)
        base = rng.randn(4, 8) * 3
        vecs = np.array(
            [base[i % 4] + 0.1 * rng.randn(8) for i in range(80)]
        )
        emb = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(80)],
            "vec_id long, embedding array<double>",
        )
        trained = np.array(
            [
                r.centroid
                for r in similarity.kmeans_centroids(
                    emb, n_cells=4, n_iters=2
                ).collect()
            ]
        )
        standin = vecs[:4]

        def mean_best_cos(cents):
            nc = np.linalg.norm(cents, axis=1)
            nv = np.linalg.norm(vecs, axis=1)
            return (
                ((vecs @ cents.T) / np.outer(nv, nc)).max(axis=1).mean()
            )

        assert mean_best_cos(trained) >= mean_best_cos(standin)

    def test_corpus_never_shuffles(self, spark):
        """The per-iteration assignment is a pure projection against
        one broadcast centroid row: the physical plan must contain NO
        Window operator and NO exchange keyed on vec_id (the corpus).
        The only hash exchanges allowed are the centroid-update
        aggregations on (cell_id[, pos]) — cells x dim rows, bytes at
        any corpus size — plus the SinglePartition collect of the
        n_cells centroid rows themselves."""
        import re

        emb = spark.createDataFrame(
            [(i, [float(i), 1.0, 2.0]) for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        out = similarity.kmeans_centroids(emb, n_cells=2, n_iters=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        hash_keys = re.findall(
            r"Exchange hashpartitioning\(([^)]*)\)", plan
        )
        for keys in hash_keys:
            assert "vec_id" not in keys and "embedding" not in keys
            assert "cell_id" in keys


class TestSemanticDedup:
    """SemDeDup-style dedup: cells -> within-cell pairs -> CC reps."""

    N = 120

    def _emb(self, spark):
        from py_pdf_parser_spark.synth import embdup_vector

        return spark.createDataFrame(
            [(i, embdup_vector(i)) for i in range(self.N)],
            "vec_id long, embedding array<float>",
        )

    def _reference_clusters(self):
        """Plain-python reference with the same rules: first-16
        stand-in centroids, unrounded-cos argmax assignment (first max
        = lowest cell_id tie-break), md5-chunking (all-zero below the
        cap), pairs at round(cos,4) >= 0.9, union-find min-label."""
        import hashlib
        import math

        from py_pdf_parser_spark.synth import embdup_vector

        vecs = {i: embdup_vector(i) for i in range(self.N)}

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        cents = {c: vecs[c] for c in range(16)}
        cell = {
            i: max(
                sorted(cents),
                key=lambda c: (cos(vecs[i], cents[c]), -c),
            )
            for i in vecs
        }
        # chunking: every cell here is under the 256 cap -> chunk 0
        for i in vecs:
            n_in_cell = sum(1 for j in vecs if cell[j] == cell[i])
            assert n_in_cell <= 256
            assert (
                int(
                    hashlib.md5(str(i).encode()).hexdigest()[:8], 16
                )
                % math.ceil(n_in_cell / 256)
                == 0
            )
        parent = {i: i for i in vecs}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a in vecs:
            for b in vecs:
                if a < b and cell[a] == cell[b] and round(
                    cos(vecs[a], vecs[b]), 4
                ) >= 0.9:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        return {i: find(i) for i in vecs}

    def test_matches_plain_python_reference(self, spark):
        want = self._reference_clusters()
        got = {
            r.vec_id: r.cluster_id
            for r in similarity.semantic_dedup(
                self._emb(spark), threshold=0.9
            ).collect()
        }
        assert got == want
        # the planted structure actually collapses something
        assert sum(1 for i, c in got.items() if i != c) > 20

    def test_rep_structure_invariants(self, spark):
        out = similarity.semantic_dedup(
            self._emb(spark), threshold=0.9
        ).collect()
        assert len(out) == self.N
        by_id = {r.vec_id: r for r in out}
        for r in out:
            assert r.cluster_id <= r.vec_id  # min-label component id
            assert r.is_rep == (r.vec_id == r.cluster_id)
            assert by_id[r.cluster_id].is_rep  # the label IS a rep

    def test_trained_codebook_variant(self, spark):
        """semantic_dedup(centroids=kmeans_centroids(...)) keeps the
        rep invariants and still collapses the planted dups (trained
        cells can only move whole near-dup groups together — members
        at cos ~0.9998 share a cell for any sane codebook)."""
        emb = self._emb(spark)
        cents = similarity.kmeans_centroids(emb, n_cells=8, n_iters=1)
        out = similarity.semantic_dedup(
            emb, threshold=0.9, centroids=cents
        ).collect()
        assert len(out) == self.N
        collapsed = sum(1 for r in out if not r.is_rep)
        assert collapsed > 20
        by_id = {r.vec_id: r for r in out}
        for r in out:
            assert by_id[r.cluster_id].is_rep


class TestTokenShards:
    """token_shards = distributed exclusive-cumsum // budget."""

    def _docs(self, spark, n=500, seed=3):
        import random

        rng = random.Random(seed)
        rows = [
            (i, " ".join("w" for _ in range(rng.randint(1, 40))))
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _model(self, rows, budget):
        """Plain-Python reference: exclusive cumsum in doc_id order."""
        out, cum = {}, 0
        for doc_id, text in sorted(rows):
            n = len(text.split(" "))
            out[doc_id] = (n, cum // budget)
            cum += n
        return out

    def test_matches_sequential_model(self, spark):
        docs = self._docs(spark)
        want = self._model(
            [(r.doc_id, r.text) for r in docs.collect()], budget=100
        )
        got = {
            r.doc_id: (r.n_tokens, r.shard_id)
            for r in packing.token_shards(docs, budget=100).collect()
        }
        assert got == want
        # multiple shards actually exercised
        assert len({s for _, s in got.values()}) > 5

    def test_layout_and_bucket_width_independent(self, spark):
        """The result is a function of the DATA: identical under any
        input partitioning and any decomposition width."""
        docs = self._docs(spark, n=300, seed=9)
        base = sorted(
            packing.token_shards(docs, budget=64).collect()
        )
        for repart, width in [(1, 64), (7, 17), (13, 1), (3, 10**6)]:
            got = sorted(
                packing.token_shards(
                    docs.repartition(repart), budget=64, bucket_width=width
                ).collect()
            )
            assert got == base

    def test_shard_stats_reconcile_with_model(self, spark):
        """shard_stats == the per-shard rollup of the sequential model:
        every present shard non-empty, fill = token_sum/budget, sums
        reconcile exactly to the corpus total, and each shard's first
        document starts inside its token-axis window
        [sid*budget, (sid+1)*budget)."""
        docs = self._docs(spark)
        model = self._model(
            [(r.doc_id, r.text) for r in docs.collect()], budget=100
        )
        want = {}
        for n, sid in model.values():
            n_docs, tok = want.get(sid, (0, 0))
            want[sid] = (n_docs + 1, tok + n)
        stats = {
            r.shard_id: (r.n_docs, r.token_sum, r.fill)
            for r in packing.shard_stats(docs, budget=100).collect()
        }
        assert set(stats) == set(want)
        for sid, (n_docs, token_sum) in want.items():
            g_docs, g_tok, g_fill = stats[sid]
            assert (g_docs, g_tok) == (n_docs, token_sum)
            assert g_fill == round(token_sum / 100, 6)
            assert n_docs > 0
        assert sum(t for _, t, _ in stats.values()) == sum(
            n for n, _ in model.values()
        )
        # window-membership invariant: first token of each shard's
        # first doc lands in the shard's token-axis window
        cum = 0
        for doc_id in sorted(model):
            n, sid = model[doc_id]
            if cum // 100 == sid:  # first doc of shard sid
                assert sid * 100 <= cum < (sid + 1) * 100
            cum += n

    def test_no_corpus_sized_single_partition_stage(self, spark):
        """Scale shape: the only non-partitioned window runs over
        BUCKET TOTALS (corpus_size / bucket_width rows), never the
        corpus; the corpus window is bucket-partitioned; offsets come
        back via broadcast."""
        import re

        docs = self._docs(spark)
        out = packing.token_shards(docs, budget=100, bucket_width=64)
        plan = out._jdf.queryExecution().executedPlan().toString()
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert len(specs) == 2
        corpus_specs = [s for s in specs if "doc_id" in s]
        assert len(corpus_specs) == 1 and "bucket" in corpus_specs[0]
        # the other window orders by bucket only (the tiny totals table)
        (totals_spec,) = [s for s in specs if "doc_id" not in s]
        assert "bucket" in totals_spec
        assert plan.count("BroadcastExchange") == 1
        # every corpus-sized hash exchange keys on bucket
        for keys in re.findall(
            r"Exchange hashpartitioning\(([^)]*)\)", plan
        ):
            assert "bucket" in keys

    def test_shared_tokens_table_same_result(self, spark):
        """Passing a precomputed tokens table (the materialized
        deployment shape) changes nothing."""
        from py_pdf_parser_spark.textops import analysis

        docs = self._docs(spark, n=200, seed=5)
        toks = analysis.token_count(docs)
        a = sorted(packing.token_shards(docs, budget=77).collect())
        b = sorted(
            packing.token_shards(docs, budget=77, tokens=toks).collect()
        )
        assert a == b

    def test_chunk_then_shard_reconciles(self, spark):
        """The chunk->pack composition (td_corpus_to_shards shape):
        chunk_documents output re-keyed as doc_id*2^20+chunk_idx packs
        into shards whose token sums reconcile EXACTLY to the chunk
        table's total, with every shard id in a contiguous-ish range
        (a shard may be absorbed by an oversize doc, never negative or
        beyond total//budget)."""
        docs = self._docs(spark, n=120, seed=11)
        chunks = packing.chunk_documents(docs, chunk_tokens=8, overlap=2)
        toks = chunks.select(
            (F.col("doc_id") * (1 << 20) + F.col("chunk_idx")).alias(
                "doc_id"
            ),
            F.col("n_chunk_tokens").alias("n_tokens"),
        )
        stats = packing.shard_stats(
            docs, budget=50, tokens=toks, bucket_width=64
        ).collect()
        total = chunks.groupBy().sum("n_chunk_tokens").collect()[0][0]
        assert sum(r.token_sum for r in stats) == total
        assert all(0 <= r.shard_id <= total // 50 for r in stats)
        assert all(r.n_docs > 0 for r in stats)
        # the production width for this SPARSE key shape (stride 2^20
        # per doc -> width 2^40 keeps ~2^20 keys per bucket) yields
        # the identical manifest: width is decomposition-only
        wide = packing.shard_stats(
            docs, budget=50, tokens=toks, bucket_width=1 << 40
        ).collect()
        assert sorted(map(tuple, wide)) == sorted(map(tuple, stats))


class TestDecontaminate:
    def test_planted_overlap_counts_and_flags(self, spark):
        """A corpus doc embedding an eval doc's sentence shares exactly
        its distinct 3-gram set; an unrelated doc counts 0.  The
        benchmark probe must come back as a broadcast join (the corpus
        never shuffles for membership)."""
        eval_sent = "alpha beta gamma delta epsilon"  # 3 distinct 3-grams
        corpus = _docs(
            spark,
            [
                (1, "intro words " + eval_sent + " closing words"),
                (2, "totally unrelated content here of some length"),
                (3, "alpha beta gamma only shares one leading gram"),
            ],
        )
        bench = _docs(spark, [(100, eval_sent)])
        out = {
            r.doc_id: (r.n_overlap, r.contaminated)
            for r in dedup.decontaminate(
                corpus, bench, min_overlap=3
            ).collect()
        }
        assert out[1] == (3, True)
        assert out[2] == (0, False)
        assert out[3] == (1, False)  # only 'alpha_beta_gamma'

        plan = (
            dedup.decontaminate(corpus, bench, min_overlap=3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan

    def test_shared_rows_table_same_result(self, spark):
        corpus = _docs(
            spark,
            [(i, f"w{i} common phrase here w{i + 1} tail") for i in range(6)],
        )
        bench = _docs(spark, [(50, "common phrase here")])
        shared = dedup.shingle_rows(corpus, distinct=True).persist()
        a = sorted(dedup.decontaminate(corpus, bench, min_overlap=1).collect())
        b = sorted(
            dedup.decontaminate(
                corpus, bench, min_overlap=1, rows=shared
            ).collect()
        )
        assert a == b
        assert any(r.contaminated for r in a)


class TestChunkDocuments:
    def test_exact_chunks_small_example(self, spark):
        """10 tokens, chunk=4, overlap=1 (stride 3): minimal cover is
        3 chunks [0,4) [3,7) [6,10), consecutive pairs sharing exactly
        one token."""
        toks = [f"t{i}" for i in range(10)]
        out = sorted(
            packing.chunk_documents(
                _docs(spark, [(1, " ".join(toks))]),
                chunk_tokens=4,
                overlap=1,
            ).collect(),
            key=lambda r: r.chunk_idx,
        )
        got = [(r.chunk_idx, r.chunk_text) for r in out]
        assert got == [
            (0, "t0 t1 t2 t3"),
            (1, "t3 t4 t5 t6"),
            (2, "t6 t7 t8 t9"),
        ]
        assert all(r.n_chunk_tokens == 4 for r in out)

    def test_boundary_counts(self, spark):
        """Doc == one chunk -> 1; one token more -> 2 (the second is
        overlap+1 tokens, extending past the first); short/empty docs
        -> exactly one chunk."""
        c, o = 8, 3
        mk = lambda n: " ".join(f"w{i}" for i in range(n))
        docs = _docs(
            spark, [(1, mk(8)), (2, mk(9)), (3, mk(2)), (4, "")]
        )
        rows = packing.chunk_documents(
            docs, chunk_tokens=c, overlap=o
        ).collect()
        per_doc = {}
        for r in rows:
            per_doc.setdefault(r.doc_id, []).append(r)
        assert len(per_doc[1]) == 1
        assert len(per_doc[2]) == 2
        two = sorted(per_doc[2], key=lambda r: r.chunk_idx)
        # second chunk = tokens [5, 9): shares exactly `o` with first,
        # plus the one uncovered token
        assert two[1].chunk_text == "w5 w6 w7 w8"
        assert len(per_doc[3]) == 1 and per_doc[3][0].chunk_text == mk(2)
        assert len(per_doc[4]) == 1 and per_doc[4][0].chunk_text == ""

    def test_full_coverage_and_reconstruction(self, spark):
        """Property over varied lengths: dropping the first `overlap`
        tokens of every chunk but the first reconstructs the document
        exactly (every token covered once past the shared prefix)."""
        import random

        rng = random.Random(2)
        rows = [
            (i, " ".join(f"x{i}_{j}" for j in range(rng.randint(0, 50))))
            for i in range(40)
        ]
        c, o = 12, 5
        chunks = packing.chunk_documents(
            _docs(spark, rows), chunk_tokens=c, overlap=o
        ).collect()
        per_doc = {}
        for r in chunks:
            per_doc.setdefault(r.doc_id, []).append(r)
        for doc_id, text in rows:
            ordered = sorted(
                per_doc[doc_id], key=lambda r: r.chunk_idx
            )
            assert [r.chunk_idx for r in ordered] == list(
                range(len(ordered))
            )
            rebuilt = ordered[0].chunk_text.split(" ")
            for r in ordered[1:]:
                ctoks = r.chunk_text.split(" ")
                assert ctoks[:o] == rebuilt[-o:]  # exact overlap
                rebuilt.extend(ctoks[o:])
            assert rebuilt == text.split(" ")


class TestMixtureSample:
    def test_rates_defaults_and_monotone_growth(self, spark):
        """mixture_sample: per-source rates honored exactly (0% source
        keeps nothing), absent sources use default_pct, and raising a
        rate strictly GROWS the kept set (fixed buckets, moving
        threshold — the incremental-reweighting contract).  The rates
        side must come back as a broadcast join (no corpus shuffle on
        source)."""
        from py_pdf_parser_spark.textops import analysis

        docs = spark.createDataFrame(
            [
                (i, "w", ["a", "b", "zero"][i % 3])
                for i in range(300)
            ],
            "doc_id long, text string, source string",
        )

        def rates(pa, pb):
            return spark.createDataFrame(
                [("a", pa), ("zero", 0)], "source string, pct long"
            ) if pb is None else spark.createDataFrame(
                [("a", pa), ("b", pb), ("zero", 0)],
                "source string, pct long",
            )

        out = analysis.mixture_sample(
            docs, rates(30, None), default_pct=80
        )
        got = out.collect()
        by_src = {}
        for r in got:
            by_src.setdefault(r.source, set()).add(r.doc_id)
            assert r.bucket < r.pct
        assert "zero" not in by_src            # 0% rate keeps nothing
        assert by_src["b"]                     # default_pct fallback
        for r in got:
            if r.source == "b":
                assert r.pct == 80

        # monotone growth: kept@30 subset of kept@60 for source a
        kept_60 = {
            r.doc_id
            for r in analysis.mixture_sample(
                docs, rates(60, None), default_pct=80
            ).collect()
            if r.source == "a"
        }
        assert by_src["a"] < kept_60

        plan = (
            out._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan


class TestSubstringDedup:
    def test_cross_doc_span_removed_rest_kept(self, spark):
        """A 5-gram shared by two docs is scrubbed from BOTH; the
        non-shared remainder survives in original order."""
        shared = "alpha beta gamma delta epsilon"
        docs = _docs(
            spark,
            [
                (1, "intro one " + shared + " tail one"),
                (2, shared + " other stuff here"),
                (3, "completely unrelated text nothing shared at all"),
            ],
        )
        out = {
            r["doc_id"]: r
            for r in dedup.substring_dedup(docs, k=5).collect()
        }
        assert out[1]["dup_tokens"] == 5
        assert out[1]["clean_text"] == "intro one tail one"
        assert out[2]["dup_tokens"] == 5
        assert out[2]["clean_text"] == "other stuff here"
        assert out[3]["dup_tokens"] == 0
        assert out[3]["clean_text"].startswith("completely unrelated")
        assert out[3]["n_tokens"] == 7

    def test_overlapping_dup_grams_cover_union(self, spark):
        """A 6-token shared run = two overlapping dup 5-grams; covered
        positions are the 6-token UNION, not double counted."""
        run = "a b c d e f"
        docs = _docs(
            spark,
            [(1, "x " + run + " y"), (2, run + " unrelated trailing")],
        )
        out = {
            r["doc_id"]: r
            for r in dedup.substring_dedup(docs, k=5).collect()
        }
        assert out[1]["dup_tokens"] == 6
        assert out[1]["clean_text"] == "x y"

    def test_within_doc_repeat_is_not_corpus_dup(self, spark):
        """A span repeated inside ONE doc is repetition, not corpus
        duplication — nothing is removed."""
        span = "p q r s t"
        docs = _docs(
            spark,
            [(1, span + " mid " + span), (2, "other words only here now")],
        )
        out = {
            r["doc_id"]: r
            for r in dedup.substring_dedup(docs, k=5).collect()
        }
        assert out[1]["dup_tokens"] == 0
        assert out[1]["clean_text"] == span + " mid " + span


class TestLmPerplexity:
    def test_matches_plain_python_model(self, spark):
        """bits_per_token == the hand-computed add-one unigram model,
        through the same micro-bit fixed-point rounding."""
        import math
        from collections import Counter

        rows = [
            (1, "the cat sat"),
            (2, "the dog sat sat"),
            (3, "zebra quark"),
        ]
        toks = [t for _, s in rows for t in s.split(" ")]
        c = Counter(toks)
        n, v = len(toks), len(c)
        lp = {
            t: round(math.log2((k + 1) / (n + v)) * 1e6)
            for t, k in c.items()
        }
        out = {
            r["doc_id"]: r
            for r in analysis.lm_perplexity(_docs(spark, rows)).collect()
        }
        for doc_id, s in rows:
            ts = s.split(" ")
            want = round(-sum(lp[t] for t in ts) / len(ts) / 1e6, 4)
            assert out[doc_id]["n_tokens"] == len(ts)
            assert out[doc_id]["bits_per_token"] == pytest.approx(want)
        # rare tokens cost more bits than common ones
        assert (
            out[3]["bits_per_token"] > out[1]["bits_per_token"]
        )

    def test_pretrained_model_scores_new_docs(self, spark):
        """Passing a pre-trained lm scores a disjoint stream against
        the reference corpus (every stream token must be in-vocab)."""
        train = _docs(spark, [(1, "a a b"), (2, "a b c")])
        lm = analysis.unigram_lm(train)
        stream = _docs(spark, [(10, "a a a"), (11, "c c c")])
        out = {
            r["doc_id"]: r["bits_per_token"]
            for r in analysis.lm_perplexity(stream, lm=lm).collect()
        }
        assert out[10] < out[11]  # 'a' is the most common train token

    def test_differential_vs_plain_python(self, spark):
        """Seeded random small-vocab corpora vs an exact plain-python
        reference (dict of gram -> doc set, per-doc covered-position
        union).  Small vocab forces organic cross-doc collisions."""
        import random
        from collections import defaultdict

        for seed in (0, 1, 2):
            rng = random.Random(seed)
            vocab = ["v%d" % i for i in range(6)]
            rows = [
                (d, " ".join(rng.choice(vocab)
                             for _ in range(rng.randint(5, 15))))
                for d in range(12)
            ]
            k = 3
            grams = defaultdict(set)
            toks = {d: s.split(" ") for d, s in rows}
            for d, ts in toks.items():
                for j in range(len(ts) - k + 1):
                    grams["_".join(ts[j:j + k])].add(d)
            want = {}
            for d, ts in toks.items():
                covered = set()
                for j in range(len(ts) - k + 1):
                    if len(grams["_".join(ts[j:j + k])]) >= 2:
                        covered.update(range(j, j + k))
                want[d] = (
                    len(ts),
                    len(covered),
                    " ".join(t for i, t in enumerate(ts)
                             if i not in covered),
                )
            got = {
                r["doc_id"]: (
                    r["n_tokens"], r["dup_tokens"], r["clean_text"]
                )
                for r in dedup.substring_dedup(
                    _docs(spark, rows), k=k
                ).collect()
            }
            assert got == want, f"seed {seed}"


class TestPrepScrubScore:
    def test_composition_semantics(self, spark):
        """Exact dup removed by prep; a cross-doc shared span scrubbed
        from the survivors; every kept doc gets an LM score over its
        SCRUBBED token count."""
        from py_pdf_parser_spark.textops.prep import prep_scrub_score

        span = "alpha beta gamma delta epsilon"
        # long distinct tails keep shingle-Jaccard ~0.06 so the pair is
        # below LSH near-dup banding; only the SPAN scrub touches them
        keep_a = " ".join(f"a{i}" for i in range(20)) + " " + span
        keep_b = span + " " + " ".join(f"b{i}" for i in range(20))
        rows = [
            (1, keep_a),
            (2, keep_a),          # exact dup of 1 — dropped by prep
            (3, keep_b),
            (4, "x y"),           # fails the min_tokens=5 gate
        ]
        out = {
            r["doc_id"]: r
            for r in prep_scrub_score(_docs(spark, rows)).collect()
        }
        assert set(out) == {1, 3}
        # the shared 5-gram span is scrubbed from both survivors
        assert out[1]["dup_tokens"] == 5
        assert out[3]["dup_tokens"] == 5
        # n_tokens counts the scrubbed text
        assert out[1]["n_tokens"] == len(keep_a.split()) - 5
        assert out[3]["n_tokens"] == len(keep_b.split()) - 5
        assert out[1]["bits_per_token"] > 0


class TestVocabTfidf:
    def test_vocab_topk_matches_counter(self, spark):
        """rank/count table == Counter over the whole corpus with the
        (count desc, token asc) tie-break, truncated at k."""
        import random
        from collections import Counter

        rng = random.Random(7)
        vocab = [f"w{i}" for i in range(12)]
        rows = [
            (d, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(3, 30))))
            for d in range(50)
        ]
        c = Counter(t for _, s in rows for t in s.split(" "))
        want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        got = [
            (r["tok"], r["c"])
            for r in analysis.vocab_topk(_docs(spark, rows), k=5)
            .orderBy("rank")
            .collect()
        ]
        assert got == want

    def test_vocab_topk_rank_is_dense_from_one(self, spark):
        out = analysis.vocab_topk(
            _docs(spark, [(1, "a a b"), (2, "b c")]), k=10
        ).orderBy("rank").collect()
        assert [r["rank"] for r in out] == [1, 2, 3]
        # ties (a=2, b=2) break token-ascending
        assert [r["tok"] for r in out] == ["a", "b", "c"]

    def test_tfidf_topk_matches_plain_python(self, spark):
        """score_micro == tf * round(log2((N+1)/(df+1)) * 1e6) exactly
        (integer fixed-point on both sides); per-doc top-k with the
        (score desc, token asc) tie-break."""
        import math
        import random
        from collections import Counter

        rng = random.Random(11)
        vocab = [f"v{i}" for i in range(8)]
        rows = [
            (d, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(4, 25))))
            for d in range(30)
        ]
        toks = {d: s.split(" ") for d, s in rows}
        n_docs = len(rows)
        df = Counter(t for ts in toks.values() for t in set(ts))
        idf = {
            t: round(math.log2((n_docs + 1) / (k + 1)) * 1e6)
            for t, k in df.items()
        }
        want = {}
        for d, ts in toks.items():
            tf = Counter(ts)
            scored = sorted(
                ((t, tf[t], tf[t] * idf[t]) for t in tf),
                key=lambda x: (-x[2], x[0]),
            )[:3]
            want[d] = [
                (t, f, s, i + 1) for i, (t, f, s) in enumerate(scored)
            ]
        got = {}
        for r in analysis.tfidf_topk(_docs(spark, rows), k=3).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["tok"], r["tf"], r["score_micro"], r["rank"])
            )
        for d in got:
            got[d].sort(key=lambda x: x[3])
        assert got == want

    def test_tfidf_rare_term_beats_common(self, spark):
        """A token unique to one doc outranks a token present in every
        doc, regardless of raw tf."""
        rows = [
            (1, "common common common rareterm"),
            (2, "common filler2"),
            (3, "common filler3"),
        ]
        out = analysis.tfidf_topk(_docs(spark, rows), k=1).collect()
        top = {r["doc_id"]: r["tok"] for r in out}
        assert top[1] == "rareterm"


class TestBpeMergeCounts:
    def test_matches_plain_python_trainer_count(self, spark):
        """Pair table == the reference BPE first-iteration count over
        the word-frequency table: per-word adjacent char pairs weighted
        by word count, repeats inside a word counted per occurrence."""
        import random
        from collections import Counter

        rng = random.Random(13)
        alphabet = "abcde"
        words = ["".join(rng.choice(alphabet)
                         for _ in range(rng.randint(1, 7)))
                 for _ in range(30)]
        rows = [
            (d, " ".join(rng.choice(words)
                         for _ in range(rng.randint(2, 12))))
            for d in range(40)
        ]
        wcnt = Counter(
            w for _, s in rows for w in s.split(" ") if len(w) >= 2
        )
        pc = Counter()
        for w, n in wcnt.items():
            for i in range(len(w) - 1):
                pc[(w[i], w[i + 1])] += n
        want = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        want = [(a, b, n, i + 1)
                for i, ((a, b), n) in enumerate(want)]
        got = [
            (r["sym_a"], r["sym_b"], r["pair_count"], r["rank"])
            for r in analysis.bpe_merge_counts(_docs(spark, rows), k=10)
            .orderBy("rank")
            .collect()
        ]
        assert got == want

    def test_repeat_pair_inside_word_counts_per_occurrence(self, spark):
        """'aaa' contributes TWO (a,a) pairs per word instance — the
        reference algorithm's counting, not distinct-pair-per-word."""
        out = analysis.bpe_merge_counts(
            _docs(spark, [(1, "aaa aaa x")]), k=5
        ).collect()
        assert [(r["sym_a"], r["sym_b"], r["pair_count"], r["rank"])
                for r in out] == [("a", "a", 4, 1)]

    def test_short_words_produce_no_pairs(self, spark):
        out = analysis.bpe_merge_counts(
            _docs(spark, [(1, "a b c ab")]), k=5
        ).collect()
        assert [(r["sym_a"], r["sym_b"], r["pair_count"])
                for r in out] == [("a", "b", 1)]


class TestLengthQuantiles:
    def test_matches_inverse_cdf_spec(self, spark):
        """(source, q) rows == the plain-python inverse-CDF quantile:
        smallest length v with |{docs: len <= v}| >= ceil(q% * n)."""
        import math
        import random

        rng = random.Random(7)
        rows = [
            (d, " ".join("w" for _ in range(rng.randint(1, 40))),
             rng.choice(["web", "books", "code"]))
            for d in range(200)
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        by_src = {}
        for _, text, src in rows:
            by_src.setdefault(src, []).append(len(text.split(" ")))
        want = set()
        for src, lens in by_src.items():
            lens.sort()
            n = len(lens)
            for q in (25, 50, 75, 95, 99):
                want.add((src, q, n, lens[math.ceil(q * n / 100) - 1]))
        got = {
            (r["source"], r["q"], r["n_docs"], r["ntok_q"])
            for r in analysis.length_quantiles(docs).collect()
        }
        assert got == want

    def test_single_doc_all_quantiles_equal(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c", "s")], "doc_id long, text string, source string"
        )
        out = analysis.length_quantiles(docs).collect()
        assert len(out) == 5
        assert {(r["n_docs"], r["ntok_q"]) for r in out} == {(1, 3)}


class TestPerplexityBuckets:
    def _corpus(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )

    def test_matches_tercile_spec_on_real_scores(self, spark):
        """Buckets == plain-python terciles computed from the engine's
        OWN lm_perplexity scores (tests the CDF/threshold logic without
        re-implementing float rounding)."""
        import math
        import random

        rng = random.Random(11)
        vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
        rows = [
            (d, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(3, 15))),
             rng.choice(["en", "de"]))
            for d in range(60)
        ]
        docs = self._corpus(spark, rows)
        scores = {
            r["doc_id"]: r["bits_per_token"]
            for r in analysis.lm_perplexity(
                docs.select("doc_id", "text")
            ).collect()
        }
        lang_of = {d: lang for d, _, lang in rows}
        by_lang = {}
        for d, s in scores.items():
            by_lang.setdefault(lang_of[d], []).append(s)
        thr = {}
        for lang, vals in by_lang.items():
            vals.sort()
            n = len(vals)
            thr[lang] = (
                vals[math.ceil(n / 3) - 1],
                vals[math.ceil(2 * n / 3) - 1],
            )
        def bucket(d):
            t1, t2 = thr[lang_of[d]]
            s = scores[d]
            return "head" if s <= t1 else ("middle" if s <= t2 else "tail")
        got = {
            r["doc_id"]: (r["lang"], r["bits_per_token"], r["bucket"])
            for r in analysis.perplexity_buckets(docs).collect()
        }
        assert got == {
            d: (lang_of[d], scores[d], bucket(d)) for d in scores
        }

    def test_all_equal_scores_land_in_head(self, spark):
        """Identical docs -> identical scores -> t1 covers everything;
        boundary ties share the LOWER bucket by spec."""
        docs = self._corpus(
            spark, [(d, "same text here", "en") for d in range(9)]
        )
        out = analysis.perplexity_buckets(docs).collect()
        assert len(out) == 9
        assert {r["bucket"] for r in out} == {"head"}

    def test_bucket_ordering_is_monotone(self, spark):
        import random

        rng = random.Random(5)
        vocab = ["a", "bb", "ccc", "dddd", "rare1", "rare2", "rare3"]
        docs = self._corpus(
            spark,
            [(d, " ".join(rng.choice(vocab)
                          for _ in range(rng.randint(2, 10))), "en")
             for d in range(30)],
        )
        rows = analysis.perplexity_buckets(docs).collect()
        by_bucket = {}
        for r in rows:
            by_bucket.setdefault(r["bucket"], []).append(
                r["bits_per_token"]
            )
        if "middle" in by_bucket:
            assert max(by_bucket["head"]) < min(by_bucket["middle"])
        if "tail" in by_bucket:
            lower = by_bucket.get("middle") or by_bucket["head"]
            assert max(lower) < min(by_bucket["tail"])


class TestGopherRules:
    def test_each_rule_fires_on_its_planted_doc(self, spark):
        good = "the cat and dog ran to a tree in the park and sat on it"
        docs = _docs(spark, [
            (1, good),                                   # all rules pass
            (2, "the and of"),                           # too few words
            (3, "the " + "supercalifragilistic " * 19),  # mean len high
            (4, "a a a a a " * 4),                       # mean len low
            (5, good + " ### ... ... ### #"),            # symbols high
            (6, "the 123 456 789 000 111 222 333 444 a"),  # alpha low
            (7, "cats dogs birds fish mice foxes wolves bears deer "
                "hawks"),                                # no stopwords
        ])
        out = {r["doc_id"]: r for r in analysis.gopher_rules(
            docs, min_words=10, max_words=40,
            min_mean_word_len=2.0, max_mean_word_len=6.0,
        ).collect()}
        assert out[1]["keep"]
        assert not out[2]["ok_words"] and not out[2]["keep"]
        assert not out[3]["ok_word_len"]
        assert not out[4]["ok_word_len"]
        assert not out[5]["ok_symbols"] and out[5]["symbol_ratio"] > 0.1
        assert not out[6]["ok_alpha"] and out[6]["alpha_ratio"] == 0.2
        assert not out[7]["ok_stop"] and out[7]["n_stop"] == 0
        # exact audit numbers on the clean doc
        assert out[1]["n_words"] == 15 and out[1]["n_stop"] >= 2

    def test_word_count_bounds_inclusive(self, spark):
        docs = _docs(spark, [(1, "the a is of to"), (2, "the a is of")])
        out = {r["doc_id"]: r for r in analysis.gopher_rules(
            docs, min_words=5, max_words=5,
            min_mean_word_len=1.0, max_mean_word_len=9.0,
        ).collect()}
        assert out[1]["ok_words"] and not out[2]["ok_words"]


class TestDsirWeights:
    def test_target_like_docs_score_higher(self, spark):
        # target vocabulary {alpha beta gamma}; raw corpus mixes it
        # with an off-domain vocabulary {zeta eta theta}.
        rows = [(i, "alpha beta gamma alpha beta") for i in range(10)]
        rows += [(100 + i, "zeta eta theta zeta eta") for i in range(10)]
        rows += [(200, "alpha beta gamma beta alpha"),   # target-like
                 (201, "zeta eta theta eta zeta")]       # off-domain
        docs = spark.createDataFrame(
            [(i, t, "en" if i < 10 else "xx", "s", 1) for i, t in rows],
            "doc_id long, text string, lang string, source string,"
            " n_chars long")
        out = {r["doc_id"]: r["dsir_weight"] for r in
               analysis.dsir_weights(docs).collect()}
        # absolute sign is smoothing-dependent at toy corpus sizes
        # (add-one over n_buckets dominates 50-token models); the
        # resampling-relevant property is the ORDERING.
        assert out[200] > out[201]
        assert out[201] == min(out.values())
        assert max(out, key=out.get) < 100  # a pure-target doc tops

    def test_exact_integer_and_partitioning_free(self, spark):
        docs = spark.createDataFrame(
            [(i, f"tok{i % 7} tok{i % 3} tok{i % 11} filler{i % 5}",
              "en" if i % 2 == 0 else "de", "s", 1) for i in range(60)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long")
        a = sorted(map(tuple, analysis.dsir_weights(
            docs.repartition(1)).collect()))
        b = sorted(map(tuple, analysis.dsir_weights(
            docs.repartition(13)).collect()))
        assert a == b  # bit-for-bit, not approximately
        assert all(isinstance(r[2], int) for r in a)


class TestCorpusShuffle:
    def test_exact_permutation_and_bucket_invariance(self, spark):
        docs = _docs(spark, [(i, f"d{i}") for i in range(97)])
        out = packing.corpus_shuffle(docs, seed="s0", n_buckets=16)
        rows = sorted((r["pos"], r["doc_id"]) for r in out.collect())
        assert [p for p, _ in rows] == list(range(97))
        # the decomposition never changes the result: 1 bucket (the
        # naive global window) == 16 buckets == per-row buckets
        for nb in (1, 1 << 20):
            alt = sorted(
                (r["pos"], r["doc_id"])
                for r in packing.corpus_shuffle(
                    docs, seed="s0", n_buckets=nb).collect())
            assert alt == rows

    def test_seed_changes_order_layout_does_not(self, spark):
        docs = _docs(spark, [(i, f"d{i}") for i in range(80)])
        base = sorted((r["doc_id"], r["pos"]) for r in
                      packing.corpus_shuffle(docs, seed="s0").collect())
        relaid = sorted((r["doc_id"], r["pos"]) for r in
                        packing.corpus_shuffle(
                            docs.repartition(11), seed="s0").collect())
        assert base == relaid
        other = sorted((r["doc_id"], r["pos"]) for r in
                       packing.corpus_shuffle(docs, seed="s1").collect())
        assert other != base
        assert sorted(p for _, p in other) == list(range(80))


class TestShuffledShards:
    def test_matches_python_reference_and_reconciles(self, spark):
        import hashlib

        docs = _docs(spark, [
            (i, " ".join("w" for _ in range(3 + i % 7)))
            for i in range(50)
        ])
        shuffled = packing.corpus_shuffle(docs, seed="s0", n_buckets=8)
        tokens = analysis.token_count(docs).join(
            shuffled.select("doc_id", "pos"), "doc_id")
        out = packing.token_shards(
            docs, budget=16, tokens=tokens, bucket_width=8,
            order_col="pos")
        got = {r["doc_id"]: (r["n_tokens"], r["shard_id"])
               for r in out.collect()}

        # plain-python model: sort by md5 key, exclusive cumsum
        def key(i):
            return (hashlib.md5(f"{i}:s0".encode()).hexdigest()[:8], i)

        order = sorted(range(50), key=key)
        cum, want = 0, {}
        for i in order:
            n = 3 + i % 7
            want[i] = (n, cum // 16)
            cum += n
        assert got == want
        # shard sums reconcile to the corpus total
        by_shard = {}
        for n, s in got.values():
            by_shard[s] = by_shard.get(s, 0) + n
        assert sum(by_shard.values()) == cum


class TestBigramPerplexity:
    def test_matches_plain_python_model(self, spark):
        """bits_per_token == the hand-computed model: first token by
        add-one unigram, positions 2..n by the add-one bigram
        conditional, through the same micro-bit rounding."""
        import math
        from collections import Counter

        rows = [
            (1, "the cat sat"),
            (2, "the cat ran"),
            (3, "the dog sat sat"),
        ]
        toks = [t for _, s in rows for t in s.split(" ")]
        c1 = Counter(toks)
        c2 = Counter(
            (ts[i - 1], ts[i])
            for _, s in rows
            for ts in [s.split(" ")]
            for i in range(1, len(ts))
        )
        n, v = len(toks), len(c1)
        lp1 = {
            t: round(math.log2((k + 1) / (n + v)) * 1e6)
            for t, k in c1.items()
        }

        def lp2(prev, tok):
            return round(
                math.log2((c2[(prev, tok)] + 1) / (c1[prev] + v)) * 1e6
            )

        out = {
            r["doc_id"]: r
            for r in analysis.bigram_perplexity(_docs(spark, rows)).collect()
        }
        for doc_id, s in rows:
            ts = s.split(" ")
            total = lp1[ts[0]] + sum(
                lp2(ts[i - 1], ts[i]) for i in range(1, len(ts))
            )
            want = round(-total / len(ts) / 1e6, 4)
            assert out[doc_id]["n_tokens"] == len(ts)
            assert out[doc_id]["bits_per_token"] == pytest.approx(want)

    def test_predictable_context_scores_fewer_bits(self, spark):
        """A doc made of corpus-frequent bigrams scores fewer
        bits/token than one of never-seen transitions over the same
        vocabulary."""
        base = [(i, "a b a b a b a b") for i in range(1, 6)]
        rows = base + [(10, "a b a b a b"), (11, "b b a a b b")]
        out = {
            r["doc_id"]: r["bits_per_token"]
            for r in analysis.bigram_perplexity(_docs(spark, rows)).collect()
        }
        assert out[10] < out[11]

    def test_single_token_doc_scores_by_unigram_only(self, spark):
        import math

        rows = [(1, "x"), (2, "x y")]
        # corpus: tokens x,x,y -> n=3, v=2; c(x)=2
        want = round(-round(math.log2(3 / 5) * 1e6) / 1 / 1e6, 4)
        out = {
            r["doc_id"]: r
            for r in analysis.bigram_perplexity(_docs(spark, rows)).collect()
        }
        assert out[1]["n_tokens"] == 1
        assert out[1]["bits_per_token"] == pytest.approx(want)


def _sdocs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


class TestDatasetSplit:
    def test_fences_and_determinism(self, spark):
        """Every doc lands in exactly one split, by its md5 bucket
        against the 90/95 fences, and assignment is identical across
        calls (content-stable, no RNG)."""
        rows = [(i, f"doc {i}", f"s{i % 3}") for i in range(200)]
        a = analysis.dataset_split(_sdocs(spark, rows)).collect()
        b = analysis.dataset_split(_sdocs(spark, rows)).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        for r in a:
            want = (
                "train"
                if r["bucket"] < 90
                else ("val" if r["bucket"] < 95 else "test")
            )
            assert r["split"] == want
        got = {r["split"] for r in a}
        assert got == {"train", "val", "test"}

    def test_split_stats_reconciles(self, spark):
        """split_stats sums == corpus totals, per source."""
        rows = [
            (i, " ".join(["w"] * (1 + i % 5)), f"s{i % 2}")
            for i in range(100)
        ]
        docs = _sdocs(spark, rows)
        stats = analysis.split_stats(docs).collect()
        assert sum(r["n_docs"] for r in stats) == 100
        want_tokens = sum(1 + i % 5 for i in range(100))
        assert sum(r["n_tokens"] for r in stats) == want_tokens
        per_source = {}
        for r in stats:
            per_source[r["source"]] = per_source.get(r["source"], 0) + r["n_docs"]
        assert per_source == {"s0": 50, "s1": 50}

    def test_custom_pcts(self, spark):
        rows = [(i, "t", "s") for i in range(300)]
        out = analysis.dataset_split(
            _sdocs(spark, rows), pcts=(50, 25, 25)
        ).collect()
        for r in out:
            want = (
                "train"
                if r["bucket"] < 50
                else ("val" if r["bucket"] < 75 else "test")
            )
            assert r["split"] == want


class TestCorpusManifest:
    def test_counts_and_dup_rate(self, spark):
        rows = [
            (1, "alpha beta", "web"),
            (2, "alpha beta", "web"),     # exact dup of 1
            (3, "gamma", "web"),
            (4, "alpha beta", "books"),   # cross-source member of the family
            (5, "delta eps zeta", "books"),
        ]
        out = {
            r["source"]: r
            for r in analysis.corpus_manifest(_sdocs(spark, rows)).collect()
        }
        assert out["web"]["n_docs"] == 3
        assert out["web"]["n_tokens"] == 5
        assert out["web"]["n_dup_docs"] == 2
        assert out["web"]["dup_frac"] == pytest.approx(round(2 / 3, 6))
        assert out["books"]["n_docs"] == 2
        assert out["books"]["n_dup_docs"] == 1

    def test_unique_corpus_has_zero_dups(self, spark):
        rows = [(i, f"uniq {i}", "s") for i in range(10)]
        out = analysis.corpus_manifest(_sdocs(spark, rows)).collect()
        assert out[0]["n_dup_docs"] == 0
        assert out[0]["dup_frac"] == 0.0


class TestProductQuantization:
    """PQ codebook / codes / ADC (similarity.pq_*)."""

    @staticmethod
    def _vecs(n=48, d=8, seed=5):
        import numpy as np

        rng = np.random.RandomState(seed)
        base = rng.randn(4, d) * 2
        return np.array(
            [base[i % 4] + 0.1 * rng.randn(d) for i in range(n)]
        )

    def _emb(self, spark, vecs):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )

    def test_matches_numpy_lloyds_per_subspace(self, spark):
        """pq_train + pq_codes == a plain-numpy per-subspace Lloyd's
        with the same init / round(L2, 6) / lowest-code tie-break."""
        import numpy as np

        vecs = self._vecs()
        n_subs, n_codes, n_iters, dp = 4, 4, 2, 6
        sd = vecs.shape[1] // n_subs
        want_codes = {}
        books = {}
        for s in range(n_subs):
            sub = vecs[:, s * sd : (s + 1) * sd]
            cents = {c: sub[c].copy() for c in range(n_codes)}
            for it in range(n_iters + 1):  # last pass = assignment only
                ids = sorted(cents)
                d = np.round(
                    np.linalg.norm(
                        sub[:, None, :]
                        - np.array([cents[c] for c in ids])[None],
                        axis=2,
                    ),
                    dp,
                )
                assign = [ids[j] for j in d.argmin(axis=1)]
                if it == n_iters:
                    break
                new = {}
                for c in ids:
                    members = sub[[a == c for a in assign]]
                    if len(members):
                        new[c] = np.round(members.mean(axis=0), dp)
                cents = new
            books[s] = cents
            for v, c in enumerate(assign):
                want_codes[(v, s)] = c

        emb = self._emb(spark, vecs)
        cb = similarity.pq_train(
            emb, n_subs=n_subs, n_codes=n_codes, n_iters=n_iters
        )
        got_book = {
            (r.sub_id, r.code): r.centroid for r in cb.collect()
        }
        import numpy as np

        for s, cents in books.items():
            for c, want in cents.items():
                assert np.allclose(got_book[(s, c)], want, atol=1e-9)
        got = {
            (r.vec_id, r.sub_id): r.code
            for r in similarity.pq_codes(
                emb, cb, n_subs=n_subs
            ).collect()
        }
        assert got == want_codes

    def test_adc_approximates_exact_l2(self, spark):
        """ADC top-1 on tightly clustered data lands in the query's
        planted cluster (codes collapse each cluster to one tuple),
        and adist is within the quantization error of the exact
        squared L2."""
        import numpy as np

        vecs = self._vecs(n=40, seed=9)
        emb = self._emb(spark, vecs)
        cb = similarity.pq_train(emb, n_subs=4, n_codes=4, n_iters=2)
        out = similarity.pq_adc_topk(
            emb, cb, n_queries=4, k=3, n_subs=4
        ).collect()
        assert {r.q_id for r in out} == {0, 1, 2, 3}
        for r in out:
            if r.rank == 1:
                # same planted cluster as the query
                assert r.vec_id % 4 == r.q_id % 4
                exact = float(
                    np.sum((vecs[r.q_id] - vecs[r.vec_id]) ** 2)
                )
                assert abs(r.adist - exact) < 1.0  # quantization error

    def test_corpus_never_shuffles(self, spark):
        """Training's only exchanges aggregate on (sub_id, code[, pos])
        keys; encode (pq_assign) is a single projection against one
        broadcast codebook row — no exchange keyed on vec_id or the
        raw vectors anywhere."""
        import re

        emb = self._emb(spark, self._vecs(n=20))
        cb = similarity.pq_train(emb, n_subs=4, n_codes=2, n_iters=2)
        plan = cb._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        for keys in re.findall(
            r"Exchange hashpartitioning\(([^)]*)\)", plan
        ):
            assert "vec_id" not in keys and "embedding" not in keys
            assert "sub_id" in keys
        codes = similarity.pq_assign(emb, cb, n_subs=4)
        cplan = codes._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in cplan
        # the only exchanges are the (tiny) codebook branch's own
        # training aggregations — never the corpus
        for keys in re.findall(
            r"Exchange hashpartitioning\(([^)]*)\)", cplan
        ):
            assert "vec_id" not in keys and "embedding" not in keys
            assert "sub_id" in keys

    def test_dropped_codeword_survives(self, spark):
        """A codeword whose cell empties drops out of the codebook and
        encoding still succeeds (classic Lloyd's, mirrored by the
        oracle's inner-join shape)."""
        import numpy as np

        # two tight clusters, 4 init codes -> at least one code starves
        rng = np.random.RandomState(2)
        base = rng.randn(2, 8) * 5
        vecs = np.array(
            [base[i % 2] + 0.01 * rng.randn(8) for i in range(24)]
        )
        emb = self._emb(spark, vecs)
        cb = similarity.pq_train(emb, n_subs=4, n_codes=4, n_iters=2)
        per_sub = {}
        for r in cb.collect():
            per_sub.setdefault(r.sub_id, set()).add(r.code)
        assert all(len(cs) <= 4 for cs in per_sub.values())
        codes = similarity.pq_codes(emb, cb).collect()
        assert len(codes) == 24 * 4
        for r in codes:
            assert r.code in per_sub[r.sub_id]


class TestIvfPq:
    """IVF-PQ composition (similarity.ivf_residuals / ivfpq_topk)."""

    def test_residuals_are_exact_and_zero_for_centroids(self, spark):
        import numpy as np

        rng = np.random.RandomState(21)
        vecs = rng.randn(30, 8)
        emb = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(30)],
            "vec_id long, embedding array<double>",
        )
        res = {
            r.vec_id: (r.cell_id, r.embedding)
            for r in similarity.ivf_residuals(emb, n_cells=4).collect()
        }
        assert len(res) == 30
        for i in range(4):  # a centroid's own residual is exactly zero
            assert res[i][0] == i
            assert all(x == 0.0 for x in res[i][1])
        for i, (cell, r) in res.items():
            assert np.allclose(np.array(r) + vecs[cell], vecs[i])

    def test_probed_cell_only_and_rank_contract(self, spark):
        """Every result lies in its query's coarse cell; ranks are
        1..k dense per query; queries start past the centroids (their
        residuals are zero by construction)."""
        import numpy as np

        rng = np.random.RandomState(22)
        base = rng.randn(4, 8) * 3
        vecs = np.array(
            [base[i % 4] + 0.3 * rng.randn(8) for i in range(64)]
        )
        emb = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(64)],
            "vec_id long, embedding array<double>",
        )
        cells = {
            r.vec_id: r.cell_id
            for r in similarity.ivf_residuals(emb, n_cells=4).collect()
        }
        out = similarity.ivfpq_topk(
            emb, n_cells=4, n_queries=4, k=3, n_codes=4
        ).collect()
        assert {r.q_id for r in out} == {4, 5, 6, 7}  # q_lo = n_cells
        per_q = {}
        for r in out:
            assert cells[r.vec_id] == cells[r.q_id]
            assert r.vec_id != r.q_id
            per_q.setdefault(r.q_id, []).append(r.rank)
        for ranks in per_q.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))

    def test_registry_query_ranks_by_distance(self, spark):
        """The registry's emb_ivfpq_topk on sf0.01: every query's top 5
        holds at least two distinct ADC distances, so the rank order
        checks the distance ranking, not only the vec_id tie-break."""
        from py_pdf_parser_spark.queries import emb_ivfpq_topk

        per_q = {}
        for r in emb_ivfpq_topk(spark, "/root/testdata/sf0.01").collect():
            per_q.setdefault(r.q_id, set()).add(r.adist)
        assert len(per_q) == 10
        assert all(len(dists) >= 2 for dists in per_q.values()), per_q

    def test_codebook_does_not_collapse_on_zero_residuals(self, spark):
        """The first n_cells vectors are the coarse centroids, so their
        residuals are zero.  Training seeds from the first n_codes
        vec_ids of the TRAINING input (vec_id >= n_cells), so a subspace
        keeps more than one codeword and a query's top-k ADC distances
        are not all one value."""
        import numpy as np

        rng = np.random.RandomState(23)
        base = rng.randn(4, 8) * 3
        vecs = np.array(
            [base[i % 4] + 0.3 * rng.randn(8) for i in range(64)]
        )
        emb = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(64)],
            "vec_id long, embedding array<double>",
        )
        res = similarity.ivf_residuals(emb, n_cells=4)
        cb = similarity.pq_train(
            res.where(F.col("vec_id") >= 4).select("vec_id", "embedding"),
            n_codes=4,
        ).collect()
        per_sub = {}
        for r in cb:
            per_sub.setdefault(r.sub_id, set()).add(r.code)
        assert any(len(codes) > 1 for codes in per_sub.values())
        out = similarity.ivfpq_topk(
            emb, residuals=res, n_cells=4, n_queries=4, k=3, n_codes=4
        ).collect()
        dists = {}
        for r in out:
            dists.setdefault(r.q_id, set()).add(r.adist)
        assert len(dists) == 4
        assert any(len(d) > 1 for d in dists.values())


def _round_half_up(x: float, dp: int) -> float:
    """Spark's round() on a double: HALF_UP on the shortest decimal repr."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp), ROUND_HALF_UP)
    )


def _fold_sum(values) -> float:
    """Left-to-right sum from 0.0, the order of Spark's aggregate()."""
    acc = 0.0
    for v in values:
        acc += float(v)
    return acc


class TestSimilarityInvariants:
    """Oracle-independent properties of the search building blocks,
    checked against plain numpy on seeded vectors."""

    def _emb(self, spark, vecs):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )

    def test_single_cell_ivf_equals_exact_topk(self, spark):
        import numpy as np

        emb = self._emb(spark, np.random.RandomState(31).randn(40, 8))
        ivf = similarity.ivf_topk(emb, n_queries=6, k=4, n_cells=1)
        exact = similarity.cosine_topk(emb, n_queries=6, k=4)
        got = sorted(tuple(r) for r in ivf.collect())
        assert got == sorted(tuple(r) for r in exact.collect())
        assert len(got) == 6 * 4

    def test_single_cell_semantic_pairs_equal_brute_force(self, spark):
        import numpy as np

        rng = np.random.RandomState(32)
        base = rng.randn(6, 8)
        vecs = np.array([base[i % 6] + 0.3 * rng.randn(8) for i in range(48)])
        threshold = 0.9

        def cos(a, b):
            dot = _fold_sum(a * b)
            return dot / (
                np.sqrt(_fold_sum(a * a)) * np.sqrt(_fold_sum(b * b))
            )

        want = set()
        for i in range(len(vecs)):
            for j in range(i + 1, len(vecs)):
                c = _round_half_up(cos(vecs[i], vecs[j]), 4)
                if c >= threshold:
                    want.add((i, j, c))
        got = {
            tuple(r)
            for r in similarity.semantic_dup_pairs(
                self._emb(spark, vecs), threshold=threshold, n_cells=1,
                max_bucket=len(vecs),
            ).collect()
        }
        assert got == want
        assert 0 < len(want) < len(vecs) * (len(vecs) - 1) // 2

    @staticmethod
    def _adist(q, codes, codebook, n_subs):
        """ADC distance from the returned codebook and codes: per
        subspace the 6dp squared distance to the coded codeword, summed
        in sub_id order and rounded to 4dp."""
        import numpy as np

        w = len(q) // n_subs
        parts = []
        for s in range(n_subs):
            d = np.asarray(q[s * w:(s + 1) * w]) - codebook[(s, codes[s])]
            parts.append(_round_half_up(_fold_sum(d * d), 6))
        return _round_half_up(_fold_sum(parts), 4)

    def _check_adc(self, rows, queries, codes, codebook, n_subs, k,
                   candidates):
        got = {(r.q_id, r.vec_id): (r.adist, r.rank) for r in rows}
        want = {}
        for q_id, q in queries.items():
            scored = sorted(
                (self._adist(q, codes[v], codebook, n_subs), v)
                for v in candidates(q_id)
            )
            for rank, (adist, v) in enumerate(scored[:k], start=1):
                want[(q_id, v)] = (adist, rank)
        assert got == want
        assert len(want) == len(queries) * k

    def test_pq_adc_distances_match_numpy(self, spark):
        import numpy as np

        vecs = np.random.RandomState(33).randn(40, 8)
        emb = self._emb(spark, vecs)
        cb = similarity.pq_train(emb, n_subs=4, n_codes=8)
        codes = similarity.pq_assign(emb, cb, n_subs=4)
        rows = similarity.pq_adc_topk(
            emb, cb, codes=codes, n_queries=5, k=4, n_subs=4
        ).collect()
        codebook = {(r.sub_id, r.code): np.array(r.centroid)
                    for r in cb.collect()}
        code_of = {r.vec_id: r.codes for r in codes.collect()}
        self._check_adc(
            rows, {i: vecs[i] for i in range(5)}, code_of, codebook, 4, 4,
            lambda q_id: [v for v in code_of if v != q_id],
        )

    def test_ivfpq_adc_distances_match_numpy(self, spark):
        import numpy as np

        rng = np.random.RandomState(34)
        base = rng.randn(3, 8) * 3
        vecs = np.array([base[i % 3] + rng.randn(8) for i in range(60)])
        emb = self._emb(spark, vecs)
        res = similarity.ivf_residuals(emb, n_cells=3)
        cb = similarity.pq_train(
            res.select("vec_id", "embedding"), n_subs=4, n_codes=4
        )
        rows = similarity.ivfpq_topk(
            emb, residuals=res, codebook=cb, n_cells=3, n_queries=4, k=3,
            n_subs=4,
        ).collect()
        codebook = {(r.sub_id, r.code): np.array(r.centroid)
                    for r in cb.collect()}
        code_of = {r.vec_id: r.codes
                   for r in similarity.pq_assign(res, cb, n_subs=4).collect()}
        resid = {r.vec_id: (r.cell_id, r.embedding) for r in res.collect()}
        self._check_adc(
            rows, {i: resid[i][1] for i in range(3, 7)}, code_of, codebook,
            4, 3,
            lambda q_id: [v for v in code_of if v != q_id
                          and resid[v][0] == resid[q_id][0]],
        )


class TestBm25:
    """analysis.bm25_topk: Okapi BM25 retrieval for targeted curation."""

    def _py_bm25(self, texts, queries, k1=1.2, b=0.75):
        """Plain-python reference with the same fixed-point contract."""
        import math

        toks = {d: t.split(" ") for d, t in texts.items()}
        n_docs = len(texts)
        tot = sum(len(t) for t in toks.values())
        avgdl = float(tot) / float(n_docs)
        out = {}
        for q_id, terms in queries:
            scores = {}
            for d, t in toks.items():
                s = 0
                for term in terms:
                    tf = t.count(term)
                    if tf == 0:
                        continue
                    df = sum(1 for tt in toks.values() if term in tt)
                    idf = round(
                        math.log2((n_docs + 1.0) / (df + 1.0)) * 1e6
                    )
                    s += round(
                        idf * (tf * 2.2)
                        / (tf + k1 * (0.25 + 0.75 * (len(t) / avgdl)))
                    )
                if s:
                    scores[d] = s
            out[q_id] = sorted(
                scores.items(), key=lambda kv: (-kv[1], kv[0])
            )
        return out

    def test_differential_vs_plain_python(self, spark):
        texts = {
            0: "spark merge window merge merge",
            1: "spark window",
            2: "hash join scan join",
            3: "the quick brown fox",
            4: "spark spark spark spark spark spark spark spark",
            5: "merge window spark hash",
        }
        queries = ((0, ("spark", "window", "merge")), (1, ("hash", "join")))
        docs = _docs(spark, list({(d, t) for d, t in texts.items()}))
        got = {
            (r.q_id, r.doc_id): (r.score_micro, r.rank)
            for r in analysis.bm25_topk(docs, queries=queries, k=10).collect()
        }
        want = self._py_bm25(texts, queries)
        for q_id, ranking in want.items():
            for rank, (d, s) in enumerate(ranking[:10], start=1):
                assert got[(q_id, d)] == (s, rank), (q_id, d)
        assert len(got) == sum(len(v) for v in want.values())

    def test_length_normalization_prefers_shorter_doc(self, spark):
        # same tf for the query term, one doc padded with filler:
        # BM25's dl/avgdl penalty must rank the short doc first.
        docs = _docs(
            spark,
            [
                (0, "spark alpha"),
                (1, "spark " + " ".join(["filler"] * 30)),
            ],
        )
        out = analysis.bm25_topk(docs, queries=((0, ("spark",)),)).collect()
        by_rank = {r.rank: r.doc_id for r in out}
        assert by_rank[1] == 0 and by_rank[2] == 1

    def test_only_matching_docs_and_dense_ranks(self, spark):
        docs = _docs(
            spark,
            [(i, "spark data" if i % 3 == 0 else "other text") for i in range(12)],
        )
        out = analysis.bm25_topk(
            docs, queries=((7, ("spark",)),), k=3
        ).collect()
        assert {r.q_id for r in out} == {7}
        assert all(r.doc_id % 3 == 0 for r in out)
        assert sorted(r.rank for r in out) == [1, 2, 3]


class TestBm25Model:
    """bm25_model / bm25_score: the frozen-artifact scoring path."""

    def test_model_scoring_reproduces_bm25_topk(self, spark):
        """Scoring a corpus against a model trained on it gives the
        same score_micro values bm25_topk computes end-to-end."""
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        model = analysis.bm25_model(docs)
        scores = {
            (r.q_id, r.doc_id): r.score_micro
            for r in analysis.bm25_score(docs, model).collect()
        }
        for r in analysis.bm25_topk(docs, k=10).collect():
            assert scores[(r.q_id, r.doc_id)] == r.score_micro

    def test_frozen_stats_do_not_drift_with_new_docs(self, spark):
        """The model's df/avgdl come from the training corpus: scoring
        the same doc alone or alongside others yields identical rows."""
        ref = _docs(spark, [(i, "spark merge window data") for i in range(8)])
        model = analysis.bm25_model(
            ref, queries=((0, ("spark", "merge")),)
        ).persist()
        solo = _docs(spark, [(100, "spark spark merge")])
        both = _docs(
            spark, [(100, "spark spark merge"), (101, "spark " * 50)]
        )
        s1 = {tuple(r) for r in analysis.bm25_score(solo, model).collect()}
        s2 = {
            tuple(r)
            for r in analysis.bm25_score(both, model).collect()
            if r.doc_id == 100
        }
        assert s1 == s2 and len(s1) == 1


class TestDedupAgainstIndex:
    """dedup.dedup_against_index: incremental crawl-update dedup."""

    def _mk(self, base, noise):
        words = (base * 12).split()
        return " ".join(words[:40] + noise.split())

    def test_flags_only_true_near_dups_with_best_match(self, spark):
        body = "alpha beta gamma delta epsilon zeta eta theta "
        idx = _docs(
            spark,
            [
                (1, self._mk(body, "tail one")),
                (2, self._mk(body, "tail one extra")),
                (3, "completely different content " * 10),
            ],
        )
        new = _docs(
            spark,
            [
                (100, self._mk(body, "tail one")),  # exact dup of 1
                (101, "fresh unique text nothing shared " * 8),
            ],
        )
        out = {r.doc_id: (r.dup_of, r.jaccard)
               for r in dedup.dedup_against_index(new, idx).collect()}
        assert set(out) == {100}
        # doc 1 is the identical match (J=1.0); doc 2 is close but lower
        assert out[100][0] == 1 and out[100][1] == 1.0

    def test_index_rep_cap_binds_and_is_audited(self, spark):
        """40 identical index docs share one bucket per band; with
        max_bucket=8 a new copy is verified against each band's first 8
        reps in md5("<band>:<doc_id>") order only, so its dup_of is the
        smallest id among those reps, not the smallest copy.
        bucket_cap_stats on the index bands lists exactly the truncated
        buckets, each dropping n - 8 index docs."""
        import hashlib

        t = " ".join(f"tok{i}" for i in range(30))
        copies = list(range(10, 50))
        idx = _docs(spark, [(d, t) for d in copies]
                    + [(1, "a unique index doc shares no shingles")])
        new = _docs(spark, [(1000, t)])
        cap = 8

        def reps(band):
            return sorted(copies, key=lambda d: (
                hashlib.md5(f"{band}:{d}".encode()).hexdigest(), d
            ))[:cap]

        want = min(d for band in range(dedup.MINHASH_BANDS)
                   for d in reps(band))
        assert want != min(copies)  # an uncapped index would name 10
        got = dedup.dedup_against_index(new, idx, max_bucket=cap).collect()
        assert [tuple(r) for r in got] == [(1000, want, 1.0)]

        banded = dedup.minhash_banded(dedup.minhash_wide(idx)).persist()
        try:
            sizes = banded.groupBy("band", "bucket").count()
            kept = (
                dedup.index_bucket_reps(banded, cap)
                .groupBy("band", "bucket").count()
                .withColumnRenamed("count", "kept")
            )
            truncated = {
                (r.band, r.bucket): r["count"] - r.kept
                for r in sizes.join(kept, ["band", "bucket"]).collect()
                if r.kept < r["count"]
            }
            stats = {
                (r.band, r.bucket): r.n
                for r in dedup.bucket_cap_stats(
                    banded, ["band", "bucket"], cap
                ).collect()
            }
        finally:
            banded.unpersist()
        assert len(stats) == dedup.MINHASH_BANDS
        assert set(stats.values()) == {len(copies)}
        assert truncated == {key: n - cap for key, n in stats.items()}

    def test_frozen_artifacts_reproduce_recompute(self, spark):
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        new = docs.where(F.col("doc_id") % 4 == 0)
        idx = docs.where(F.col("doc_id") % 4 != 0)
        fresh = {tuple(r) for r in
                 dedup.dedup_against_index(new, idx).collect()}
        rows = dedup.shingle_rows(idx, distinct=True).persist()
        banded = dedup.minhash_banded(dedup.minhash_wide(idx)).persist()
        frozen = {tuple(r) for r in dedup.dedup_against_index(
            new, idx, index_banded=banded, index_rows=rows).collect()}
        assert fresh == frozen and len(fresh) > 0
        for _, _, j in fresh:
            assert j >= 0.5


class TestTextStatInvariants:
    """Oracle-independent properties of the fixed-point text-statistics
    building blocks (analysis._micro_log2, _inverse_cdf)."""

    def test_unigram_probabilities_sum_to_one(self, spark):
        """Add-one smoothing over the observed vocab is a distribution:
        sum 2^(lp / 1e6) = 1 up to the micro-bit rounding."""
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        lps = [r.lp for r in analysis.unigram_lm(docs).collect()]
        assert len(lps) > 10
        total = sum(2.0 ** (lp / analysis.LM_MICRO) for lp in lps)
        assert abs(total - 1.0) < 1e-4

    @staticmethod
    def _check_type1(values, t, f, d):
        """t is the Type-1 quantile f/d of values: at least ceil(f*n/d)
        values are <= t and fewer than that are < t."""
        need = -(-f * len(values) // d)
        assert sum(v <= t for v in values) >= need
        assert sum(v < t for v in values) < need

    def test_length_quantiles_type1_rule(self, spark):
        """Every q in 1..100 on sources of 30, 31 and 32 docs (each
        residue of n mod 3), checked against the raw token counts."""
        import random

        rng = random.Random(13)
        rows = []
        for src, n in (("a", 30), ("b", 31), ("c", 32)):
            for _ in range(n):
                text = " ".join("w" for _ in range(rng.randint(1, 60)))
                rows.append((len(rows), text, src))
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        lens = {}
        for _, text, src in rows:
            lens.setdefault(src, []).append(len(text.split(" ")))
        qs = tuple(range(1, 101))
        out = analysis.length_quantiles(docs, qs=qs).collect()
        assert len(out) == 3 * len(qs)
        for r in out:
            assert r.n_docs == len(lens[r.source])
            self._check_type1(lens[r.source], r.ntok_q, r.q, 100)

    def test_perplexity_thresholds_are_terciles(self, spark):
        """Per language: #{score <= t_k} >= ceil(k*n/3) > #{score < t_k}
        over the engine's own scores (n = 30, 31, 32 per language)."""
        import random

        rng = random.Random(17)
        vocab = [f"w{i}" for i in range(40)]
        rows = []
        for lang, n in (("en", 30), ("de", 31), ("fr", 32)):
            for _ in range(n):
                text = " ".join(rng.choice(vocab)
                                for _ in range(rng.randint(3, 20)))
                rows.append((len(rows), text, lang))
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )
        scores = analysis.lm_perplexity(docs.select("doc_id", "text")).join(
            docs.select("doc_id", "lang"), "doc_id"
        )
        by_lang = {}
        for r in scores.collect():
            by_lang.setdefault(r.lang, []).append(r.bits_per_token)
        thr = analysis.perplexity_thresholds(scores).collect()
        assert {r.lang for r in thr} == {"en", "de", "fr"}
        for r in thr:
            self._check_type1(by_lang[r.lang], r.t1, 1, 3)
            self._check_type1(by_lang[r.lang], r.t2, 2, 3)
