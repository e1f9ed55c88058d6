"""Borderline-J LSH recall fixture (VERDICT r3 "What's wrong" #1).

The r1-r3 near-dup corpora only contained near-identical families
(J ~ 1), which ANY banding config catches; the statistical risk of a
weak MinHash config is at the dedup threshold (J ~ 0.5).  This suite
plants pairs exactly there (synth.borderline_text: construction-
controlled Jaccard) and asserts

  * the config surface is consistent (bands x rows == permutations),
  * the exact operator recovers the planted ground truth EXACTLY
    (construction math, not another engine, is the oracle here),
  * the 16-band LSH path achieves the recall its formula promises on
    the borderline pairs — the regression harness that would have
    caught the 8-perm/4-band config (recall ~0.68 at J=0.5).
"""

import pytest

pyspark = pytest.importorskip("pyspark")

from py_pdf_parser_spark import synth  # noqa: E402
from py_pdf_parser_spark.textops import dedup  # noqa: E402

SF = 0.01  # 600 docs = 200 planted pairs sweeping J in [0.45, 0.82]


@pytest.fixture(scope="module")
def spark():
    from py_pdf_parser_spark.session import get_spark

    return get_spark(cores=4)


@pytest.fixture(scope="module")
def bl(spark):
    return spark.read.parquet(synth.ensure_borderline_corpus(SF))


def test_minhash_config_is_consistent():
    """bands x rows must equal the permutation count — the r3 bug was
    exactly this drift (docstring said 16 bands, config gave 4)."""
    assert (
        len(dedup.MINHASH_PARAMS)
        == dedup.MINHASH_BANDS * dedup.MINHASH_ROWS_PER_BAND
    )
    assert dedup.MINHASH_BANDS >= 16  # P(candidate | J=0.5) >= 0.99


def test_indivisible_rows_per_band_rejected(spark, bl):
    wide = dedup.minhash_wide(bl)
    with pytest.raises(ValueError, match="does not divide"):
        dedup.minhash_banded(wide, rows_per_band=5)


def test_exact_pairs_match_construction_math(spark, bl):
    """ngram_jaccard_pairs recovers the planted pair set bit-for-bit:
    every (A, B) prefix-share pair at its engineered J, nothing else
    (singletons and cross-group word sets are disjoint)."""
    n_docs = bl.count()
    expected = sorted(synth.borderline_expected_pairs(n_docs))
    got = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(bl, threshold=0.5).collect()
    )
    assert got == expected
    # the sweep really straddles the threshold: below-cutoff pairs exist
    with_low = dedup.ngram_jaccard_pairs(bl, threshold=0.4).collect()
    assert len(with_low) > len(expected)
    assert min(r["jaccard"] for r in with_low) == pytest.approx(0.4545)


def test_lsh_verified_recall_at_threshold(spark, bl):
    """The headline assertion: 16 bands x 2 rows delivers >= 0.97
    recall on pairs planted AT the threshold (J in [0.51, 0.67]),
    with perfect precision (exact verify)."""
    n_docs = bl.count()
    expected = {
        (a, b): j for a, b, j in synth.borderline_expected_pairs(n_docs)
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_lsh_verified(bl, threshold=0.5).collect()
    }
    # precision: every emitted pair is a planted pair at its exact J
    for pair, j in got.items():
        assert expected[pair] == j
    recall = len(got) / len(expected)
    assert recall >= 0.97, f"banding recall {recall} < 0.97"


def test_four_band_config_would_fail_here(spark, bl):
    """Counterfactual: the r3 config (4 bands via rows_per_band=8 on
    the same 32 perms, passed as the ``banded`` table) visibly
    under-recalls on this corpus — proof the fixture has teeth, not
    just that the new config passes."""
    n_docs = bl.count()
    expected = synth.borderline_expected_pairs(n_docs)
    four_bands = dedup.minhash_banded(dedup.minhash_wide(bl), rows_per_band=8)
    got = dedup.jaccard_lsh_verified(
        bl, threshold=0.5, banded=four_bands
    ).collect()
    recall = len(got) / len(expected)
    assert recall < 0.95, (
        f"4-band recall {recall} unexpectedly high — fixture lost teeth"
    )
