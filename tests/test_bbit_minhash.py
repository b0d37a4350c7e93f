"""b-bit minhash: packing bijectivity and estimator accuracy.

The 72-byte signature is only shippable if (a) packing loses nothing
beyond the deliberate 4-bit truncation and (b) the Li & Konig corrected
estimator tracks exact Jaccard within sampling error at 144 perms
(std ~ sqrt(J(1-J)/144) <= 0.042 for the full estimator, ~0.045 after
the b-bit correction).
"""

from __future__ import annotations

import pytest

from mapreduce_spark.operators import dedup
from mapreduce_spark.operators.dedup import (
    BBIT_NIBBLE,
    BBIT_PER_WORD,
    BBIT_WORDS,
    N_PERMS,
    SCALED_PERMS,
    _bs_from_hs,
    _doc_shingle_hashes,
    bbit_jaccard_report,
    minhash_bbit_signatures,
    sig_array_np_from_bs,
    signatures_from_bs,
)


def per_row_sigs(bsf, n_perms):
    """signatures_from_bs's per-row fold kernel at any n_perms (the
    kernel is chosen when the frame is built, so lifting the Arrow cut
    for the call is enough)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "SIG_ARROW_MIN_PERMS", n_perms + 1)
        return signatures_from_bs(bsf, n_perms)


def test_numpy_signature_derivation_is_bit_identical(spark, sf_dir):
    """sig_array_np_from_bs (the Arrow-batched fan-out every scaled-
    profile consumer derives signatures through) must produce EXACTLY
    the same (doc_id, sig) frame as the per-row fold of _minhash_sig
    columns — same base hashes, same (a*h + b) mod P int64 arithmetic —
    at both graded profiles, so band keys, b-bit words and agreement
    counts can never diverge between the two kernels signatures_from_bs
    picks from."""
    bsf = _bs_from_hs(_doc_shingle_hashes(spark, sf_dir))
    for n_perms in (N_PERMS, SCALED_PERMS):
        fold = {
            r["doc_id"]: list(r["sig"])
            for r in per_row_sigs(bsf, n_perms).collect()
        }
        npy = {
            r["doc_id"]: list(r["sig"])
            for r in sig_array_np_from_bs(bsf, n_perms).collect()
        }
        assert fold and fold == npy, n_perms


def test_packing_roundtrips_to_the_nibble_vector(spark, sf_dir):
    bsf = _bs_from_hs(_doc_shingle_hashes(spark, sf_dir))
    sig = {
        r["doc_id"]: r["sig"]
        for r in per_row_sigs(bsf, SCALED_PERMS).collect()
    }
    # bbit_sig ships as the '_'-joined word string (driver-canon-safe);
    # split('_') must recover the exact packed words
    packed = {
        r["doc_id"]: [int(w) for w in r["bbit_sig"].split("_")]
        for r in minhash_bbit_signatures(spark, sf_dir).collect()
    }
    assert set(sig) == set(packed) and sig
    for doc_id, words in packed.items():
        assert len(words) == BBIT_WORDS
        for w, word in enumerate(words):
            assert word >= 0  # 48-bit words never go negative
            for k in range(BBIT_PER_WORD):
                nib = (word >> (4 * k)) & (BBIT_NIBBLE - 1)
                assert nib == sig[doc_id][w * BBIT_PER_WORD + k] % BBIT_NIBBLE


def test_identical_pair_estimates_exactly_one(spark, tmp_path):
    text = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four"
    )
    spark.createDataFrame(
        [(1, "en", text, "s"), (2, "en", text, "s")],
        "doc_id long, lang string, text string, source string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = bbit_jaccard_report(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["jaccard"] == 1.0
    assert r["n_agree_full"] == SCALED_PERMS
    assert r["est_full"] == 1.0 and r["est_bbit"] == 1.0


def test_estimates_track_exact_jaccard_within_sampling_error(spark, sf_dir):
    rows = bbit_jaccard_report(spark, sf_dir).collect()
    assert rows, "testdata should contain verified near-dup pairs"
    for r in rows:
        assert abs(r["est_full"] - r["jaccard"]) <= 0.20, r
        assert abs(r["est_bbit"] - r["jaccard"]) <= 0.30, r
        # the correction can only widen the full estimator's noise, and
        # both estimates live in the corrected domain
        assert r["est_bbit"] <= 1.0 and r["est_full"] <= 1.0
