"""Byte-level payload SimHash near-dup: planted-variant recall + the
non-collision law.

Exact-digest dedup (multimodal_dedup) only catches byte-identical
payloads; this operator's claim is catching VARIANTS — a payload with a
few bytes changed or a short tail truncated keeps ~all its byte 4-grams,
so its 60-bit signature stays within Hamming 3 of the original. The test
plants exactly those cases among unrelated payloads and asserts the pair
set: variants found, unrelated absent.
"""

from __future__ import annotations

import pytest

from mapreduce_spark.operators.multimodal import (
    MM_SIMHASH_MAX_HAM,
    payload_simhash_pairs,
)


@pytest.fixture(scope="module", name="pairs")
def pairs_fixture(spark):
    # varied (non-repetitive) base: each gram votes once, so a 3-byte
    # edit moves ~7 of ~750 gram votes — well inside Hamming 3 margin
    base = (" ".join(f"token{i} alpha beta" for i in range(40))).encode()
    edited = bytearray(base)
    edited[10:13] = b"XYZ"  # 3-byte edit
    truncated = base[:-20]  # short tail drop
    unrelated1 = ("completely different payload content entirely " * 8).encode()
    unrelated2 = bytes(range(32, 127)) * 4
    rows = [
        (0, bytes(base)),
        (1, bytes(edited)),
        (2, bytes(truncated)),
        (10, unrelated1),
        (11, unrelated2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    return {
        (r["src"], r["dst"]): r["hamming"]
        for r in payload_simhash_pairs(df).collect()
    }


def test_planted_variants_found(pairs):
    """The edited and truncated copies must pair with the original (and
    with each other — both are near the same signature)."""
    for edge in [(0, 1), (0, 2), (1, 2)]:
        assert edge in pairs, f"missing planted near-dup pair {edge}: {pairs}"
        assert pairs[edge] <= MM_SIMHASH_MAX_HAM


def test_unrelated_payloads_not_paired(pairs):
    """Unrelated payloads must NOT land within Hamming 3 of anything —
    the law that separates the 60-bit profile from the degenerate
    16-bit demo width."""
    flat = {d for e in pairs for d in e}
    assert 10 not in flat and 11 not in flat, f"false pairs: {pairs}"


# ---------------------------------------------------------------------------
# Non-ASCII byte discipline: every windowed multimodal oracle must slice
# PAYLOAD BYTES, not characters (r5 ADVICE: the simhash oracle used
# character-based substring(_text, i, 4) indexed by the BYTE count —
# parity held only because the testdata was pure ASCII). This corpus
# mixes 2-, 3- and 4-byte UTF-8 characters across all three media types.
def test_windowed_oracles_byte_exact_on_non_ascii(spark, tmp_path):
    import duckdb

    from mapreduce_spark.registry import REGISTRY

    texts = [
        "café naïve résumé €100 " * 8,   # 2/3-byte
        "日本語のテキスト " * 10,  # CJK
        "emoji \U0001f600\U0001f680 mixed ascii tail " * 6,        # 4-byte
        "plain ascii control row " * 8,
        "ümläuts ßharp and møre " * 9,
        "中文 latin mix éèê " * 10,
    ]
    rows = [(i, t, "xx", "src0", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )

    def canon(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).hex()
        return str(v)

    for name in [
        "multimodal_ingest",
        "multimodal_features",
        "multimodal_frames",
        "multimodal_resize",
        "multimodal_simhash",
    ]:
        spec = REGISTRY[name]
        sdf = spec.fn(spark, str(tmp_path))
        cols = sorted(sdf.columns)
        got = sorted(
            tuple(canon(r[c]) for c in cols) for r in sdf.collect()
        )
        ora = con.execute(spec.oracle).fetch_df()
        want = sorted(
            tuple(canon(v) for v in row)
            for row in ora[cols].itertuples(index=False, name=None)
        )
        assert got == want, f"{name}: byte/char divergence on non-ASCII"


def test_crossmodal_verdict_off_diagonal_cells(spark):
    """The cross-modal contamination matrix (VERDICT r5 #7): an EDITED
    IMAGE riding a REWRITTEN CAPTION must land in 'payload_only' (text
    dedup alone would admit it), a re-captioned stock photo's inverse —
    copied caption, fresh payload — in 'text_only', and a full dupe in
    'both'. Text and payload channels are fed INDEPENDENT planted
    frames, since on the graded tables payloads derive from text and
    the off-diagonal cells can never occur."""
    from mapreduce_spark.operators.dedup import (
        N_BANDS,
        N_PERMS,
        fingerprint_lsh_pairs,
        shingle_hashes,
    )
    from mapreduce_spark.operators.multimodal import (
        crossmodal_verdict_frame,
        payload_simhash_pairs,
    )

    cap_a = " ".join(f"sunset over {w} harbor pier {w}" for w in
                     ["red", "gold", "calm", "still", "wide"])
    cap_b = " ".join(f"completely fresh wording number {i} here"
                     for i in range(12))
    img_a = (" ".join(f"pixelrun{i} blockdata" for i in range(50))).encode()
    img_a_edit = bytearray(img_a)
    img_a_edit[20:23] = b"XYZ"  # the "edit"
    img_c = bytes(range(32, 127)) * 6  # unrelated payload
    dup_cap = " ".join(f"shared caption tokens t{i}" for i in range(15))
    dup_img = ("identical bytes payload " * 30).encode()

    # doc 1: original image + caption A      doc 2: edited image, caption B
    # doc 3: stock photo, caption C          doc 4: fresh payload, caption C
    # doc 5 & 6: full duplicates (both channels)
    texts = spark.createDataFrame(
        [
            (1, cap_a),
            (2, cap_b),
            (3, dup_cap),
            (4, dup_cap + " extra"),
            (5, dup_cap.replace("shared", "other")),
            (6, dup_cap.replace("shared", "other") + " tail"),
        ],
        "doc_id long, text string",
    )
    media = spark.createDataFrame(
        [
            (1, bytes(img_a)),
            (2, bytes(img_a_edit)),
            (3, img_c),
            (4, bytes(range(1, 200))),
            (5, dup_img),
            (6, dup_img),
        ],
        "doc_id long, payload binary",
    )
    verdicts = {
        r.doc_id: r.verdict
        for r in crossmodal_verdict_frame(
            fingerprint_lsh_pairs(shingle_hashes(texts), N_PERMS, N_BANDS),
            payload_simhash_pairs(media),
        ).collect()
    }
    assert verdicts[1] == "payload_only" and verdicts[2] == "payload_only"
    assert verdicts[3] == "text_only" and verdicts[4] == "text_only"
    assert verdicts[5] == "both" and verdicts[6] == "both"


# ---------------------------------------------------------------------------
# Content-defined chunking


def test_cdc_chunks_conserve_bytes(spark, sf_dir):
    """Chunks tile each payload exactly: per media type, total chunk
    bytes == total payload bytes."""
    import pyspark.sql.functions as F

    from mapreduce_spark.registry import get_queries

    got = {
        r.media_type: r
        for r in get_queries()["cdc_chunk_stats"](spark, sf_dir).collect()
    }
    from mapreduce_spark.operators.multimodal import media_table

    want = {
        r.media_type: r.tb
        for r in media_table(spark, sf_dir)
        .groupBy("media_type")
        .agg(F.sum(F.octet_length("payload")).alias("tb"))
        .collect()
    }
    assert set(got) == set(want)
    for mt, r in got.items():
        assert r.total_bytes == want[mt]
        assert r.n_distinct <= r.n_chunks
        assert 0 < r.dedup_ratio <= 1.0


def test_cdc_resynchronizes_after_prefix_insertion(spark):
    """The CDC property: inserting a prefix shifts every byte offset, but
    chunk boundaries re-synchronize at the next unchanged window, so the
    two payloads share most chunks — fixed-size blocks would share none."""
    import hashlib

    from mapreduce_spark.operators.multimodal import cdc_chunk_rows

    base = b"".join(
        hashlib.md5(f"block{i}".encode()).hexdigest().encode()
        for i in range(40)
    )  # 1280 deterministic bytes
    shifted = b"INSERTED-PREFIX-" + base
    df = spark.createDataFrame(
        [("a", bytearray(base)), ("b", bytearray(shifted))],
        "media_type string, payload binary",
    )
    rows = cdc_chunk_rows(df).collect()
    a = [(r.chash, r.clen) for r in rows if r.media_type == "a"]
    b = [(r.chash, r.clen) for r in rows if r.media_type == "b"]
    assert sum(l for _, l in a) == len(base)
    assert sum(l for _, l in b) == len(shifted)
    shared = set(a) & set(b)
    # everything after the first post-insertion boundary matches again
    assert len(shared) >= max(2, len(a) // 2), (len(shared), len(a), len(b))
