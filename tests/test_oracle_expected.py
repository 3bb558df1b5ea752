"""Pins for the expected-parquet oracle twins (fixtures/oracle_expected).

The twins are INDEPENDENT pure-Python reimplementations of the three
engine-hash operators (winnowing fingerprints, simhash, dHash) — these
tests prove twin == Spark operator on adversarial micro-corpora, pin
the pure-Python xxHash64 against Spark's JVM implementation across all
tail-length classes, and fail loudly if the driver's testdata ever
drifts from the generated expectations (freshness signature).
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from v2_ocr_spark.fixtures import oracle_expected as oe
from v2_ocr_spark.kernels.xxh import xxh64_str

ORACLE_DIR = os.path.join(
    os.environ.get("V2OCR_DATA_DIR", "/root/repo/data"), "oracle"
)

# every XXH64 code-path class: empty, <4, exactly 4, 4-7, exactly 8,
# 8-31, 31/32/33 boundary, >32, multi-byte UTF-8
XXH_TOKENS = [
    "", "a", "abc", "abcd", "abcdefg", "abcdefgh", "0123456789",
    "x" * 31, "y" * 32, "z" * 33, "w" * 100,
    "naïve", "日本語テスト", "mixed-ascii-日本語-padding-to-exceed-32-bytes",
]


def test_xxh64_matches_spark(spark):
    df = spark.createDataFrame([(t,) for t in XXH_TOKENS], "tok string")
    got = {
        r["tok"]: r["h"]
        for r in df.select("tok", F.xxhash64("tok").alias("h")).collect()
    }
    for t in XXH_TOKENS:
        assert xxh64_str(t) == got[t], f"xxh64 mismatch for {t!r}"


def test_xxh64_long_matches_spark(spark):
    """F.xxhash64 on a LongType column is the 8-LE-byte short-input
    path — the basis for the IVF centroid order and the KMV sketch."""
    from v2_ocr_spark.kernels.xxh import xxh64_long

    vals = [0, 1, -1, 42, 2**31, -(2**63), 2**63 - 1, 123456789]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r["v"]: r["h"]
        for r in df.select("v", F.xxhash64("v").alias("h")).collect()
    }
    for v in vals:
        assert xxh64_long(v) == got[v], f"xxh64_long mismatch for {v}"


MICRO_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, ""),  # empty text: one empty token (split keeps it)
    (4, "solo"),
    (5, "a b"),  # fewer tokens than a shingle
    (6, "répétition unicode日本語 tokens répétition unicode日本語 tokens x"),
    (7, None),  # NULL text: DROPPED by simhash/dhash, kept by winnowing
    (8, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15"),
]


def _micro_df(spark):
    return spark.createDataFrame(MICRO_DOCS, "doc_id long, text string")


def test_simhash_twin_equals_operator(spark):
    from v2_ocr_spark.operators.dedup import simhash_64

    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash_64(_micro_df(spark)).collect()
    }
    exp = {
        doc_id: oe.simhash64(text)
        for doc_id, text in MICRO_DOCS
        if text is not None
    }
    assert got == exp  # includes the NULL-drop policy (doc 7 absent)


def test_dhash_twin_equals_operator(spark):
    from v2_ocr_spark.operators.multimodal import image_dhash, with_fake_image

    # NULL text would make the fake image NULL (concat of NULL) and the
    # decoder would crash — the fixture documents table has no NULLs,
    # and with_fake_image's contract is non-null text
    docs = _micro_df(spark).where(F.col("text").isNotNull())
    got = {
        r["doc_id"]: r["dhash"]
        for r in image_dhash(with_fake_image(docs)).collect()
    }
    exp = {
        doc_id: h
        for doc_id, text in MICRO_DOCS
        if text is not None and (h := oe.dhash64(text)) is not None
    }
    assert got == exp  # includes the <2-pixel drop (docs 3 absent)


def test_winnow_twin_equals_kernel(spark, tmp_path):
    from v2_ocr_spark.operators.textstats import rolling_fingerprint_set

    p = str(tmp_path / "documents.parquet")
    _micro_df(spark).coalesce(1).write.parquet(p)
    got = {
        r["doc_id"]: list(r["fingerprint_set"])
        for r in rolling_fingerprint_set(spark.read.parquet(p)).collect()
    }
    exp = {
        doc_id: oe.winnow_fingerprints(text) for doc_id, text in MICRO_DOCS
    }
    assert got == exp


def test_rolling_fingerprint_gate_surface_is_scalar(spark, documents):
    """The r3 driver failure: the gate query must never expose an
    array column (the driver's canonicalizer sorts every column)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from v2_ocr_spark.operators.textstats import rolling_fingerprint

    out = rolling_fingerprint(documents)
    for f in out.schema.fields:
        assert not isinstance(f.dataType, (ArrayType, MapType, StructType))
    row = out.where(F.col("doc_id") == 0).collect()
    assert len(row) == 1 and row[0]["n_fps"] >= 1
    assert len(row[0]["fp_digest"]) == 32


def test_expected_parquet_freshness():
    """If the driver's testdata changes, regeneration is REQUIRED —
    fail here instead of letting the gate compare stale expectations."""
    sig_path = os.path.join(ORACLE_DIR, "input_sig.json")
    assert os.path.exists(sig_path), (
        "oracle expected-parquets missing — run "
        "python -m v2_ocr_spark.fixtures.oracle_expected"
    )
    with open(sig_path) as f:
        sig = json.load(f)
    inputs = [
        ("input", "input_md5"),
        ("embeddings_input", "embeddings_md5"),
        ("events_input", "events_md5"),
    ]
    for path_key, md5_key in inputs:
        assert path_key in sig and md5_key in sig, (
            f"input_sig.json predates the {path_key} expectations — "
            "rerun python -m v2_ocr_spark.fixtures.oracle_expected"
        )
        if not os.path.exists(sig[path_key]):
            pytest.skip("driver testdata not present on this machine")
        assert oe.file_md5(sig[path_key]) == sig[md5_key], (
            f"testdata {sig[path_key]} changed since oracle expectations "
            "were generated — rerun "
            "python -m v2_ocr_spark.fixtures.oracle_expected"
        )


# ---------------------------------------------------------------------------
# ANN candidate twins: pure-Python candidates + rerank == the operator
# end to end on an adversarial micro corpus (zero vector, NaN vector,
# duplicate vectors, near-ties)
# ---------------------------------------------------------------------------

def _micro_emb_rows():
    import random

    rng = random.Random(7)
    rows = []
    for vid in range(40):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(8)]))
    rows[3] = (3, [0.0] * 8)  # zero: dropped (query id < n_queries)
    rows[12] = (12, [float("nan")] + [0.5] * 7)  # non-finite: dropped
    rows[20] = (20, list(rows[21][1]))  # exact duplicate pair
    return rows


def _write_micro_emb(spark, tmp_path) -> str:
    df = spark.createDataFrame(
        _micro_emb_rows(), "vec_id long, embedding array<float>"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def _f32(rows):
    """The parquet round-trip stores float32 — the twin must hash the
    same widened values the operator reads back."""
    import struct

    return [
        (vid, [struct.unpack("f", struct.pack("f", x))[0] for x in vec])
        for vid, vec in rows
    ]


def _pure_topk(units, cands, k):
    from collections import defaultdict

    by_q = defaultdict(list)
    for q, n in cands:
        by_q[q].append((-oe._dot(units[q], units[n]), n))
    out = []
    for q in sorted(by_q):
        for rank, (negc, n) in enumerate(sorted(by_q[q])[:k], start=1):
            out.append((q, rank, n, -negc))
    return out


def _assert_topk_equal(got_rows, exp):
    got = [
        (r["query_id"], r["rank"], r["nbr_id"], r["cosine"])
        for r in got_rows
    ]
    assert [(g[0], g[1], g[2]) for g in got] == [
        (e[0], e[1], e[2]) for e in exp
    ]
    for g, e in zip(got, exp):
        # operator rounds half-up to 6; compare vs the raw twin cosine
        assert abs(g[3] - e[3]) <= 5.001e-7, (g, e)


def test_srp_twin_equals_operator(spark, tmp_path):
    from v2_ocr_spark.operators import similarity

    sf = _write_micro_emb(spark, tmp_path)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    got = similarity.srp_lsh_topk(
        emb, k=3, n_queries=6, n_tables=8, n_bits=4
    ).collect()
    units = oe.unit_vectors(_f32(_micro_emb_rows()))
    assert 3 not in units and 12 not in units  # drop policy
    cands = oe.srp_candidates(units, n_queries=6, n_tables=8, n_bits=4)
    _assert_topk_equal(got, _pure_topk(units, cands, 3))


def test_ivf_twin_equals_operator(spark, tmp_path):
    from v2_ocr_spark.operators import similarity

    sf = _write_micro_emb(spark, tmp_path)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    got = similarity.ivf_topk(
        emb, k=3, n_queries=6, nlist=5, nprobe=2
    ).collect()
    units = oe.unit_vectors(_f32(_micro_emb_rows()))
    cands = oe.ivf_candidates(units, n_queries=6, nlist=5, nprobe=2)
    _assert_topk_equal(got, _pure_topk(units, cands, 3))


def test_fake_codec_dims_are_md5_derived(spark):
    """Pin the Python hash_stable and the JVM _md5_u60 to the SAME
    md5-prefix derivation the DuckDB oracles recompute."""
    import hashlib

    from v2_ocr_spark.operators.multimodal import (
        _md5_u60,
        hash_stable,
        with_fake_image,
    )

    assert hash_stable(42, "v", 8) == (
        int(hashlib.md5(b"42:v").hexdigest()[:15], 16) % 8
    )
    docs = spark.createDataFrame([(42, "some text")], "doc_id long, text string")
    sid = F.col("doc_id").cast("string")
    row = (
        with_fake_image(docs)
        .select(
            (_md5_u60(sid) % 1920 + 1).alias("w"),
            (_md5_u60(F.concat(sid, F.lit(":h"))) % 1080 + 1).alias("h"),
        )
        .collect()[0]
    )
    assert row["w"] == int(hashlib.md5(b"42").hexdigest()[:15], 16) % 1920 + 1
    assert row["h"] == int(hashlib.md5(b"42:h").hexdigest()[:15], 16) % 1080 + 1
