"""Expected-parquet oracle twins for engine-hash-valued operators.

Three gate queries emit values derived from hash functions DuckDB does
not implement (zlib.crc32 winnowing fingerprints; xxhash64 simhash;
the dHash bit-packing over raw bytes). Their DuckDB twins follow the
``transcripts_expected.parquet`` precedent (FIXTURES.md): an
INDEPENDENT pure-Python reimplementation of the operator spec — plain
loops, no numpy, no Spark, sharing nothing with the production kernels
— is evaluated over the driver's sf0.01 ``documents`` table at
generate time and written as parquet; the oracle SQL reads (and for
pair queries, brute-force JOINs) that table. Because banding recall is
total at the default thresholds (4x16 bands at hamming<=3; 8x8 bands
at hamming<=7), a brute-force all-pairs oracle over the expected hash
table is byte-equal to the banded Spark output — so the oracle checks
both the hash kernel AND the banded join.

Freshness: the md5 of the input documents.parquet is recorded next to
the outputs and pinned by tests/test_oracle_expected.py — if the
driver's testdata ever changes, the test fails loudly instead of the
gate silently comparing against stale expectations.

Regenerate:  python -m v2_ocr_spark.fixtures.oracle_expected
(unlike the HAND-derived kernel fixtures in tests/fixtures/, these ARE
regenerated from inputs — VERDICT r3 explicitly scopes the
never-regenerate rule to the hand-derived ones)
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import zlib

from v2_ocr_spark.kernels.xxh import xxh64_long, xxh64_str

TESTDATA_SF = "/root/testdata/sf0.01"
# resolve through the SAME env var every reader uses
# (__spark_entry__.REPO_DATA, tests/test_oracle_expected.ORACLE_DIR) —
# a hardcoded path would make regeneration under V2OCR_DATA_DIR write
# where nothing reads
OUT_DIR = os.path.join(
    os.environ.get("V2OCR_DATA_DIR", "/root/repo/data"), "oracle"
)


# ---------------------------------------------------------------------------
# pure-Python operator twins (spec reimplementations — no numpy/Spark)
# ---------------------------------------------------------------------------

def winnow_fingerprints(text: str | None, window: int = 8) -> list[int]:
    """Winnowing twin of textstats.rolling_fingerprint_set: crc32 of
    3-word shingles, minima over rolling windows, distinct sorted."""
    toks = (text or "").split(" ")
    m = max(len(toks) - 2, 1)
    hs = [
        zlib.crc32(" ".join(toks[i:i + 3]).encode("utf-8")) for i in range(m)
    ]
    if len(hs) >= window:
        mins = {
            min(hs[i:i + window]) for i in range(len(hs) - window + 1)
        }
    else:
        mins = {min(hs)}
    return sorted(mins)


def simhash64(text: str) -> int:
    """Twin of dedup.simhash_64: split on single spaces (trailing
    empties kept, as Spark's split with limit -1), xxhash64 each token,
    per-bit +/-1 sums, sign -> bit; signed int64 out. NULL-text docs
    are DROPPED by the operator (explode of NULL) — callers skip them."""
    sums = [0] * 64
    for tok in text.split(" "):
        h = xxh64_str(tok)
        for j in range(64):
            sums[j] += 1 if (h >> j) & 1 else -1
    sim = 0
    for j in range(64):
        if sums[j] > 0:
            sim |= 1 << j
    return sim - (1 << 64) if sim >= (1 << 63) else sim


def dhash64(text: str) -> int | None:
    """Twin of multimodal.image_dhash over the FIMG fake: the pixel
    buffer is the doc text's UTF-8 bytes; sample 72 nearest-index
    points onto an 8x9 grid, horizontal gradient sign per cell, pack
    row-major into 64 bits. <2 pixels -> dropped (None)."""
    pix = text.encode("utf-8")
    if len(pix) < 2:
        return None
    idx = [(i * len(pix)) // 72 for i in range(72)]
    grid = [pix[j] for j in idx]
    h = 0
    for r in range(8):
        for c in range(8):
            if grid[r * 9 + c + 1] > grid[r * 9 + c]:
                h |= 1 << (r * 8 + c)
    return h - (1 << 64) if h >= (1 << 63) else h


# ---------------------------------------------------------------------------
# ANN candidate twins (similarity.srp_lsh_topk / ivf_topk)
#
# The two tuned-recall ANN entries are fully deterministic: SRP
# hyperplanes derive from a fixed numpy PCG64 seed and IVF centroids
# from xxhash64(vec_id) order — so the CANDIDATE set (which vectors
# each query is allowed to score) is reproducible with plain loops.
# The expected parquet records that candidate set; the DuckDB oracle
# then re-ranks it with its OWN list_cosine_similarity + window, so
# the exact-rerank tail is verified independently (same basis as the
# green ann_brute_force_topk oracle). The ONLY numpy use here is the
# plane matrix itself — `rng.standard_normal` IS the operator's spec
# for the planes, shared the same way xxh64 is a shared primitive and
# pinned against the production signatures in
# tests/test_oracle_expected.py; every dot product, sign bit, bucket
# id, assignment and probe below is a plain-Python loop.
# ---------------------------------------------------------------------------

def unit_vectors(rows: list[tuple[int, list[float] | None]]) -> dict[int, list[float]]:
    """Twin of similarity.with_unit_norm's drop-then-normalize: zero,
    NULL-element, and non-finite vectors are directionless/corrupt and
    yield no unit vector."""
    units: dict[int, list[float]] = {}
    for vid, vec in rows:
        if vec is None or any(
            x is None or not math.isfinite(x) for x in vec
        ):
            continue
        n = math.sqrt(sum(float(x) * float(x) for x in vec))
        if n == 0.0 or not math.isfinite(n):
            continue
        units[vid] = [float(x) / n for x in vec]
    return units


def _dot(a: list[float], b: list[float]) -> float:
    return sum(x * y for x, y in zip(a, b))


def round6(x: float) -> float:
    """Round a double to 6 places the way BOTH engines do.

    Spark's round() goes through BigDecimal.valueOf(double) — i.e. the
    SHORTEST DECIMAL STRING of the double — then HALF_UP; DuckDB's
    round(double, 6) agrees (verified on the exact midpoint
    6882319/2000000.0 = '3.4411595': both yield 3.44116). Python's
    built-in round() instead rounds the BINARY value half-even, so at
    a decimal midpoint whose nearest double sits just below it
    (3.4411595 → 3.441159...4999) it returns 3.441159 — off by one
    ulp-of-the-6th-place from both engines. Any pure-Python twin that
    mirrors a round-to-6 column MUST use this helper, not round() and
    not floor(x*1e6+0.5) (which inherits the same binary-midpoint
    skew). Found by the lm_logloss randomized differential test.

    Non-finite inputs pass through unchanged (both engines' round()
    keeps NaN/Inf), and a widened decimal context covers magnitudes
    the default 28-digit context would refuse to quantize."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    if not math.isfinite(x):
        return x
    with localcontext() as ctx:
        ctx.prec = 60
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )


def srp_candidates(
    units: dict[int, list[float]],
    n_queries: int = 10,
    n_tables: int = 32,
    n_bits: int = 6,
    seed: int = 42,
) -> list[tuple[int, int]]:
    """Twin of the candidate stage of similarity.srp_lsh_topk: sign
    bits against the seeded plane matrix, bucket per table, candidates
    = corpus vectors sharing ANY (table, bucket) with the query."""
    import numpy as np  # plane-matrix spec primitive only (see above)

    dim = len(next(iter(units.values())))
    planes = (
        np.random.default_rng(seed)
        .standard_normal((n_tables * n_bits, dim))
        .tolist()
    )
    buckets: dict[tuple[int, int], set[int]] = {}
    sigs: dict[int, list[tuple[int, int]]] = {}
    for vid, u in units.items():
        keys = []
        for t in range(n_tables):
            b = 0
            for j in range(n_bits):
                if _dot(u, planes[t * n_bits + j]) > 0:
                    b |= 1 << j
            keys.append((t, b))
            buckets.setdefault((t, b), set()).add(vid)
        sigs[vid] = keys
    cands: set[tuple[int, int]] = set()
    for q in (vid for vid in units if vid < n_queries):
        for key in sigs[q]:
            for vid in buckets[key]:
                if vid != q:
                    cands.add((q, vid))
    return sorted(cands)


def ivf_candidates(
    units: dict[int, list[float]],
    n_queries: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
) -> list[tuple[int, int]]:
    """Twin of the candidate stage of similarity.ivf_topk: centroids =
    the nlist vectors with lowest (signed) xxhash64(vec_id) in hash
    order, every vector assigned to its argmax-cosine centroid
    (tiebreak asc cell_id), queries probe their nprobe best cells."""
    order = sorted(units, key=xxh64_long)
    cents = [(cid + 1, units[vid]) for cid, vid in enumerate(order[:nlist])]
    assign: dict[int, int] = {}
    for vid, u in units.items():
        best = max(cents, key=lambda c: (_dot(u, c[1]), -c[0]))
        assign[vid] = best[0]
    cands: set[tuple[int, int]] = set()
    for q in (vid for vid in units if vid < n_queries):
        probed = {
            c[0]
            for c in sorted(
                cents, key=lambda c: (-_dot(units[q], c[1]), c[0])
            )[:nprobe]
        }
        for vid, cell in assign.items():
            if cell in probed and vid != q:
                cands.add((q, vid))
    return sorted(cands)


# ---------------------------------------------------------------------------
# generation
# ---------------------------------------------------------------------------

def file_md5(path: str) -> str:
    """Content digest of one file — the freshness pin. (NOT the stat
    tuple __spark_entry__.input_signature() returns; distinct name on
    purpose — the two have incompatible semantics and the gate memo
    must keep mtime-based invalidation.)"""
    md5 = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            md5.update(chunk)
    return md5.hexdigest()


def generate(out_dir: str = OUT_DIR, sf_dir: str = TESTDATA_SF) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "documents.parquet")
    docs = pq.read_table(src, columns=["doc_id", "text"]).to_pylist()
    docs.sort(key=lambda r: r["doc_id"])
    os.makedirs(out_dir, exist_ok=True)

    fp_rows = [
        (
            r["doc_id"],
            fps := winnow_fingerprints(r["text"]),
            ",".join(str(v) for v in fps),
        )
        for r in docs
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in fp_rows], pa.int64()),
                "n_fps": pa.array([len(r[1]) for r in fp_rows], pa.int32()),
                "fp_csv": pa.array([r[2] for r in fp_rows], pa.string()),
            }
        ),
        os.path.join(out_dir, "rolling_fingerprint_expected.parquet"),
    )

    sim_rows = [
        (r["doc_id"], simhash64(r["text"]))
        for r in docs
        if r["text"] is not None  # operator NULL-drop policy
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in sim_rows], pa.int64()),
                "simhash": pa.array([r[1] for r in sim_rows], pa.int64()),
            }
        ),
        os.path.join(out_dir, "simhash_expected.parquet"),
    )

    dh_rows = [
        (r["doc_id"], h)
        for r in docs
        if r["text"] is not None and (h := dhash64(r["text"])) is not None
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in dh_rows], pa.int64()),
                "dhash": pa.array([r[1] for r in dh_rows], pa.int64()),
            }
        ),
        os.path.join(out_dir, "dhash_expected.parquet"),
    )

    def _pairs_table(rows: list[tuple[int, int]], a: str, b: str):
        return pa.table(
            {
                a: pa.array([r[0] for r in rows], pa.int64()),
                b: pa.array([r[1] for r in rows], pa.int64()),
            }
        )

    emb_src = os.path.join(sf_dir, "embeddings.parquet")
    emb = pq.read_table(emb_src, columns=["vec_id", "embedding"]).to_pylist()
    units = unit_vectors([(r["vec_id"], r["embedding"]) for r in emb])
    srp = srp_candidates(units)
    ivf = ivf_candidates(units)
    pq.write_table(
        _pairs_table(srp, "query_id", "nbr_id"),
        os.path.join(out_dir, "srp_candidates_expected.parquet"),
    )
    pq.write_table(
        _pairs_table(ivf, "query_id", "nbr_id"),
        os.path.join(out_dir, "ivf_candidates_expected.parquet"),
    )

    ev_src = os.path.join(sf_dir, "events.parquet")
    # NULL user ids are dropped to mirror distinct_kmv's explicit
    # NULL-drop (and a None in the set would break sorted() anyway);
    # current testdata has none, so output bytes are unchanged
    users = sorted(
        {
            r["user_id"]
            for r in pq.read_table(ev_src, columns=["user_id"]).to_pylist()
            if r["user_id"] is not None
        }
    )
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array(users, pa.int64()),
                "h": pa.array([xxh64_long(u) for u in users], pa.int64()),
            }
        ),
        os.path.join(out_dir, "user_hash_expected.parquet"),
    )

    sig = {
        "input": src,
        "input_md5": file_md5(src),
        "n_docs": len(docs),
        "n_simhash": len(sim_rows),
        "n_dhash": len(dh_rows),
        "embeddings_input": emb_src,
        "embeddings_md5": file_md5(emb_src),
        "n_units": len(units),
        "n_srp_candidates": len(srp),
        "n_ivf_candidates": len(ivf),
        "events_input": ev_src,
        "events_md5": file_md5(ev_src),
        "n_users": len(users),
    }
    with open(os.path.join(out_dir, "input_sig.json"), "w") as f:
        json.dump(sig, f, indent=1)
    return sig


if __name__ == "__main__":
    print(json.dumps(generate(), indent=1))
