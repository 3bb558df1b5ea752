"""Multimodal column plumbing — image/audio/video as opaque binary
columns with typed metadata.

The container has no image/audio codecs (no PIL/ffmpeg), so the DECODE
step is stubbed (deterministic fake header parse / NotImplementedError
for real codecs) — but the Spark-side plumbing is real and tested:
binary column schema, Arrow batch shape through mapInPandas, typed
metadata struct output, and partition behavior.

Fake payload format (deterministic, generated from document text):
  bytes 0-3   magic  b"FIMG"
  bytes 4-7   width  (int32, big-endian)
  bytes 8-11  height (int32, big-endian)
  bytes 12-   payload (utf-8 of the source text)
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

MAGIC = b"FIMG"

META_DDL = (
    "doc_id long, byte_len int, magic_ok boolean, width int, height int, "
    "aspect double"
)


def _md5_u60(col: F.Column) -> F.Column:
    """First 60 bits of md5 as a long — the dimension-derivation hash.
    md5 (not xxhash64) so the DuckDB oracle can recompute it:
    ('0x' || substr(md5(x), 1, 15))::UBIGINT, the _md5_bucket idiom
    widened to 15 hex chars. 60 bits fits signed int64 on both engines."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def with_fake_image(docs: DataFrame) -> DataFrame:
    """Attach a deterministic binary 'image' column: header built from
    JVM-side expressions + the text payload — real binary plumbing,
    fake codec. Dimensions are md5-derived (doc_id for width,
    doc_id||':h' for height) so the metadata oracle is plain SQL."""
    sid = F.col("doc_id").cast("string")
    w = (_md5_u60(sid) % 1920 + 1).cast("int")
    h = (_md5_u60(F.concat(sid, F.lit(":h"))) % 1080 + 1).cast("int")
    header = F.concat(
        F.lit(MAGIC),
        F.to_binary(F.lpad(F.hex(w), 8, "0"), F.lit("hex")),
        F.to_binary(F.lpad(F.hex(h), 8, "0"), F.lit("hex")),
    )
    # coalesce: a NULL-text doc yields an EMPTY payload, not a NULL
    # image — bytes(None) would TypeError inside every Arrow decoder
    # (decode/resize/dhash) before their magic/length guards run; the
    # video/audio fakes guard the same way
    return docs.withColumn(
        "image",
        F.concat(header, F.encode(F.coalesce(F.col("text"), F.lit("")),
                                  "utf-8")),
    )


def _decode_fimg(b: bytes) -> tuple[bool, int, int]:
    """(ok, width, height) from the deterministic FIMG fake header."""
    if b[:4] == MAGIC and len(b) >= 12:
        return (True, *struct.unpack(">ii", b[4:12]))
    return (False, 0, 0)


def decode_image_batch(pdf: pd.DataFrame, decode=None) -> pd.DataFrame:
    """The vectorized 'decoder' — one (ok, width, height) call per row
    of the Arrow batch. `decode` defaults to the FIMG fake-header
    parse; pass decode_real_image for the Pillow-gated real codec —
    signature, schema, and batching are identical either way."""
    decode = decode or _decode_fimg
    metas = []
    for doc_id, buf in zip(pdf["doc_id"], pdf["image"]):
        if buf is None:
            # a NULL image cell degrades like any undecodable payload
            # (bytes(None) is a TypeError that would fail the task)
            metas.append((doc_id, 0, False, 0, 0, 0.0))
            continue
        b = bytes(buf)
        ok, width, height = decode(b)
        metas.append(
            (
                doc_id,
                len(b),
                ok,
                width,
                height,
                (width / height) if height else 0.0,
            )
        )
    return pd.DataFrame(
        metas,
        columns=["doc_id", "byte_len", "magic_ok", "width", "height", "aspect"],
    )


def image_meta(docs: DataFrame, real_codec: bool = False) -> DataFrame:
    """documents -> typed image metadata via binary mapInPandas pass.

    real_codec=True decodes with Pillow (environment-gated, same
    pattern as pdflayout.boxes_from_pdf_bytes) — the fixture's FIMG
    bytes are not a real format, so the real path is for tables whose
    binary column holds actual PNG/JPEG payloads."""
    imgs = with_fake_image(docs.select("doc_id", "text")).select(
        "doc_id", "image"
    )
    return image_meta_for(imgs, real_codec=real_codec)


def image_meta_for(imgs: DataFrame, real_codec: bool = False) -> DataFrame:
    """Metadata pass over any (doc_id, image binary) table."""
    decode = decode_real_image if real_codec else None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield decode_image_batch(pdf, decode)

    return imgs.mapInPandas(run, schema=META_DDL)


def pil_available() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def decode_real_image(data: bytes) -> tuple[bool, int, int]:
    """(ok, width, height) via Pillow (environment-gated).

    The sandbox image ships no PIL; on a real cluster install Pillow
    and the real decode lights up with no other change — undecodable
    payloads degrade to (False, 0, 0) exactly like the fake parser, so
    the downstream schema/NULL policy is identical.
    """
    try:
        from PIL import Image
    except ImportError as exc:  # pragma: no cover - environment gate
        raise NotImplementedError(
            "image codecs (PIL/libvips) are not installed in this "
            "environment; decode_image_batch's default FIMG parse "
            "demonstrates the Spark-side plumbing"
        ) from exc
    import io  # pragma: no cover - exercised only with PIL present

    try:  # pragma: no cover
        with Image.open(io.BytesIO(bytes(data))) as im:
            return True, im.width, im.height
    except Exception:  # noqa: BLE001 - corrupt bytes -> undecodable row
        return False, 0, 0


# ---------------------------------------------------------------------------
# resize + frame-sample plumbing (fake codecs, real Arrow batch shape)
# ---------------------------------------------------------------------------

RESIZED_DDL = "doc_id long, image binary, width int, height int"
VIDEO_DDL = "doc_id long, video binary, n_frames int"
FRAME_DDL = "doc_id long, frame_idx int, frame binary, width int, height int"

VMAGIC = b"FVID"


def resize_images(imgs: DataFrame, max_dim: int = 256) -> DataFrame:
    """binary-in -> binary-out resize: cap the longest side at max_dim
    preserving aspect (integer floor, min 1). The 'codec' rewrites the
    FIMG header; a real deployment swaps the body for PIL/libvips
    thumbnailing — signature, schema, and batch shape stay identical."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["image"]):
                b = bytes(buf)
                if b[:4] != MAGIC or len(b) < 12:
                    rows.append((doc_id, b, 0, 0))  # undecodable: pass through
                    continue
                w, h = struct.unpack(">ii", b[4:12])
                side = max(w, h)
                if side > max_dim and side > 0:
                    nw = max(1, (w * max_dim) // side)
                    nh = max(1, (h * max_dim) // side)
                else:
                    nw, nh = w, h
                out = MAGIC + struct.pack(">ii", nw, nh) + b[12:]
                rows.append((doc_id, out, nw, nh))
            yield pd.DataFrame(
                rows, columns=["doc_id", "image", "width", "height"]
            )

    return imgs.mapInPandas(run, schema=RESIZED_DDL)


def with_fake_video(docs: DataFrame) -> DataFrame:
    """documents -> deterministic fake 'video': FVID + int32 n_frames +
    n_frames FIMG frames whose payload is the doc text. Frame count is
    a stable function of doc_id (2-9)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                n = 2 + hash_stable(doc_id, "v", 8)
                payload = (text or "").encode("utf-8")[:64]
                frames = b"".join(
                    MAGIC + struct.pack(">ii", 16 * (i + 1), 9 * (i + 1))
                    + payload
                    for i in range(n)
                )
                rows.append(
                    (doc_id, VMAGIC + struct.pack(">i", n) + frames, n)
                )
            yield pd.DataFrame(rows, columns=["doc_id", "video", "n_frames"])

    return docs.select("doc_id", "text").mapInPandas(run, schema=VIDEO_DDL)


def hash_stable(doc_id, salt: str, m: int) -> int:
    """Process-independent fake-metadata hash (Python's hash() is
    salted per process — useless across executors). md5-derived, 60-bit
    prefix mod m — byte-equal to the DuckDB oracle's
    ('0x' || substr(md5(id || ':salt'), 1, 15))::UBIGINT % m and to the
    JVM-side _md5_u60, so every fake-codec dimension is SQL-checkable."""
    import hashlib

    h = hashlib.md5(f"{doc_id}:{salt}".encode("utf-8")).hexdigest()
    return int(h[:15], 16) % m


def sample_frames(videos: DataFrame, every_n: int = 2) -> DataFrame:
    """video binary -> one row per SAMPLED frame (frame 0, n, 2n, ...):
    the one-to-many batch fan-out shape every video pipeline needs.
    Frame payload length is recovered from the container layout, not
    trusted metadata."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["video"]):
                b = bytes(buf)
                if b[:4] != VMAGIC or len(b) < 8:
                    continue  # undecodable container: no frames
                (n,) = struct.unpack(">i", b[4:8])
                body = b[8:]
                if n <= 0 or len(body) % n:
                    continue
                frame_len = len(body) // n
                for i in range(0, n, every_n):
                    fb = body[i * frame_len:(i + 1) * frame_len]
                    if fb[:4] != MAGIC or len(fb) < 12:
                        continue
                    w, h = struct.unpack(">ii", fb[4:12])
                    rows.append((doc_id, i, fb, w, h))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "frame", "width", "height"],
            )

    return videos.mapInPandas(run, schema=FRAME_DDL)


def frame_sample_stats(docs: DataFrame) -> DataFrame:
    """documents -> sampled-frame counts per doc (rows-only query)."""
    frames = sample_frames(with_fake_video(docs), every_n=2)
    return (
        frames.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_sampled"),
            F.max("width").cast("int").alias("max_width"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# perceptual-hash image dedup (dHash + banded hamming join)
# ---------------------------------------------------------------------------

DHASH_DDL = "doc_id long, dhash long"


def image_dhash(imgs: DataFrame) -> DataFrame:
    """-> (doc_id, dhash): 64-bit difference hash per image.

    The REAL multimodal near-dup algorithm end to end: sample the
    decoded pixel buffer onto a 9x8 grid (deterministic nearest-index
    'resize'), take the horizontal gradient sign per cell, pack 64
    bits. Only the pixel source is the FIMG fake (payload bytes as
    intensities); swapping in PIL's `convert('L').resize((9, 8))`
    changes nothing downstream. Undecodable or too-small images are
    dropped (no hash -> never a duplicate), the same policy as
    simhash's NULL-text drop."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << np.arange(64, dtype=np.uint64)
        for pdf in batches:
            if not len(pdf):
                continue
            ids, hashes = [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["image"]):
                b = bytes(buf)
                if b[:4] != MAGIC or len(b) < 12:
                    continue
                pix = np.frombuffer(b, dtype=np.uint8, offset=12)
                if len(pix) < 2:
                    continue
                idx = (np.arange(72) * len(pix)) // 72
                grid = pix[idx].reshape(8, 9).astype(np.int16)
                bits = (grid[:, 1:] > grid[:, :-1]).reshape(-1)
                h = int((bits * weights).sum(dtype=np.uint64))
                ids.append(doc_id)
                # two's-complement into int64 for the JVM long column
                hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame({"doc_id": ids, "dhash": hashes})

    return imgs.select("doc_id", "image").mapInPandas(run, schema=DHASH_DDL)


def image_dhash_table(docs: DataFrame) -> DataFrame:
    """documents -> the per-image dHash table (rows-only query: the
    hash is engine-specific; pair-finding over it is pytest-pinned
    with planted duplicates in test_dedup_similarity)."""
    imgs = with_fake_image(docs.select("doc_id", "text"))
    return image_dhash(imgs).orderBy("doc_id")


def image_near_dup_pairs(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Image near-duplicate pairs by dHash hamming distance, found with
    an 8x8-bit banded self-join — pigeonhole: a pair within hamming 7
    must agree exactly on at least one of the 8 bands, so recall is
    total for max_hamming <= 7 and cost is an equi-join on (band, key),
    never an all-pairs product. Same LSH shape as simhash_pairs /
    minhash, applied to the image modality."""
    h = image_dhash(with_fake_image(docs.select("doc_id", "text")))
    bands = h.select(
        "doc_id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("dhash"), i * 8)
                        .bitwiseAND(F.lit(0xFF))
                        .alias("key"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "dhash", "bk.band", "bk.key")
    cand = (
        bands.alias("l")
        .join(
            bands.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.dhash").alias("h_a"),
            F.col("r.dhash").alias("h_b"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# audio plumbing: resample + fixed-duration chunking
# ---------------------------------------------------------------------------

AMAGIC = b"FAUD"
AUDIO_DDL = "doc_id long, audio binary, sample_rate int, n_samples int"
ACHUNK_DDL = (
    "doc_id long, chunk_idx int, chunk binary, sample_rate int, "
    "n_samples int"
)


def with_fake_audio(docs: DataFrame) -> DataFrame:
    """documents -> deterministic fake 'audio': FAUD + int32 rate +
    int32 n_samples + one byte per sample (derived from the text)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                rate = 8000 if hash_stable(doc_id, "a", 2) else 16000
                pcm = (text or "x").encode("utf-8")[:2048] or b"x"
                rows.append(
                    (
                        doc_id,
                        AMAGIC + struct.pack(">ii", rate, len(pcm)) + pcm,
                        rate,
                        len(pcm),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "audio", "sample_rate", "n_samples"]
            )

    return docs.select("doc_id", "text").mapInPandas(run, schema=AUDIO_DDL)


def resample_audio(audio: DataFrame, target_rate: int = 16000) -> DataFrame:
    """binary-in -> binary-out resample: sample count rescales by the
    rate ratio (integer floor; naive decimation/duplication on the fake
    payload — a real deployment swaps in soxr/librosa, same shape)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["audio"]):
                b = bytes(buf)
                if b[:4] != AMAGIC or len(b) < 12:
                    rows.append((doc_id, b, 0, 0))
                    continue
                rate, n = struct.unpack(">ii", b[4:12])
                # clamp to the ACTUAL payload — the header count is
                # untrusted (truncated/corrupt payloads pass through
                # like any other undecodable input, never crash a task)
                pcm = b[12:12 + max(n, 0)]
                n = len(pcm)
                if not n:
                    rows.append((doc_id, b, 0, 0))
                    continue
                if rate <= 0:
                    # corrupt header rate: pass through UNCHANGED like
                    # the other undecodable paths — rebuilding with a
                    # target_rate header would relabel never-resampled
                    # samples as validly resampled
                    rows.append((doc_id, b, 0, 0))
                    continue
                if rate != target_rate:
                    m = max(1, (n * target_rate) // rate)
                    idx = [(i * rate) // target_rate for i in range(m)]
                    pcm = bytes(pcm[min(i, n - 1)] for i in idx)
                out = AMAGIC + struct.pack(">ii", target_rate, len(pcm)) + pcm
                rows.append((doc_id, out, target_rate, len(pcm)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "audio", "sample_rate", "n_samples"]
            )

    return audio.select("doc_id", "audio").mapInPandas(run, schema=AUDIO_DDL)


def chunk_audio(audio: DataFrame, samples_per_chunk: int = 256) -> DataFrame:
    """audio -> one row per fixed-duration segment (fan-out), each a
    self-contained FAUD payload — the shape ASR batch pipelines feed."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["audio"]):
                b = bytes(buf)
                if b[:4] != AMAGIC or len(b) < 12:
                    continue
                rate, n = struct.unpack(">ii", b[4:12])
                pcm = b[12:12 + n]
                for ci, off in enumerate(range(0, len(pcm), samples_per_chunk)):
                    seg = pcm[off:off + samples_per_chunk]
                    rows.append(
                        (
                            doc_id,
                            ci,
                            AMAGIC + struct.pack(">ii", rate, len(seg)) + seg,
                            rate,
                            len(seg),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "chunk_idx", "chunk", "sample_rate", "n_samples"
                ],
            )

    return audio.select("doc_id", "audio").mapInPandas(run, schema=ACHUNK_DDL)


def audio_chunk_stats(docs: DataFrame) -> DataFrame:
    """documents -> resampled+chunked audio segment counts (rows-only)."""
    chunks = chunk_audio(
        resample_audio(with_fake_audio(docs), 16000), samples_per_chunk=256
    )
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.sum("n_samples").cast("bigint").alias("total_samples"),
        )
        .orderBy("doc_id")
    )
