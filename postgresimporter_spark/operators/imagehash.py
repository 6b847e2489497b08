"""Perceptual image hashing (pHash) — image near-duplicate detection
for multimodal training corpora.

The classic DCT pHash: decode -> grayscale -> 32x32 nearest-neighbor
resample -> 2D DCT-II -> keep the low-frequency 8x8 block -> drop the
DC coefficient -> threshold the 63 AC coefficients against their
median -> 63-bit fingerprint in a 64-bit word (bit 63 always 0).
Robust to re-encoding, mild noise, and resizing — the
image-side analogue of the text SimHash, and it plugs DIRECTLY into
``dedup.simhash_hamming_pairs(bits=64)`` for the banded exact Hamming
join, so image near-dup inherits the text stack's scale posture
(pigeonhole combo keys, hot-band cap, no all-pairs).

All from scratch on the repo's own codecs (png/gif/jpeg decoders) +
numpy; no image library. Undecodable bytes raise ValueError — the
multimodal honesty boundary (callers surface nulls, nothing is faked).

Scale: hashing is per-row mapInPandas (Arrow-batched, no shuffle);
the pair join is the dedup module's banded equi-join. 100 TB of
images = one scan for hashes + one bounded-key shuffle for pairs.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PHASH_BITS = 64
_PHASH_SIZE = 32
_PHASH_LOW = 8


def decode_to_gray(content: bytes) -> np.ndarray:
    """Decode PNG/GIF/JPEG bytes to a float64 grayscale (h, w) array
    (ITU-R BT.601 luma for RGB). Raises ValueError for anything the
    from-scratch codecs can't decode — never fabricates pixels."""
    from .gif import GIF_MAGICS, decode_gif
    from .jpeg import JPEG_MAGIC, decode_jpeg
    from .png import PNG_MAGIC, decode_png

    b = content or b""
    if b.startswith(PNG_MAGIC):
        px = decode_png(b)
    elif b[:6] in GIF_MAGICS:
        px = decode_gif(b)
    elif b.startswith(JPEG_MAGIC):
        px = decode_jpeg(b)
    else:
        raise ValueError("phash: undecodable image bytes")
    px = np.asarray(px, dtype=np.float64)
    if px.ndim == 3:
        if px.shape[2] >= 3:
            px = (
                0.299 * px[:, :, 0]
                + 0.587 * px[:, :, 1]
                + 0.114 * px[:, :, 2]
            )
        else:
            px = px[:, :, 0]
    return px


def _resample_nearest(px: np.ndarray, size: int) -> np.ndarray:
    h, w = px.shape
    ys = (np.arange(size) * h) // size
    xs = (np.arange(size) * w) // size
    return px[np.ix_(ys, xs)]


_DCT_M = None


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (cached): D @ x applies the
    transform along an axis; D @ X @ D.T is the 2-D DCT."""
    global _DCT_M
    if _DCT_M is None or _DCT_M.shape[0] != n:
        k = np.arange(n).reshape(-1, 1)
        i = np.arange(n).reshape(1, -1)
        m = np.cos(np.pi * k * (2 * i + 1) / (2 * n)) * np.sqrt(2.0 / n)
        m[0, :] = np.sqrt(1.0 / n)
        _DCT_M = m
    return _DCT_M


def phash(content: bytes) -> int:
    """Perceptual hash of an image: 63 informative bits in a 64-bit
    word. Bit k (k = 0..62) is set when low-frequency DCT coefficient
    k+1 (row-major over the 8x8 low block) exceeds the median of
    those 63 AC coefficients. The DC coefficient (index 0) is
    excluded from BOTH the median and the fingerprint — classic
    pHash: DC tracks mean brightness, so its bit would be
    near-constant and would only dilute banding discrimination
    (advisor r6). Bit 63 is always 0, so the value is non-negative
    and fits Spark's signed LongType without wraparound."""
    gray = decode_to_gray(content)
    small = _resample_nearest(gray, _PHASH_SIZE)
    d = _dct_matrix(_PHASH_SIZE)
    coeffs = d @ small @ d.T
    # kill sub-1e-8 numerical noise before thresholding: on degenerate
    # inputs (uniform frames) every AC coefficient is analytically 0
    # and the float residue (~1e-13, DCT-implementation-dependent)
    # would otherwise turn the hash into noise; real image content
    # sits orders of magnitude above this
    low = np.round(coeffs[:_PHASH_LOW, :_PHASH_LOW], 8)
    ac = low.flatten()[1:]
    med = np.median(ac)
    bits = ac > med
    out = 0
    for idx in range(PHASH_BITS - 1):
        if bits[idx]:
            out |= 1 << idx
    return out


def image_phash(media: DataFrame, id_col: str = "path") -> DataFrame:
    """(id, phash) for every decodable image row — Arrow-batched
    mapInPandas, constant memory per task, no shuffle; undecodable
    rows yield NULL phash (log-and-continue, the reference failure
    semantics) so a corrupt file never kills the scan."""
    import pandas as pd

    # derive the output id type from the actual column (advisor r6: the
    # old name-based guess broke any string id column not named "path")
    id_field = media.schema[id_col].dataType.simpleString()

    def _run(batches):
        for pdf in batches:
            hashes = []
            for content in pdf["content"]:
                try:
                    hashes.append(phash(bytes(content)))
                except Exception:  # noqa: BLE001 - log-and-continue
                    hashes.append(None)
            # nullable Int64: a NULL hash must not make pandas infer
            # float64, which would round every 64-bit hash in the batch
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "phash": pd.array(hashes, dtype="Int64"),
                }
            )

    return media.select(id_col, "content").mapInPandas(
        _run, schema=f"id {id_field}, phash long"
    )


def image_neardup_pairs(
    media: DataFrame,
    max_hamming: int = 10,
    id_col: str = "path",
    chunks: int = 16,
    max_band_ratio: float | None = None,
    method: str = "mih",
) -> DataFrame:
    """Image near-duplicate pairs: pHash + an EXACT banded Hamming
    join. Two interchangeable exact joins, both never-all-pairs:

    - ``method="mih"`` (default): multi-index hashing
      (``dedup.hamming_pairs_mih``, 4 blocks of 16 bits) — at
      max_hamming=10 the probe side enumerates 137 masks per block
      (552 rows/hash) against 16-bit keys. Measured on the 448-image
      bench corpus: 1.54s vs 2.89s for the combo path (min-of-3,
      identical 255 pairs) — the high-radius default.
    - ``method="combo"``: pigeonhole combo keys
      (``simhash_hamming_pairs``): C(16, 6) = 8008 hashed 24-bit keys
      per hash — tighter buckets (pick when verification volume, not
      the explode, dominates), and the only path with the
      ``max_band_ratio`` hot-band skew cap.

    Either way the join prices ONLY the hash table (one long per
    image), never the pixels."""
    from .dedup import hamming_pairs_mih, simhash_hamming_pairs

    hashes = image_phash(media, id_col=id_col).where(
        F.col("phash").isNotNull()
    )
    if method == "mih":
        if max_band_ratio is not None:
            raise ValueError(
                "max_band_ratio is a combo-path feature; pass "
                'method="combo" to cap hot bands'
            )
        return hamming_pairs_mih(
            hashes,
            bits=PHASH_BITS,
            blocks=4,
            max_hamming=max_hamming,
            id_col="id",
            hash_col="phash",
        )
    if method != "combo":
        raise ValueError(f"unknown method {method!r}: use 'mih' or 'combo'")
    return simhash_hamming_pairs(
        hashes,
        bits=PHASH_BITS,
        chunks=chunks,
        max_hamming=max_hamming,
        id_col="id",
        hash_col="phash",
        max_band_ratio=max_band_ratio,
    )


_FID_SEP = "|"


def video_frame_phashes(
    media: DataFrame, every_ms: int = 400, id_col: str = "path"
) -> DataFrame:
    """(path, frame_ms, phash) of every decodable sampled frame: the
    timeline sampler (``multimodal.sample_frames``, one frame resident
    per row) feeding the image pHash scan — the per-video fingerprint
    table video dedup joins on. Frameless rows (stills, unknown
    timing, corrupt bytes) drop out. Paths must not contain '|' (the
    internal frame-id separator): offending rows RAISE at execution —
    a silent drop or mis-split would be a silent cap."""
    from .multimodal import sample_frames

    frames = sample_frames(media, every_ms=every_ms).where(
        F.col("frame").isNotNull()
    )
    safe_path = F.when(
        ~F.col(id_col).contains(_FID_SEP), F.col(id_col)
    ).otherwise(
        F.raise_error(
            F.lit("video_frame_phashes: path contains the frame-id "
                  "separator '|'")
        )
    )
    fid = F.concat_ws(_FID_SEP, safe_path, "frame_ms")
    hashed = image_phash(
        frames.select(fid.alias("fid"), F.col("frame").alias("content")),
        id_col="fid",
    ).withColumnRenamed("id", "fid")
    return hashed.select(
        F.substring_index(F.col("fid"), _FID_SEP, 1).alias("path"),
        F.substring_index(F.col("fid"), _FID_SEP, -1)
        .cast("long")
        .alias("frame_ms"),
        "phash",
    ).where(F.col("phash").isNotNull())


def cross_modal_neardup_pairs(
    media: DataFrame,
    every_ms: int = 400,
    max_hamming: int = 10,
    broadcast_images: bool = True,
) -> DataFrame:
    """Still images reused inside videos: every (image, video frame)
    pair whose perceptual hashes land within ``max_hamming`` bits —
    the cross-MODALITY leg of the near-dup family (image-image q281,
    video-video q300, audio-audio q307). Stills hash via the image
    scan, sampled frames via the video scan (pHash is resize-
    invariant, so a 64x64 still matches its 32x32 frame exactly).

    The match is BIPARTITE, so it runs as an index probe
    (``mih_block_index`` over the frame hashes, ``mih_match_index``
    with the image hashes as the batch) rather than a self-join over
    the tagged union of both tables: the old union self-join generated
    every within-modality pair — frame-frame near-dups dominate any
    corpus with near-duplicate or static video content — only to
    discard them with a post-filter, and paid the 548-row probe
    explode on FRAME values too. The probe explodes only distinct
    IMAGE values; frames contribute 4 short index rows each, and every
    surviving join row is true output. With ``broadcast_images`` the
    exploded image probe broadcasts (D x 4 x 137 rows at this config,
    D = distinct image hashes); past ~10M such rows pass False so the
    probe shuffles instead (``mih_match_index`` size rule).
    Returns (image_path, video_path, frame_ms, hamming). Image paths
    are never split, so they may contain '|'; video paths must not
    (``video_frame_phashes`` raises)."""
    from .dedup import mih_block_index, mih_match_index

    imgs = image_phash(media.where(F.col("modality") == "image")).where(
        F.col("phash").isNotNull()
    )
    vf = video_frame_phashes(
        media.where(F.col("modality") == "video"), every_ms=every_ms
    )
    index = mih_block_index(
        vf.select(
            F.concat_ws(_FID_SEP, "path", "frame_ms").alias("fid"), "phash"
        ),
        bits=PHASH_BITS,
        blocks=4,
        id_col="fid",
        hash_col="phash",
    )
    matches = mih_match_index(
        index,
        imgs,
        bits=PHASH_BITS,
        blocks=4,
        max_hamming=max_hamming,
        id_col="id",
        hash_col="phash",
        broadcast_batch=broadcast_images,
    )
    return matches.select(
        F.col("new_id").alias("image_path"),
        F.substring_index(F.col("hist_id"), _FID_SEP, 1).alias("video_path"),
        F.substring_index(F.col("hist_id"), _FID_SEP, -1)
        .cast("long")
        .alias("frame_ms"),
        "hamming",
    )


def video_neardup_pairs(
    media: DataFrame,
    every_ms: int = 400,
    max_hamming: int = 10,
    min_matched: int = 2,
) -> DataFrame:
    """Video near-duplicate pairs: two videos qualify when at least
    ``min_matched`` timeline-ALIGNED sampled frames land within
    ``max_hamming`` perceptual bits. The frame timestamp rides the
    exact MIH Hamming join as an alignment key
    (``hamming_pairs_mih(align_cols=["frame_ms"])``): banding still
    runs over distinct pHash values, but misaligned frame pairs are
    never materialized — the old offset-equality POST-filter made the
    equal-hash self-join quadratic in the per-hash row count with the
    cross-offset bulk discarded, and a long static video (lecture
    slides, color bars: thousands of identical frames under ONE hash
    value) funneled its whole frame set through a single join key —
    zero parallelism at cluster scale. With the timestamp in the key,
    equal-hash work is bounded per (hash, offset) bucket and exactly
    output-shaped. One long per sampled frame is all that ever joins —
    pixels never shuffle; paths need no separator encoding here.
    Exactness is unchanged: the post-filtered relation and the
    align-keyed relation are the same set."""
    from .dedup import hamming_pairs_mih

    fp = video_frame_phashes(media, every_ms=every_ms)
    pairs = hamming_pairs_mih(
        fp.select(F.col("path").alias("p"), "frame_ms", "phash"),
        bits=PHASH_BITS,
        blocks=4,
        max_hamming=max_hamming,
        id_col="p",
        hash_col="phash",
        align_cols=["frame_ms"],
    )
    return (
        pairs.groupBy(
            F.col("id_a").alias("video_a"), F.col("id_b").alias("video_b")
        )
        .agg(F.count_distinct("frame_ms").cast("long").alias("n_matched"))
        .where(F.col("n_matched") >= min_matched)
    )


__all__ = [
    "PHASH_BITS",
    "decode_to_gray",
    "phash",
    "image_phash",
    "image_neardup_pairs",
    "video_frame_phashes",
    "video_neardup_pairs",
    "cross_modal_neardup_pairs",
]
