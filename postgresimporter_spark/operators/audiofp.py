"""Audio landmark fingerprinting on REAL decoded PCM — the audio leg
of the near-dup family (image pHash: ``imagehash``; video frame
hashes: ``imagehash.video_frame_phashes``), completing perceptual
dedup across all three media modalities.

The scheme is the classic spectral-peak constellation (Wang,
"An Industrial-Strength Audio Search Algorithm", ISMIR 2003 —
public): per fixed-size frame, the peak frequency bin of each of four
log-spaced bands; landmarks pair a band's anchor peak with the same
band's peak 1 and 2 frames ahead, packed into one integer hash
``((band*256 + p1)*256 + p2)*4 + dt``. Two recordings of the same
material share many landmark hashes at a CONSISTENT frame offset;
unrelated audio collides only incidentally and never consistently —
so matching is one hash equi-join plus an offset histogram, never a
spectral cross-correlation of all pairs.

Exact spec (both the operator and the independent oracle model in
``tests/gen_media_expected.py`` implement this text):

- frames: non-overlapping windows of ``FRAME_SAMPLES`` = 256 samples,
  at most ``MAX_FRAMES`` = 256 frames (bounded memory per row, same
  contract as ``audiofeat._MAX_SAMPLES``); no window function
  (rectangular) — determinism over sidelobe suppression.
- spectrum: magnitude of the real FFT, bins 0..128.
- bands (inclusive bin ranges, DC excluded): (1,8), (9,24), (25,56),
  (57,128); peak = argmax with ties to the LOWEST bin.
- landmarks: for ``dt`` in (1, 2), every frame t with a partner at
  t+dt emits the packed hash above; t is the anchor frame index.

Honesty boundary (matches ``audiofeat``): non-PCM/undecodable bytes
yield ZERO landmark rows (log-and-continue), never task failures and
never fabricated hashes.

Scale: landmark extraction is per-row Arrow-batched ``rowmap.map_rows``
(no shuffle until the match join); the match is a hash equi-join on
the packed landmark over DISTINCT landmark sets (duplicate tracks —
the re-upload shape — collapse to one value before the join and fan
back out after the vote; r10 stress probe in ``audio_neardup_pairs``),
with the offset-consistency vote applied after the join as a cheap
row-local subtraction, and an opt-in hot-hash cap + audit
(``max_hash_ratio`` / ``hot_landmark_hashes``) for the low-entropy-
band collision axis.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rowmap import map_rows

FRAME_SAMPLES = 256
MAX_FRAMES = 256
BANDS = ((1, 8), (9, 24), (25, 56), (57, 128))
LANDMARK_DTS = (1, 2)

LANDMARK_SCHEMA = "path string, t long, lm_hash long"


def landmarks_from_pcm(mono: np.ndarray, rate: int) -> list[tuple[int, int]]:
    """(anchor frame index, packed landmark hash) rows for one PCM
    stream, per the module spec. ``rate`` is accepted for signature
    symmetry; the scheme is defined on frames, not seconds."""
    n_frames = min(len(mono) // FRAME_SAMPLES, MAX_FRAMES)
    if n_frames < 2:
        return []
    frames = mono[: n_frames * FRAME_SAMPLES].reshape(
        n_frames, FRAME_SAMPLES
    )
    mag = np.abs(np.fft.rfft(frames, axis=1))
    peaks = np.empty((n_frames, len(BANDS)), dtype=np.int64)
    for b, (lo, hi) in enumerate(BANDS):
        peaks[:, b] = lo + np.argmax(mag[:, lo : hi + 1], axis=1)
    out = []
    for dt in LANDMARK_DTS:
        for t in range(n_frames - dt):
            for b in range(len(BANDS)):
                h = (
                    (b * 256 + int(peaks[t, b])) * 256 + int(peaks[t + dt, b])
                ) * 4 + dt
                out.append((t, h))
    return out


def audio_landmarks(media: DataFrame) -> DataFrame:
    """Per-row landmark extraction through ``rowmap.map_rows``;
    undecodable rows yield zero rows, never failures."""
    from .audiofeat import decode_pcm

    def _row(r):
        try:
            mono, rate = decode_pcm(bytes(r["content"]))
        except Exception:  # noqa: BLE001 - log-and-continue
            return
        for t, h in landmarks_from_pcm(mono, rate):
            yield r["path"], t, h

    return map_rows(media.select("path", "content"), _row, LANDMARK_SCHEMA)


def _landmark_values(
    lm: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Collapse tracks with IDENTICAL landmark sets to one VALUE row —
    the r10 distinct-before-expand pattern (``dedup._text_values``)
    applied to the audio leg. Returns ``(vals, members, vlm)``:
    ``vals`` has one row per distinct landmark set (vid = min path of
    the family, cnt = multiplicity), ``members`` maps vid -> every
    track path, and ``vlm`` is the landmark rows of the family
    REPRESENTATIVES only (vid, t, lm_hash). The value key is md5 of
    the track's sorted (t, lm_hash) JSON — a 32-char string, never the
    landmark list itself, through the joins (the repo-wide
    hash-stability rule). Tracks with zero landmarks never appear
    (they cannot pair — same as the row-level join)."""
    lm = lm.localCheckpoint(eager=False)  # decode once, 3 readers
    sig = lm.groupBy("path").agg(
        F.md5(
            F.to_json(
                F.sort_array(F.collect_list(F.struct("t", "lm_hash")))
            )
        ).alias("_vk")
    )
    vals = (
        sig.groupBy("_vk")
        .agg(F.min("path").alias("vid"), F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    members = sig.join(vals.select("_vk", "vid"), on="_vk").select(
        "vid", F.col("path").alias("id")
    )
    vlm = lm.join(
        vals.select(F.col("vid").alias("path"), "vid"), on="path"
    ).select("vid", "t", "lm_hash")
    return vals, members, vlm


def hot_landmark_hashes(
    media: DataFrame, max_track_ratio: float
) -> DataFrame:
    """The landmark hashes carried by MORE than ``max_track_ratio`` of
    the decodable tracks, as (lm_hash, n_tracks) — the audit twin of
    ``audio_neardup_pairs(max_hash_ratio=...)``, same contract as
    ``dedup.hot_shingles`` / ``dedup.hot_bands``: the run that caps
    must be able to report exactly which hashes it ignored. The
    corpus size joins in as a broadcast 1-row aggregate (plan
    construction must not launch a job)."""
    lm = audio_landmarks(media).localCheckpoint(eager=False)
    per = lm.select("path", "lm_hash").distinct()
    n = lm.agg(F.count_distinct("path").cast("double").alias("_n_tracks"))
    return (
        per.groupBy("lm_hash")
        .agg(F.count("*").cast("long").alias("n_tracks"))
        .crossJoin(F.broadcast(n))
        .where(F.col("n_tracks") > F.lit(max_track_ratio) * F.col("_n_tracks"))
        .select("lm_hash", "n_tracks")
    )


def audio_neardup_pairs(
    media: DataFrame,
    min_matched: int = 8,
    max_hash_ratio: float | None = None,
) -> DataFrame:
    """Audio near-duplicate pairs: two tracks qualify when at least
    ``min_matched`` anchor frames carry hash-equal landmarks at ONE
    consistent frame offset (the constellation vote). Returns
    (track_a, track_b, offset, n_matched) with track_a < track_b and
    ``offset = t_a - t_b`` of the winning alignment (largest
    n_matched, smallest offset on ties — total order).

    Scale (r10 stress probe, measured): the naive layout joined
    landmark ROWS on lm_hash, so k byte-identical copies of a track
    (the re-upload shape) inflated every bucket k-fold and the vote
    join k²-fold — 2,440 tracks as 61 duplicate families ran 189s
    where the all-distinct control ran 119s, diverging quadratically.
    This layout votes over DISTINCT landmark sets only (identity =
    md5 of the sorted landmark list), filters ``min_matched`` BEFORE
    expansion, and fans the winning alignment back to track pairs
    with two equi-joins. The expansion is swap-aware: a vote computed
    for value pair (va, vb) flips its offset sign when the member
    pair lands in the other order, and the tie-break flips with it —
    "smallest offset" among max-vote ties becomes "largest, negated"
    — so BOTH tie-break winners are carried (off_f / off_r) and the
    member join picks per row. n_matched needs no twin: within one
    offset group b.t = a.t - off is a bijection of a.t, so the
    distinct-anchor count is direction-symmetric. Same-value pairs
    skip the vote entirely: for identical landmark sets offset 0
    matches every anchor and any other offset strands the earliest
    (or latest) anchor, so the winner is exactly (0, #anchors) —
    with a cap, #anchors over the surviving hash space.

    ``max_hash_ratio`` is the skew guard for the OTHER quadratic
    axis — low-entropy hashes (band 0 packs only 8×8×2 combinations)
    shared across unrelated tracks, the hot-shingle shape: hashes
    carried by more than that fraction of tracks are dropped before
    the join (frequency counted at value level weighted by family
    multiplicity, so the drop set matches row level). The trade is
    explicit, never silent: a pair whose EVERY shared hash is hot is
    missed, and ``hot_landmark_hashes()`` returns exactly the dropped
    hashes. Default None = exact."""
    vals, members, vlm = _landmark_values(audio_landmarks(media))
    if max_hash_ratio is not None:
        freq = (
            vlm.select("vid", "lm_hash")
            .distinct()
            .join(vals.select("vid", "cnt"), on="vid")
            .groupBy("lm_hash")
            .agg(F.sum("cnt").alias("_freq"))
        )
        n = vals.agg(F.sum("cnt").cast("double").alias("_n_tracks"))
        cold = (
            freq.crossJoin(F.broadcast(n))
            .where(F.col("_freq") <= F.lit(max_hash_ratio) * F.col("_n_tracks"))
            .select("lm_hash")
        )
        vlm = vlm.join(cold, on="lm_hash")
    vlm = vlm.localCheckpoint(eager=False)  # vote join + anchor counts

    a, b = vlm.alias("a"), vlm.alias("b")
    votes = (
        a.join(b, on="lm_hash")
        .where(F.col("a.vid") < F.col("b.vid"))
        .groupBy(
            F.col("a.vid").alias("vid_a"),
            F.col("b.vid").alias("vid_b"),
            (F.col("a.t") - F.col("b.t")).alias("off"),
        )
        .agg(F.count_distinct(F.col("a.t")).cast("long").alias("n"))
    )

    def _best(off_sign: int):
        return F.array_min(
            F.collect_list(
                F.struct(
                    (-F.col("n")).alias("neg"),
                    (off_sign * F.col("off")).alias("off"),
                )
            )
        )

    vpairs = (
        votes.groupBy("vid_a", "vid_b")
        .agg(_best(1).alias("_f"), _best(-1).alias("_r"))
        .select(
            "vid_a",
            "vid_b",
            F.col("_f.off").alias("off_f"),
            F.col("_r.off").alias("off_r"),
            (-F.col("_f.neg")).cast("long").alias("n"),
        )
        .where(F.col("n") >= min_matched)
    )
    # same-value pairs: (0, #distinct anchors over the surviving
    # hash space), argued exact in the docstring
    anchors = vlm.groupBy("vid").agg(
        F.count_distinct("t").cast("long").alias("_n_t")
    )
    self_vids = (
        vals.where(F.col("cnt") >= 2)
        .join(anchors, on="vid")
        .where(F.col("_n_t") >= min_matched)
        .select(
            F.col("vid").alias("vid_a"),
            F.col("vid").alias("vid_b"),
            F.lit(0).cast("long").alias("off_f"),
            F.lit(0).cast("long").alias("off_r"),
            F.col("_n_t").alias("n"),
        )
    )
    return (
        vpairs.unionByName(self_vids)
        .join(
            members.select(
                F.col("vid").alias("vid_a"), F.col("id").alias("_ia")
            ),
            on="vid_a",
        )
        .join(
            members.select(
                F.col("vid").alias("vid_b"), F.col("id").alias("_ib")
            ),
            on="vid_b",
        )
        .where(
            (F.col("vid_a") != F.col("vid_b"))
            | (F.col("_ia") < F.col("_ib"))
        )
        .select(
            F.least("_ia", "_ib").alias("track_a"),
            F.greatest("_ia", "_ib").alias("track_b"),
            F.when(F.col("_ia") < F.col("_ib"), F.col("off_f"))
            .otherwise(F.col("off_r"))
            .alias("offset"),
            F.col("n").alias("n_matched"),
        )
    )


__all__ = [
    "FRAME_SAMPLES",
    "MAX_FRAMES",
    "BANDS",
    "LANDMARK_DTS",
    "LANDMARK_SCHEMA",
    "landmarks_from_pcm",
    "audio_landmarks",
    "audio_neardup_pairs",
    "hot_landmark_hashes",
]
