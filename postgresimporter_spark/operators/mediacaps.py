"""Decompression-bomb guard shared by the library-free image codecs.

The decoders run inside Arrow-batched ``mapInPandas`` workers with the
"peak memory = one image" contract (``png.py`` module docstring). That
contract is only as strong as the DECLARED image size: a forged header
— a PNG IHDR claiming 100k x 100k, a JPEG SOF with 65535 x 65535, a
GIF logical screen of 65535 x 65535 — drives the output allocation
(and for PNG the zlib inflation, which compresses ~1000:1) to tens of
gigabytes from a kilobyte-scale input, killing the executor with an
OOM that no ``try/except`` can catch. In a 100-TB crawl one such file
per million is a certainty, and one poisoned task kills a whole-stage
retry cascade, not a row.

``MAX_DECODE_PIXELS`` caps width x height BEFORE any size-proportional
allocation or decompression. 100 MP (~300 MB decoded RGB) clears every
real crawl image — 8K video frames are 33 MP, flagship-phone panoramas
~200 MB compressed land under 100 MP — while bounding the worst
per-task allocation at a level a 4 GB-heap executor absorbs. The cap
raises ``ValueError``, which the media operators' row functions
(``multimodal.extract_features`` and friends, run through
``rowmap.map_rows``) already convert to null-field rows — so an
over-cap image degrades to metadata-only, loudly visible as nulls,
and the task lives. Raise the cap
module-wide (``mediacaps.MAX_DECODE_PIXELS = ...``) only together
with executor memory: budget ~3 bytes/pixel output plus one
uncompressed scanline buffer for PNG.
"""

from __future__ import annotations

MAX_DECODE_PIXELS = 100_000_000


def check_pixels(width: int, height: int, codec: str) -> None:
    """Raise ``ValueError`` when a declared image size exceeds the
    decode cap (or is non-positive — a zero/negative dimension from a
    corrupt header would otherwise slip through the multiply)."""
    if width <= 0 or height <= 0:
        raise ValueError(
            f"{codec}: invalid declared dimensions {width}x{height}"
        )
    if width * height > MAX_DECODE_PIXELS:
        raise ValueError(
            f"{codec}: declared size {width}x{height} = "
            f"{width * height} px exceeds MAX_DECODE_PIXELS "
            f"{MAX_DECODE_PIXELS} (decompression-bomb guard; raise "
            "mediacaps.MAX_DECODE_PIXELS together with executor "
            "memory if such images are genuine)"
        )


__all__ = ["MAX_DECODE_PIXELS", "check_pixels"]
