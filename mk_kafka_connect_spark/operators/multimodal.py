"""Multimodal column support (SURVEY.md §2.B B15): image/audio/video as
opaque ``binary`` columns with typed metadata, processed by Arrow-batched
Pandas functions over ``mapInPandas``.

The Spark-side plumbing is real and tested: binary payload column + typed
metadata struct, declared output schemas, Arrow batch iteration,
partition-preserving row multiplication for frame sampling. The *codec*
step is stubbed: real decoders (PIL / soundfile / av) are not in this
environment, so ``decode_image``/``decode_audio`` raise
``NotImplementedError`` unless the library import succeeds, and the
pipelines default to ``fake_decode`` — a deterministic byte-level feature
extractor that exercises the identical batch path.

Scale notes: mapInPandas streams Arrow batches (no per-row pickling, no
driver collect); binary payloads stay off the shuffle path unless
explicitly repartitioned; metadata-only predicates (mime, n_bytes) prune
before any decode work runs.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "attach_fake_binary",
    "fake_decode_features",
    "frame_sample",
    "resize_nearest",
    "average_hash",
    "ahash_near_dups",
    "decode_image",
    "decode_audio",
]

# Workers of a session this package did not build cannot import it, so
# the module-level batch functions below travel by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

FEATURE_SCHEMA = (
    "doc_id long, mime string, n_bytes long, header_hex string, "
    "checksum long, width int, height int"
)


def attach_fake_binary(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build a multimodal-shaped relation from a text fixture: ``payload``
    (binary, utf-8 bytes standing in for image bytes) + metadata struct —
    the schema a real ingest (s3 object + sidecar metadata) would have."""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.octet_length(F.encode(F.col(text_col), "utf-8")).alias("n_bytes"),
        ).alias("meta"),
    )


def _fake_decode_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic byte-level 'decode': length, 8-byte header hex,
    additive checksum, and fake dimensions derived from both. Stands in
    for a real image decode with the same batch shape and cost profile."""
    for pdf in it:
        payloads = pdf["payload"]
        n_bytes = payloads.map(len)
        checksum = payloads.map(lambda b: sum(b) % 1_000_000_007)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "mime": pdf["mime"],
                "n_bytes": n_bytes,
                "header_hex": payloads.map(lambda b: b[:8].hex().upper()),
                "checksum": checksum,
                "width": (n_bytes % 640 + 16).astype("int32"),
                "height": (checksum % 480 + 16).astype("int32"),
            }
        )


def fake_decode_features(bin_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    Input schema: (doc_id, payload binary, meta struct<mime,n_bytes>).

    ``_fake_decode_batch`` is a module-level function; this module is
    pickled by value, so workers that cannot import the package run it."""
    flat = bin_df.select("doc_id", "payload", F.col("meta.mime").alias("mime"))
    return flat.mapInPandas(_fake_decode_batch, schema=FEATURE_SCHEMA)


def frame_sample(bin_df: DataFrame, n_frames: int = 4, frame_bytes: int = 32) -> DataFrame:
    """Video-style frame sampling: slice each payload into ``n_frames``
    evenly spaced byte windows, one output row per frame (explode — the
    same row-multiplication shape as real frame extraction). Pure columnar
    ops; no Python."""
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_idx")
    exploded = bin_df.select("doc_id", "payload", idx)
    n = F.octet_length("payload")
    offset = (F.col("frame_idx") * F.greatest((n / n_frames).cast("int"), F.lit(1))) + 1
    return exploded.select(
        "doc_id",
        "frame_idx",
        F.substring(F.col("payload"), offset, frame_bytes).alias("frame_bytes"),
    )


RESIZE_SCHEMA = "doc_id long, out_w int, out_h int, resized_hex string"


def resize_nearest(bin_df: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Nearest-neighbor 'resize' over the opaque payload: gather
    ``out_w·out_h`` bytes at positions ``floor(i·n / target)`` — the exact
    index-mapping gather a real image resize performs, on the byte stand-in.

    Arrow-batched ``mapInPandas`` with a vectorized numpy gather per
    batch (the real-decoder path would do the same gather on pixel rows);
    output is hex so the byte result is oracle-comparable."""
    import numpy as np

    target = out_w * out_h

    def _resize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            outs = []
            for b in pdf["payload"]:
                n = len(b)
                if n == 0:
                    outs.append("")
                    continue
                idx = (np.arange(target, dtype=np.int64) * n) // target
                outs.append(np.frombuffer(b, dtype=np.uint8)[idx].tobytes().hex().upper())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "out_w": out_w,
                    "out_h": out_h,
                    "resized_hex": outs,
                }
            )

    flat = bin_df.select("doc_id", "payload")
    return flat.mapInPandas(_resize, schema=RESIZE_SCHEMA)


AHASH_SCHEMA = "doc_id long, ahash_hi long, ahash_lo long, n_bright int"


def average_hash(bin_df: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual average-hash (aHash) over the opaque payload: resize to
    ``grid×grid`` via the nearest-neighbor byte gather, then bit i = 1
    iff pixel i is strictly brighter than the mean — the standard
    image-dedup fingerprint (near-dup images differ in a few bits; exact
    hamming join/ball probing works the same as SimHash text dedup).

    The mean comparison is the pure-integer predicate px·N > Σpx (no
    float mean), and the 64 bits are emitted as TWO 32-bit words
    (ahash_hi/ahash_lo) so the value stays inside signed int64 on every
    engine (1<<63 would overflow). Arrow-batched mapInPandas, one
    vectorized gather + matmul-free bit pack per batch."""
    import numpy as np

    target = grid * grid
    half = target // 2

    def _ahash(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # One flat-buffer fancy-index per batch instead of a Python loop
        # per payload: each row's 64 gather positions are floor(i·n/64)
        # offset into the concatenated byte buffer. Identical integer
        # math to the scalar form (same bits, same words) — only the
        # batch shape changed.
        lo_w = np.int64(1) << np.arange(half, dtype=np.int64)
        for pdf in it:
            bufs = list(pdf["payload"])
            lens = np.array([len(b) if b is not None else 0 for b in bufs], dtype=np.int64)
            his = np.zeros(len(bufs), dtype=np.int64)
            los = np.zeros(len(bufs), dtype=np.int64)
            brights = np.zeros(len(bufs), dtype=np.int32)
            nz = lens > 0
            if nz.any():
                flat = np.frombuffer(
                    b"".join(b for b in bufs if b is not None and len(b)), dtype=np.uint8
                )
                nzl = lens[nz]
                offs = np.concatenate(([0], np.cumsum(nzl[:-1])))
                idx = (np.arange(target, dtype=np.int64)[None, :] * nzl[:, None]) // target
                px = flat[idx + offs[:, None]].astype(np.int64)
                bits = (px * target > px.sum(axis=1, keepdims=True)).astype(np.int64)
                los[nz] = (bits[:, :half] * lo_w[None, :]).sum(axis=1)
                his[nz] = (bits[:, half:] * lo_w[None, :]).sum(axis=1)
                brights[nz] = bits.sum(axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "ahash_hi": pd.Series(his, dtype="int64"),
                    "ahash_lo": pd.Series(los, dtype="int64"),
                    "n_bright": pd.Series(brights, dtype="int32"),
                }
            )

    return bin_df.select("doc_id", "payload").mapInPandas(_ahash, schema=AHASH_SCHEMA)


def ahash_near_dups(bin_df: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Image-side near-dup pairs: documents whose 64-bit aHash
    fingerprints differ in ≤ ``max_hamming`` bits — the visual analog of
    SimHash text dedup, resolved with the SAME pigeonhole band machinery
    (re-encodes, crops-with-padding, and brightness shifts move only a
    few bits of an average hash).

    The 64 bits (two 32-bit words from ``average_hash``) split into 8
    bands of 8 bits; any pair with hamming ≤ 7 must agree on at least
    one band (pigeonhole), so candidates come from a band-key hash
    equi-join — never an all-pairs scan — and the exact popcount filter
    runs only on bucket-mates. At 100 TB of images the cost is one
    fingerprint pass + one band shuffle, identical in shape to
    ``simhash_near_dups``; ``max_hamming`` must stay < 8 or the band
    join loses completeness (asserted)."""
    if max_hamming >= 8:
        raise ValueError("max_hamming must be < 8 for 8-band completeness")
    fp = average_hash(bin_df, grid=8).select("doc_id", "ahash_hi", "ahash_lo")
    banded = fp.select(
        "doc_id",
        "ahash_hi",
        "ahash_lo",
        F.explode(
            F.expr(
                "transform(sequence(0, 7), b -> struct(b AS band_idx, "
                "CASE WHEN b < 4 THEN shiftright(ahash_lo, b * 8) & 255 "
                "ELSE shiftright(ahash_hi, (b - 4) * 8) & 255 END AS band_key))"
            )
        ).alias("band"),
    ).select("doc_id", "ahash_hi", "ahash_lo", "band.band_idx", "band.band_key")
    # Single derivation for both self-join sides: the fingerprint pass
    # (payload decode + 64-cell grid math) would otherwise run twice.
    banded = banded.localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.ahash_hi").alias("hi_a"),
            F.col("a.ahash_lo").alias("lo_a"),
            F.col("b.ahash_hi").alias("hi_b"),
            F.col("b.ahash_lo").alias("lo_b"),
        )
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).alias("hamming")
    return pairs.select("id_a", "id_b", hamming).filter(
        F.col("hamming") <= max_hamming
    )


def decode_image(payload: bytes):  # pragma: no cover - env-gated
    """Real image decode — stub: PIL is not available in this container.
    Cited contract: returns (width, height, mode, pixel array)."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "real image decode requires Pillow; use fake_decode_features "
            "for the plumbing path"
        ) from e
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(payload))
    return img.size[0], img.size[1], img.mode, img


def decode_audio(payload: bytes):  # pragma: no cover - env-gated
    """Real audio decode — stub: soundfile not in this container."""
    try:
        import soundfile  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "real audio decode requires soundfile; use fake_decode_features "
            "for the plumbing path"
        ) from e
    import io

    import soundfile as sf

    return sf.read(io.BytesIO(payload))


# ---------------------------------------------------------------------------
# pHash: DCT-based perceptual hash (the aHash upgrade), integer-exact
# ---------------------------------------------------------------------------

PHASH_N = 16  # input grid (16x16 byte gather)
PHASH_K = 8  # low-frequency block kept (8x8 minus DC = 63 bits)
_PHASH_SCALE = 1 << 14


def _phash_cos_table() -> list[int]:
    """Pinned integer DCT-II basis: C[k][i] = round(2^14·cos(π(2i+1)k/2N)),
    flattened row-major. Both the Spark kernel and the SQL oracle read
    THIS list, so the transform is the same exact integer math in both
    engines — no engine trig ever runs."""
    import math

    n = PHASH_N
    return [
        round(_PHASH_SCALE * math.cos(math.pi * (2 * i + 1) * k / (2 * n)))
        for k in range(n)
        for i in range(n)
    ]


PHASH_COS = _phash_cos_table()

PHASH_SCHEMA = "doc_id long, phash_hi long, phash_lo long, dc long, n_above int"


def perceptual_hash(bin_df: DataFrame, dither: bool = False) -> DataFrame:
    """DCT perceptual hash (pHash) over the opaque payload: gather a
    16×16 byte grid (the resize), apply the exact integer 2-D DCT-II
    (C·P·Cᵀ with the pinned ×2¹⁴ cosine table — every product stays
    inside int64: |coeff| ≤ 16²·2²⁸·255 ≈ 1.8e13), keep the 8×8
    low-frequency block, drop DC, and set bit i iff coefficient i
    exceeds the EXACT median of the 63 (odd count → the rank-32 order
    statistic, no interpolation). pHash survives blur/re-encode/gamma
    changes that flip many aHash bits, because the comparison basis is
    frequency-domain; hamming-band machinery downstream is shared with
    aHash/SimHash.

    One vectorized flat-buffer gather + two int64 matmuls per Arrow
    batch — no per-row Python. The 63 bits pack into two words
    (hi 31 / lo 32) to stay inside signed int64."""
    import numpy as np

    n = PHASH_N
    target = n * n
    c = np.array(PHASH_COS, dtype=np.int64).reshape(n, n)
    kk = PHASH_K

    def _phash(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lo_w = np.int64(1) << np.arange(32, dtype=np.int64)
        hi_w = np.int64(1) << np.arange(31, dtype=np.int64)
        for pdf in it:
            bufs = list(pdf["payload"])
            lens = np.array(
                [len(b) if b is not None else 0 for b in bufs], dtype=np.int64
            )
            m = len(bufs)
            his = np.zeros(m, dtype=np.int64)
            los = np.zeros(m, dtype=np.int64)
            dcs = np.zeros(m, dtype=np.int64)
            n_above = np.zeros(m, dtype=np.int32)
            nz = lens > 0
            if nz.any():
                flat = np.frombuffer(
                    b"".join(b for b in bufs if b is not None and len(b)),
                    dtype=np.uint8,
                )
                nzl = lens[nz]
                offs = np.concatenate(([0], np.cumsum(nzl[:-1])))
                idx = (
                    np.arange(target, dtype=np.int64)[None, :] * nzl[:, None]
                ) // target
                px = flat[idx + offs[:, None]].astype(np.int64)
                if dither:
                    # ±8 alternating perturbation — the integer
                    # quantization-noise re-encode model; clipped to
                    # the byte range like a real re-render.
                    d8 = np.where(
                        np.arange(target, dtype=np.int64) % 2 == 0, 8, -8
                    )
                    px = np.clip(px + d8[None, :], 0, 255)
                px = px.reshape(-1, n, n)
                # Exact integer 2-D DCT-II: C · P · C^T per image.
                coeff = np.einsum("ki,bij,lj->bkl", c, px, c, optimize=True)
                block = coeff[:, :kk, :kk].reshape(-1, kk * kk)
                dcs[nz] = block[:, 0]
                ac = block[:, 1:]  # 63 AC coefficients
                med = np.sort(ac, axis=1)[:, (ac.shape[1] - 1) // 2]
                bits = (ac > med[:, None]).astype(np.int64)
                los[nz] = (bits[:, :32] * lo_w[None, :]).sum(axis=1)
                his[nz] = (bits[:, 32:] * hi_w[None, :]).sum(axis=1)
                n_above[nz] = bits.sum(axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash_hi": pd.Series(his, dtype="int64"),
                    "phash_lo": pd.Series(los, dtype="int64"),
                    "dc": pd.Series(dcs, dtype="int64"),
                    "n_above": pd.Series(n_above, dtype="int32"),
                }
            )

    return bin_df.select("doc_id", "payload").mapInPandas(
        _phash, schema=PHASH_SCHEMA
    )


def phash_near_dups(
    bin_df: DataFrame | None = None,
    max_hamming: int = 7,
    *,
    fp: DataFrame | None = None,
) -> DataFrame:
    """Frequency-domain near-dup pairs: documents whose 63-bit DCT
    pHashes differ in ≤ ``max_hamming`` bits — same 8-band pigeonhole
    join as ``ahash_near_dups`` (bands 0-3 from the 32-bit lo word,
    bands 4-7 from the 31-bit hi word, so the last band is 7 bits wide;
    8 bands still guarantee completeness for hamming ≤ 7). Candidates
    come from the band hash equi-join, never an all-pairs scan; the
    exact popcount filter runs only on bucket-mates."""
    if max_hamming >= 8:
        raise ValueError("max_hamming must be < 8 for 8-band completeness")
    if fp is None:
        fp = perceptual_hash(bin_df).select("doc_id", "phash_hi", "phash_lo")
    banded = fp.select(
        "doc_id",
        "phash_hi",
        "phash_lo",
        F.explode(
            F.expr(
                "transform(sequence(0, 7), b -> struct(b AS band_idx, "
                "CASE WHEN b < 4 THEN shiftright(phash_lo, b * 8) & 255 "
                "ELSE shiftright(phash_hi, (b - 4) * 8) & 255 END AS band_key))"
            )
        ).alias("band"),
    ).select("doc_id", "phash_hi", "phash_lo", "band.band_idx", "band.band_key")
    # Single derivation for both self-join sides: the DCT fingerprint
    # pass would otherwise run twice (see ahash_near_dups).
    banded = banded.localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.phash_hi").alias("hi_a"),
            F.col("a.phash_lo").alias("lo_a"),
            F.col("b.phash_hi").alias("hi_b"),
            F.col("b.phash_lo").alias("lo_b"),
        )
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).alias("hamming")
    return pairs.select("id_a", "id_b", hamming).filter(
        F.col("hamming") <= max_hamming
    )
