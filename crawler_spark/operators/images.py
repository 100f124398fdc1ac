"""Image decode / validate / phash / near-dup dedup — the graft's
payload pipeline over the image+caption table
(image_id, bytes, w, h, fmt, caption, phash).

Reference surface (SURVEY.md §1.3): image+caption extraction
(/root/reference/lib/crawler/crawler-engine.ts:1414-1425 — alt text is
the caption), PNG screenshot bytes
(/root/reference/lib/recorder/browser-session.ts:2531-2654), and the
time-window screenshot dedup (browser-session.ts:2444-2473) + modal
content dedup (:4008-4015), generalized here to perceptual-hash
near-duplicate dedup over decoded pixels.

All pixel work crosses into Python ONLY via Arrow-batched
``mapInPandas`` (vectorized; no per-row Python UDFs), per the
input_hint. The hash-bucketed candidate generation and the
connected-component collapse are pure native DataFrame ops (joins +
``bit_count`` on xor), so the O(n²) part of near-dup detection never
happens: candidates come from 16-bit phash bands (any pair within
Hamming distance ≤ 3·16 shares ≥ one of 4 bands — pigeonhole), which
at 10^10 images is a self-equi-join on (band_id, band_value),
shuffle-partitioned by band value.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, DoubleType, IntegerType,
                               LongType, StructField, StructType)

from ..core.imaging import decode_image, phash64, psnr

_DECODE_FIELDS = [
    StructField("dec_ok", BooleanType()),
    StructField("dec_w", IntegerType()),
    StructField("dec_h", IntegerType()),
    StructField("phash_dec", LongType()),
]


def decode_and_phash(images: DataFrame, validate_dims: bool = True) -> DataFrame:
    """Decode `bytes` per Arrow batch; append dec_ok/dec_w/dec_h and
    the recomputed 64-bit perceptual hash of the decoded pixels.

    mapInPandas keeps whole columns JVM-side except the batch being
    decoded; partitioning is preserved (narrow transform)."""
    schema = StructType(list(images.schema.fields) + _DECODE_FIELDS)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ok, ws, hs, phs = [], [], [], []
            for data, fmt in zip(pdf["bytes"], pdf["fmt"]):
                try:
                    px = decode_image(bytes(data), fmt)
                    ok.append(True)
                    hs.append(px.shape[0])
                    ws.append(px.shape[1])
                    phs.append(phash64(px))
                except (ValueError, KeyError):
                    ok.append(False)
                    ws.append(-1)
                    hs.append(-1)
                    phs.append(0)
            pdf = pdf.assign(dec_ok=ok, dec_w=ws, dec_h=hs, phash_dec=phs)
            yield pdf

    out = images.mapInPandas(batches, schema=schema)
    if validate_dims:
        out = out.withColumn(
            "valid",
            F.col("dec_ok") & (F.col("dec_w") == F.col("w"))
            & (F.col("dec_h") == F.col("h")))
    return out


def psnr_vs_golden(images: DataFrame, golden: DataFrame) -> DataFrame:
    """Per-row PSNR of decoded `bytes` against golden PNG `golden_png`
    (joined on image_id): the decoded-pixel allclose invariant
    (PSNR ≥ 40 dB for lossy formats, exact for png)."""
    joined = images.select("image_id", "bytes", "fmt").join(
        golden.select("image_id", "golden_png"), "image_id")
    schema = StructType([
        StructField("image_id", joined.schema["image_id"].dataType),
        StructField("psnr_db", DoubleType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vals = []
            for data, fmt, gold in zip(pdf["bytes"], pdf["fmt"],
                                       pdf["golden_png"]):
                px = decode_image(bytes(data), fmt)
                gx = decode_image(bytes(gold), "png")
                vals.append(min(psnr(px, gx), 1e9))  # inf → sentinel
            yield pd.DataFrame({"image_id": pdf["image_id"], "psnr_db": vals})

    return joined.mapInPandas(batches, schema=schema)


# ---------------------------------------------------------------------------
# phash near-duplicate dedup (banded LSH on the 64-bit hash)
# ---------------------------------------------------------------------------

def _bands(col, n_bands: int = 16):
    """Split a 64-bit hash column into n equal-width band values."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    return [F.shiftrightunsigned(col, i * width).bitwiseAND(mask)
            for i in range(n_bands)]


def phash_candidate_pairs(images: DataFrame, max_hamming: int = 10,
                          id_col: str = "image_id",
                          phash_col: str = "phash",
                          n_bands: int = 16,
                          band_errors: int = 0) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b, hamming ≤ max_hamming).

    Band join with n_bands equal slices: if every band differed the
    distance would be ≥ n_bands, so any pair with hamming ≤
    n_bands - 1 collides on ≥ 1 band — recall is EXACT for
    max_hamming ≤ n_bands - 1 (default 16 bands ⇒ exact ≤ 15). The
    hamming filter (`bit_count(a^b)`) then cuts false candidates.

    ``band_errors=1`` extends the exact bound past the band count
    WITHOUT narrower bands: side A additionally emits every
    single-bit flip of each band value (width+1 keys per band,
    one-sided so the cost is additive, not squared), so two hashes
    collide on a band whenever that band's hamming is ≤ 1 — by
    pigeonhole a pair with total hamming ≤ 2·n_bands - 1 must have
    such a band. 16 bands ⇒ exact ≤ 31; 8 bands ⇒ exact ≤ 15 at
    half the shuffle key width. (A merely SHIFTED second banding
    pass does NOT buy exactness — one differing bit per aligned band
    can simultaneously cover every shifted band — which is why the
    1-error flip family is the scale knob; recall over the whole
    (n_bands, band_errors, max_hamming) space is pinned in
    tests/test_images.py.) At 10^10 images: 8 bands + band_errors=1
    keeps exact ≤ 15 with 8-way band keys and 72 index rows/image.
    Native ops only; the self-join shuffles on (band_id, band_val)."""
    exact_bound = n_bands * (band_errors + 1) - 1
    if max_hamming > exact_bound:
        raise ValueError(f"recall not exact: max_hamming {max_hamming} "
                         f"> {exact_bound} (n_bands={n_bands}, "
                         f"band_errors={band_errors})")
    width = 64 // n_bands
    sides = images.select(F.col(id_col).alias("id"),
                          F.col(phash_col).alias("ph"))
    banded = sides.select(
        "id", "ph",
        F.posexplode(F.array(*_bands(F.col("ph"), n_bands)))
        .alias("band_id", "band_val"))
    if band_errors == 0:
        a_keys = banded
    elif band_errors == 1:
        flips = F.array(*([F.col("band_val")]
                          + [F.col("band_val").bitwiseXOR(F.lit(1 << i))
                             for i in range(width)]))
        a_keys = banded.select("id", "ph", "band_id",
                               F.explode(flips).alias("band_val"))
    else:
        raise ValueError("band_errors must be 0 or 1")
    a = a_keys.select(F.col("id").alias("id_a"), F.col("ph").alias("ph_a"),
                      "band_id", "band_val")
    b = banded.select(F.col("id").alias("id_b"), F.col("ph").alias("ph_b"),
                      "band_id", "band_val")
    pairs = (a.join(b, ["band_id", "band_val"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "ph_a", "ph_b").distinct()
             .withColumn("hamming",
                         F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))))
             .filter(F.col("hamming") <= max_hamming))
    return pairs.select("id_a", "id_b", "hamming")


def phash_dedup(images: DataFrame, max_hamming: int = 10,
                id_col: str = "image_id",
                phash_col: str = "phash") -> DataFrame:
    """Collapse near-duplicate clusters: connected components over the
    banded candidate-pair graph, labelled by one driver union-find pass
    (operators/cluster.py). Returns the input plus `canonical_id`
    (= min id in the component) and `is_canonical`.

    Generalizes the reference's screenshot dedup windows
    (browser-session.ts:2444-2473) to content-based dedup."""
    from .cluster import assign_canonical

    pairs = phash_candidate_pairs(images, max_hamming, id_col, phash_col)
    return assign_canonical(images, pairs, id_col)


def exact_byte_dedup(images: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Exact duplicate removal by content hash of the raw bytes — the
    cheap first pass before perceptual dedup. Keeps min(id) per
    identical byte string; hash-groupBy, fully shuffled on the
    64-bit content key (collision-checked by length)."""
    keyed = images.withColumn("content_key",
                              F.xxhash64(F.col("bytes"), F.length("bytes")))
    w = Window.partitionBy("content_key").orderBy(id_col)
    return (keyed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn", "content_key"))
