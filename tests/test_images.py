"""Image pipeline invariants (FIXTURES.md inv. 4-5): Arrow-batched
decode/validate/phash parity, PSNR ≥ 40 dB for lossy formats, exact
round-trip for png, and phash near-dup dedup collapsing exactly the
seeded clusters (oracle = pure-Python connected components over the
same hamming graph)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark.core.imaging import (avgpool_resize, decode_image,
                                        hamming64, mean_luma, phash64,
                                        png_encode, psnr, render_image)
from crawler_spark.operators.images import (decode_and_phash,
                                            exact_byte_dedup, phash_dedup,
                                            psnr_vs_golden)
from crawler_spark.sources.fixtures import WebGen

FIXDIR = "fixtures/t-smoke"


@pytest.fixture(scope="module")
def images_df(spark):
    return spark.read.parquet(f"{FIXDIR}/images.parquet").cache()


def test_decode_and_phash(spark, images_df):
    out = decode_and_phash(images_df).cache()
    n = images_df.count()
    assert out.filter("valid").count() == n  # all decodable, dims match
    # png: decoded phash equals the stored (pre-encode) phash exactly;
    # lossy: quantization may flip a few near-median bits
    assert out.filter((F.col("fmt") == "png")
                      & (F.col("phash_dec") != F.col("phash"))).count() == 0
    ham = out.filter(F.col("fmt") != "png").select(
        F.bit_count(F.col("phash_dec").bitwiseXOR(F.col("phash"))).alias("d"))
    assert ham.agg(F.max("d")).first()[0] <= 12  # empirical max 8
    out.unpersist()


def test_psnr_invariant(spark, images_df):
    """Decoded pixels vs the original render: exact for png,
    PSNR ≥ 40 dB for the lossy formats (input_hint invariant)."""
    gen = WebGen("t-smoke")
    rows = images_df.select("image_id", "src", "fmt").collect()
    golden = []
    for r in rows:
        name = r["src"].rsplit("/", 1)[-1]
        stem = name.rsplit(".", 1)[0]
        base, _, var = stem.rpartition("_v")
        w_ = 16 + gen_hash(gen, f"iw:{base}") % (gen.max_px - 16)
        h_ = 16 + gen_hash(gen, f"ih:{base}") % (gen.max_px - 16)
        px = render_image(f"{gen.salt}:{base}", w_, h_,
                          noise_seed=int(var), noise_amp=6 if int(var) else 0)
        golden.append((r["image_id"], bytearray(png_encode(px))))
    golden_df = spark.createDataFrame(golden, "image_id string, golden_png binary")
    res = psnr_vs_golden(images_df, golden_df).join(
        images_df.select("image_id", "fmt"), "image_id").cache()
    assert res.count() == len(rows)
    assert res.filter((F.col("fmt") == "png") & (F.col("psnr_db") < 1e9)).count() == 0
    worst = res.filter(F.col("fmt") != "png").agg(F.min("psnr_db")).first()[0]
    assert worst >= 40.0, worst
    res.unpersist()


def gen_hash(gen: WebGen, suffix: str) -> int:
    from crawler_spark.core.xxhash64 import xxhash64
    return xxhash64(f"{gen.salt}:{suffix}".encode(), 0)


def test_phash_dedup_matches_python_cc(spark, images_df):
    """Spark banded-LSH + driver union-find CC == pure-Python
    connected components over the identical hamming graph."""
    rows = [(r["image_id"], r["phash"])
            for r in images_df.select("image_id", "phash").collect()]
    # oracle: brute-force pairs, union-find
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, (ida, pa_) in enumerate(rows):
        for idb, pb in rows[i + 1:]:
            if hamming64(pa_, pb) <= 10:
                ra, rb = find(ida), find(idb)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    exp = {i: find(i) for i, _ in rows}

    got_df = phash_dedup(images_df, max_hamming=10)
    got = {r["image_id"]: r["canonical_id"]
           for r in got_df.select("image_id", "canonical_id").collect()}
    assert got == exp
    # seeded near-dup clusters actually collapse (non-trivial clusters exist)
    assert any(k != v for k, v in exp.items())


def test_cluster_members_are_near_dups(images_df):
    """Sanity on the fixture seeding: variants of one base are within
    hamming 12 (empirical max 10 — seeded noise flips a few
    near-median DCT signs)."""
    rows = images_df.select("src", "phash").collect()
    by_base = {}
    for r in rows:
        stem = r["src"].rsplit("/", 1)[-1].rsplit(".", 1)[0]
        base = stem.rpartition("_v")[0]
        by_base.setdefault(base, []).append(r["phash"])
    multi = [v for v in by_base.values() if len(v) > 1]
    assert multi
    for v in multi:
        for x in v[1:]:
            assert hamming64(v[0], x) <= 12


def test_exact_byte_dedup(spark, images_df):
    """Distinct srcs can render identical bytes (same base+variant) —
    exact dedup must collapse to the distinct byte contents, also
    across an exact doubling of the table."""
    n_distinct = images_df.select(F.md5(F.base64("bytes"))).distinct().count()
    doubled = images_df.unionByName(images_df)
    out = exact_byte_dedup(doubled)
    assert out.count() == n_distinct
    assert 0 < n_distinct < images_df.count()


def test_png_roundtrip_exact():
    px = render_image("roundtrip", 37, 23)
    assert np.array_equal(decode_image(png_encode(px), "png"), px)
    assert psnr(px, px) == float("inf")
    assert phash64(px) == phash64(px.copy())


def test_mean_luma_exact_tie():
    """Two fixture thumbnails have an exact mean luma of 126.81925, a
    4-place tie: a float mean of BT.601 weights rounds it either way
    depending on summation order, while the integer sum rounds it the
    same on every host, to the fixture's precomputed 126.8192."""
    from fractions import Fraction

    import pyarrow.parquet as pq

    rows = {r["image_id"]: r for r in pq.read_table(
        f"{FIXDIR}/images.parquet").to_pylist()}
    for iid in ("5224ba10a5d9760b", "7ae672c3dace3f9e"):
        r = rows[iid]
        tp = avgpool_resize(decode_image(r["bytes"], r["fmt"]), 16, 16)
        w = (Fraction(299, 1000), Fraction(587, 1000), Fraction(114, 1000))
        exact = sum(sum(wi * int(c) for wi, c in zip(w, p))
                    for p in tp.reshape(-1, 3)) / (16 * 16)
        assert exact == Fraction("126.81925")
        assert r["mean_luma"] == mean_luma(tp) == 126.8192


def _brute_pairs(hashes: dict[int, int], h: int) -> set[tuple[int, int]]:
    ids = sorted(hashes)
    return {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
            if bin(hashes[a] ^ hashes[b]).count("1") <= h}


def _adversarial_hashes(n_bands: int, h: int, rng) -> dict[int, int]:
    """Random 64-bit hashes PLUS engineered worst-case near-pairs:
    partners at exactly hamming h with the differing bits spread as
    evenly as possible across bands (one per band first, then a
    second bit per band) — the spread that defeats banding soonest,
    and (for the band_errors=1 family) also the one-differing-bit-
    per-aligned-band pattern that a merely shifted second banding
    pass provably misses."""
    width = 64 // n_bands
    hashes = {}
    nid = 0
    for _ in range(25):
        base = rng.getrandbits(64)
        hashes[nid] = base
        # partner at exactly h bits: round-robin one bit per band,
        # varying in-band offsets so flips hit distinct positions
        flip = base
        for k in range(h):
            band = k % n_bands
            off = (k // n_bands + k) % width
            flip ^= 1 << (band * width + off)
        hashes[nid + 1] = flip
        nid += 2
    for _ in range(30):  # background noise
        hashes[nid] = rng.getrandbits(64)
        nid += 1
    return hashes


@pytest.mark.parametrize("n_bands,band_errors", [(16, 0), (8, 0),
                                                 (8, 1), (16, 1)])
def test_phash_banding_recall_exact(spark, n_bands, band_errors):
    """Property: candidate recall is EXACT over the whole documented
    (n_bands, band_errors) parameter space up to each family's bound
    (n_bands·(band_errors+1) - 1), including adversarial bit spreads
    — the 10^10-images parameterization (8 bands, band_errors=1,
    exact ≤ 15) is pinned here. Beyond the bound the guard raises."""
    import random

    from crawler_spark.operators.images import phash_candidate_pairs

    bound = n_bands * (band_errors + 1) - 1
    rng = random.Random(1000 * n_bands + band_errors)
    for h in sorted({1, n_bands - 1, bound}):
        hashes = _adversarial_hashes(n_bands, h, rng)
        df = spark.createDataFrame(
            [(i, v - (1 << 64) if v >= (1 << 63) else v)
             for i, v in hashes.items()],
            "image_id long, phash long")
        got = {(r["id_a"], r["id_b"])
               for r in phash_candidate_pairs(
                   df, max_hamming=h, n_bands=n_bands,
                   band_errors=band_errors).collect()}
        exp = _brute_pairs(hashes, h)
        assert got == exp, (n_bands, band_errors, h,
                            len(got), len(exp))
        assert exp, "no pairs at bound — vacuous"
    with pytest.raises(ValueError):
        phash_candidate_pairs(spark.range(0).selectExpr(
            "id as image_id", "id as phash"),
            max_hamming=bound + 1, n_bands=n_bands,
            band_errors=band_errors)
