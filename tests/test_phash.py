"""Perceptual image hashing + Hamming-banded dedup (r7, VERDICT r6 #5).

Pins: (1) the pHash invariance envelope the planted families rely on
(brightness/contrast exactly 0 bits, resample ≤ 2, gamma ≤ 4, 1-px crop
≤ 6 — vs ≥ 12 between distinct images); (2) hamming_pairs blocking is
LOSSLESS for every legal scheme (scheme-forced runs agree with the
brute-force pair set); (3) the end-to-end catalog key recovers exactly
the planted family structure from pixels alone.
"""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.functions.codecs import encode_png
from azure_airbnb_cdc_ingestion_pipeline_spark.functions.phash import (
    PHASH_BITS,
    bilinear_resize,
    dhash64,
    phash64,
    phash_frame,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.operators.dedup import hamming_pairs
from azure_airbnb_cdc_ingestion_pipeline_spark.plans.multimodal import (
    _synth_base,
    _synth_family,
)


def _ham(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def test_phash_invariance_envelope():
    worst = {1: 0, 2: 0, 3: 0, 4: 0}
    for did in range(0, 600, 10):
        fam = dict(_synth_family(did))
        hb = phash64(fam[0])
        for v in (1, 2, 3, 4):
            worst[v] = max(worst[v], _ham(hb, phash64(fam[v])))
    assert worst[1] == 0      # brightness: DC-free median construction
    assert worst[2] <= 4      # gamma 1.08
    assert worst[3] <= 2      # down-up resample
    assert worst[4] <= 6      # 1-px border crop — the envelope edge


def test_phash_contrast_scale_invariant():
    base = _synth_base(40)
    scaled = np.clip(
        128 + (base.astype(np.float64) - 128) * 1.1, 0, 255
    ).round().astype(np.uint8)
    # positive gain rescales every AC coefficient AND their median —
    # comparisons (and so all 63 bits) are preserved up to rounding noise
    assert _ham(phash64(base), phash64(scaled)) <= 2


def test_phash_distinct_images_far_apart():
    hashes = [phash64(_synth_base(d)) for d in range(0, 1200, 10)]
    m = min(_ham(a, b) for a, b in itertools.combinations(hashes, 2))
    assert m >= 10  # planted families verify at <= 6: no false merges


def test_dhash_detects_same_vs_different():
    base = _synth_base(70)
    bright = np.clip(base.astype(np.int64) + 12, 0, 255).astype(np.uint8)
    other = _synth_base(710)
    assert _ham(dhash64(base), dhash64(bright)) <= 4
    assert _ham(dhash64(base), dhash64(other)) >= 10


def test_phash_frame_decodes_real_png(spark):
    rows = []
    for did in (0, 10, 20):
        for v, px in _synth_family(did):
            rows.append((did * 10 + v, bytearray(encode_png(256, 256, 1, px.tobytes()))))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r.media_id: r.phash
        for r in phash_frame(media, "media_id", "payload").collect()
    }
    assert len(got) == 15
    # Arrow-path hash == driver-path hash on the same pixels
    for did in (0, 10, 20):
        fam = dict(_synth_family(did))
        assert got[did * 10] == phash64(fam[0])


def test_hamming_pairs_schemes_equal_bruteforce(spark):
    rng = np.random.default_rng(97)
    fps = [int(x) for x in rng.integers(0, 1 << 63, 40, dtype=np.int64)]
    # plant near pairs at distances 1..6 off fps[0..5]
    for i, d in enumerate(range(1, 7)):
        v = fps[i]
        for b in range(d):
            v ^= 1 << (7 * b + i)  # d distinct bit flips
        fps.append(v)
    df = spark.createDataFrame(
        [(i, f) for i, f in enumerate(fps)], "id long, fp long"
    )
    brute = {
        (i, j, _ham(a, b))
        for (i, a), (j, b) in itertools.combinations(enumerate(fps), 2)
        if _ham(a, b) <= 6
    }
    for scheme in ((7, 1), (9, 3), (10, 2)):
        got = {
            (r.a_id, r.b_id, r.hamming)
            for r in hamming_pairs(
                df, "id", "fp", max_distance=6, num_bits=63, scheme=scheme
            ).collect()
        }
        assert got == brute, scheme
    # auto scheme too
    got = {
        (r.a_id, r.b_id, r.hamming)
        for r in hamming_pairs(df, "id", "fp", 6, num_bits=63).collect()
    }
    assert got == brute


def test_hamming_pairs_rejects_lossy_scheme(spark):
    df = spark.createDataFrame([(1, 5), (2, 6)], "id long, fp long")
    with pytest.raises(ValueError, match="cannot guarantee"):
        hamming_pairs(df, "id", "fp", max_distance=6, num_bits=63, scheme=(8, 3))


def test_phash_dedup_end_to_end(spark, sf_dir):
    from azure_airbnb_cdc_ingestion_pipeline_spark.plans.queries import QUERIES

    got = {
        (r.media_id, r.canonical_id)
        for r in QUERIES["multimodal_phash_dedup"](spark, sf_dir).collect()
    }
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {
        (did * 10 + v, did * 10)
        for (did,) in con.execute(
            "SELECT doc_id FROM documents WHERE doc_id % 10 = 0"
        ).fetchall()
        for v in range(5)
    }
    assert got == want


def test_bilinear_resize_identity():
    img = _synth_base(30).astype(np.float64)
    out = bilinear_resize(img, 256, 256)
    assert np.allclose(out, img)
    assert PHASH_BITS == 63
