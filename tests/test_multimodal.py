"""Multimodal operators: binary payload columns through the per-row
mapInPandas seam. BMP, PNG and WAV decode for real through the in-repo
codecs; fake-mode decode_image_features stands in for codecs the
container lacks (JPEG, …). Covered here: output schemas, the 1→1 and
1→n row shapes, drop-vs-raise on bad payloads, codec round trips, and
the invariants of the registered multimodal queries that an equality
oracle cannot state.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from alexandria_pipeline_spark import QUERIES
from alexandria_pipeline_spark.catalog import load_table
from alexandria_pipeline_spark.operators.multimodal import (
    IMAGE_FEATURES_SCHEMA,
    decode_image_features,
    sample_video_frames,
)
from alexandria_pipeline_spark.registry import release_persisted

from tests.conftest import SF_SMOKE


def _media(spark, n=50):
    d = load_table(spark, SF_SMOKE, "documents").limit(n)
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("modality"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
    )


def test_fake_decode_schema_and_determinism(spark):
    out = decode_image_features(_media(spark), fake=True)
    assert out.schema == IMAGE_FEATURES_SCHEMA
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 50
    for r in rows.values():
        assert r["n_bytes"] > 0
        assert r["width"] == r["n_bytes"] % 640 + 16
        assert len(r["features"]) == 3 and r["features"][0] == float(r["n_bytes"])
    # deterministic across runs
    again = {r["media_id"]: r for r in decode_image_features(_media(spark)).collect()}
    assert rows == again


def test_real_decode_raises_only_for_absent_codecs(spark):
    """Real mode handles BMP/PNG/WAV natively; a format with no
    in-repo codec (JPEG magic here) is the one that must raise."""
    jpeg = spark.createDataFrame(
        [(1, b"\xff\xd8\xff\xe0" + b"\x00" * 64)], "media_id long, payload binary"
    )
    out = decode_image_features(jpeg, fake=False)
    with pytest.raises(Exception) as exc_info:
        out.collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_real_decode_parity_with_per_format_decoders(spark):
    """decode_image_features(fake=False) must agree with the dedicated
    per-format decode paths on real BMP/PNG/WAV bytes, and decode a
    MIXED-format frame in one pass (the point of the magic dispatch)."""
    import numpy as np

    from alexandria_pipeline_spark.operators.multimodal import (
        decode_bmp_stats,
        decode_png_stats,
        decode_wav_stats,
        encode_bmp24,
        encode_png_gray8,
        encode_wav_pcm16,
    )

    bmp = encode_bmp24(5, 3, lambda x, y: ((x * 3) % 256, (y * 5) % 256, (x + y) % 256))
    png = encode_png_gray8(4, 6, np.arange(24, dtype=np.uint8).reshape(6, 4))
    wav = encode_wav_pcm16(16000, [100, -200, 300, -400, 500])
    media = spark.createDataFrame(
        [(1, bmp), (2, png), (3, wav)], "media_id long, payload binary"
    )
    got = {
        r["media_id"]: r
        for r in decode_image_features(media, fake=False).collect()
    }
    assert set(got) == {1, 2, 3}

    b = decode_bmp_stats(media.filter("media_id = 1")).collect()[0]
    assert (got[1]["width"], got[1]["height"]) == (b["width"], b["height"])
    assert got[1]["features"] == [
        float(b["sum_r"]), float(b["sum_g"]), float(b["sum_b"])
    ]

    p = decode_png_stats(media.filter("media_id = 2")).collect()[0]
    assert (got[2]["width"], got[2]["height"]) == (p["width"], p["height"])
    assert got[2]["features"] == [
        float(p["sum_lum"]), float(p["min_lum"]), float(p["max_lum"])
    ]

    w = decode_wav_stats(media.filter("media_id = 3")).collect()[0]
    assert (got[3]["width"], got[3]["height"]) == (w["n_samples"], 1)
    assert got[3]["features"] == [
        float(w["sum_abs"]), float(w["sum_sq"]), float(w["peak"])
    ]


def test_frame_sampling_explodes_rows(spark):
    out = sample_video_frames(_media(spark, n=20), every_n_bytes=64)
    rows = out.collect()
    assert len(rows) > 20  # 1 -> n
    by_media: dict[int, list] = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, frames in by_media.items():
        idxs = sorted(f["frame_idx"] for f in frames)
        assert idxs == list(range(len(frames)))
        for f in frames:
            assert f["frame_offset"] == f["frame_idx"] * 64


def test_bmp_decode_drops_undecodable_rows(spark):
    """Real-mode decode must parse genuine BMP bytes and silently drop
    payloads that aren't 24-bit BMPs (the mapInPandas row-dropping
    contract)."""
    import pandas as pd

    from alexandria_pipeline_spark.operators.multimodal import (
        decode_bmp_stats,
        encode_bmp24,
    )

    good = encode_bmp24(3, 2, lambda x, y: (x, y, 7))
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2, 3],
                "payload": [good, b"not a bitmap", b"BM\x00garbage-header"],
            }
        )
    )
    rows = decode_bmp_stats(df).collect()
    assert len(rows) == 1
    r = rows[0]
    # sums over x in 0..2, y in 0..1: r=sum(x)*2=6, g=sum(y)*3=3, b=7*6=42
    assert (r["width"], r["height"]) == (3, 2)
    assert (r["sum_r"], r["sum_g"], r["sum_b"]) == (6, 3, 42)


def test_wav_roundtrip_exact_stats():
    """Pure-Python WAV encode→decode round trip: stats must equal the
    directly-computed values, including negative samples and word-
    aligned odd-length chunk handling."""
    from alexandria_pipeline_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    samples = [0, 1, -1, 32767, -32768, 12345, -12345]
    rate, n, sum_abs, sum_sq, peak = decode_wav_pcm16(
        encode_wav_pcm16(8000, samples)
    )
    assert (rate, n) == (8000, len(samples))
    assert sum_abs == sum(abs(s) for s in samples)
    assert sum_sq == sum(s * s for s in samples)
    assert peak == 32768


def test_wav_decode_drops_undecodable_rows(spark):
    import pandas as pd

    from alexandria_pipeline_spark.operators.multimodal import (
        decode_wav_stats,
        encode_wav_pcm16,
    )

    good = encode_wav_pcm16(16000, [5, -5, 10])
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2, 3],
                "payload": [good, b"RIFFjunkWAVE", b"not audio at all"],
            }
        )
    )
    out = decode_wav_stats(df).collect()
    assert [r["media_id"] for r in out] == [1]
    assert out[0]["sum_abs"] == 20 and out[0]["peak"] == 10


def test_png_roundtrip_exact_stats():
    """PNG encode→inflate→decode round trip: stats equal the pixel
    array's own, proving the zlib + unfilter path end to end."""
    import numpy as np

    from alexandria_pipeline_spark.operators.multimodal import (
        decode_png_gray8,
        encode_png_gray8,
    )

    px = np.arange(35, dtype=np.uint8).reshape(5, 7) * 7 % 256
    w, h, s, lo, hi = decode_png_gray8(encode_png_gray8(7, 5, px))
    assert (w, h) == (7, 5)
    assert s == int(px.sum())
    assert lo == int(px.min()) and hi == int(px.max())


def test_png_decode_drops_undecodable_rows(spark):
    import numpy as np
    import pandas as pd

    from alexandria_pipeline_spark.operators.multimodal import (
        decode_png_stats,
        encode_png_gray8,
    )

    good = encode_png_gray8(3, 2, np.full((2, 3), 9, dtype=np.uint8))
    corrupt_idat = good[:40] + b"\x00\x01\x02" + good[43:]  # break the deflate
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2, 3],
                "payload": [good, b"\x89PNG\r\n\x1a\njunk", corrupt_idat],
            }
        )
    )
    out = decode_png_stats(df).collect()
    assert [r["media_id"] for r in out] == [1]
    assert out[0]["sum_lum"] == 9 * 6


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=200
    ),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_samples_roundtrip(samples, rate):
    from alexandria_pipeline_spark.operators.multimodal import (
        decode_wav_samples,
        encode_wav_pcm16,
    )

    rate2, out = decode_wav_samples(encode_wav_pcm16(rate, samples))
    assert rate2 == rate
    assert out.tolist() == samples


def test_image_ahash_clusters_by_seed(spark):
    """Payloads repeat mod AHASH_SEEDS, so two media ids with the same
    seed MUST land in the same hash cluster (identical bytes ->
    identical hash), and the canonical id is the cluster minimum."""
    from alexandria_pipeline_spark.catalog import load_table
    from alexandria_pipeline_spark.operators.multimodal import AHASH_SEEDS

    rows = QUERIES["multimodal_image_ahash_dedup"](spark, SF_SMOKE).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r["cluster_size"] for r in rows) == n_docs
    # distinct hashes cannot exceed the payload-seed universe
    assert len(rows) <= AHASH_SEEDS
    for r in rows:
        assert len(r["ahash_bits"]) == 64
        assert set(r["ahash_bits"]) <= {"0", "1"}


def test_letterbox_geometry_invariants(spark):
    """Long side fills the target exactly, the short side never
    exceeds it, pad share matches the content box, and the gray sum
    sits inside the 8x8x255 envelope."""
    from alexandria_pipeline_spark.operators.multimodal import (
        LETTERBOX_PAD_GRAY,
        LETTERBOX_T,
    )
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    rows = QUERIES["multimodal_image_letterbox"](spark, SF_SMOKE).collect()
    T = LETTERBOX_T
    for r in rows:
        assert max(r["content_w"], r["content_h"]) == T
        assert 1 <= min(r["content_w"], r["content_h"]) <= T
        # aspect ordering is preserved
        assert (r["src_w"] >= r["src_h"]) == (r["content_w"] >= r["content_h"])
        n_pad = T * T - r["content_w"] * r["content_h"]
        assert r["pad_ppm"] == n_pad * 1_000_000 // (T * T)
        assert (
            LETTERBOX_PAD_GRAY * n_pad
            <= r["gray_sum"]
            <= LETTERBOX_PAD_GRAY * n_pad + 255 * (T * T - n_pad)
        )


def test_audio_snr_reconciles_with_vad(spark):
    """SNR's voiced/unvoiced sample split must cover every decoded
    sample and agree with the VAD's voiced-frame count (full frames x
    frame size, plus the short tail frame when voiced), and voiced
    mean-square power is above the gate while unvoiced sits at/below."""
    from alexandria_pipeline_spark.operators.multimodal import (
        VAD_MS_THRESHOLD,
    )
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    snr = {
        r["media_id"]: r
        for r in QUERIES["multimodal_audio_snr"](spark, SF_SMOKE).collect()
    }
    vad = {
        r["media_id"]: r
        for r in QUERIES["multimodal_audio_vad"](spark, SF_SMOKE).collect()
    }
    assert set(snr) == set(vad)
    for mid, r in snr.items():
        n_samples = mid % 50 + 20
        assert r["n_voiced_samples"] + r["n_unvoiced_samples"] == n_samples
        if r["n_voiced_samples"] > 0:
            assert r["voiced_ms"] > VAD_MS_THRESHOLD // 2  # gate is per-frame
        if r["snr_power_milli"] != -1:
            assert r["snr_power_milli"] >= 1000  # voiced power > unvoiced


def test_multimodal_e2e_reconciles(spark):
    """Split rows partition the gated corpus: raw-image total equals
    the driver-side gate population, clusters are disjoint, and
    dedup savings are exact."""
    from alexandria_pipeline_spark.catalog import load_table
    from alexandria_pipeline_spark.operators import multimodal as M

    doc_ids = [
        r["doc_id"]
        for r in load_table(spark, SF_SMOKE, "documents").select("doc_id").collect()
    ]
    gate_pop = 0
    gated_seeds = set()
    for did in doc_ids:
        seed = did % M.AHASH_SEEDS
        w, h = seed % 13 + 4, seed % 9 + 4
        if w * h >= M.MM_MIN_PX:
            gate_pop += 1
            gated_seeds.add(seed)
    rows = QUERIES["multimodal_e2e_training_prep"](spark, SF_SMOKE).collect()
    release_persisted()
    assert rows
    assert sum(r["n_raw_images"] for r in rows) == gate_pop
    # distinct payload formulas bound the cluster count from below:
    # identical seeds MUST collapse (aHash is deterministic in seed)
    assert sum(r["n_clusters"] for r in rows) <= len(gated_seeds)
    for r in rows:
        assert r["split"] in ("train", "val", "test")
        assert r["n_raw_images"] >= r["n_clusters"] >= 1
        assert (
            r["dup_savings_ppm"]
            == (r["n_raw_images"] - r["n_clusters"]) * 1_000_000 // r["n_raw_images"]
        )
