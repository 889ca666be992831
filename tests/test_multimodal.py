"""Multimodal plumbing: binary columns through Arrow mapInPandas kernels.
Image decode is real (stdlib BMP/PPM parsers, golden-pixel-tested below);
feature extraction and av demux keep deterministic byte-level stand-ins
with the plumbing identical to the full-codec deployment."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.operators import multimodal as mm


def _media_df(spark):
    rows = [
        (1, "image", bytearray(b"\x89PNG fake image bytes"), "image/png", 64, 64, None),
        (2, "image", bytearray(b"\x89PNG other bytes"), "image/png", 32, 32, None),
        (3, "audio", bytearray(b"RIFF fake wav"), "audio/wav", None, None, 1200),
        (4, "image", None, "image/png", 8, 8, None),  # missing blob
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_media_stats_jvm_side(spark):
    got = {r["media_id"]: r for r in _media_df(spark)
           .transform(mm.media_stats).collect()}
    assert got[1]["n_bytes"] == 21
    assert got[4]["n_bytes"] is None
    assert got[1]["crc"] != got[2]["crc"]


def test_decode_features_schema_and_determinism(spark):
    out = mm.decode_features(_media_df(spark))
    assert "content" not in out.columns
    assert dict(out.dtypes)["features"] == "array<float>"
    a = {r["media_id"]: r["features"] for r in out.collect()}
    b = {r["media_id"]: r["features"] for r in mm.decode_features(_media_df(spark)).collect()}
    assert a == b                      # deterministic across runs
    assert len(a[1]) == 8
    assert a[1] != a[2]                # distinct blobs → distinct features
    assert a[4] == [0.0] * 8           # null blob → zero vector


def test_real_decoder_degrades_per_blob(spark):
    """decode_image is REAL now (stdlib BMP/PPM): non-image blobs must
    degrade to NULL rows with a parse error, never raise."""
    got = {r["media_id"]: r
           for r in mm.decode_image(_media_df(spark)).collect()}
    assert all(r["content"] is None for r in got.values())
    assert all(r["err"] is not None for r in got.values())


def test_resize_media_crop_and_metadata(spark):
    out = {r["media_id"]: r for r in
           mm.resize_media(_media_df(spark), out_w=2, out_h=3).collect()}
    assert out[1]["content"] == b"\x89PNG f"      # top-left 6 bytes
    assert (out[1]["width"], out[1]["height"]) == (2, 3)
    assert out[1]["n_bytes"] == 6
    assert out[3]["content"] == b"RIFF f"
    assert out[4]["content"] is None and out[4]["n_bytes"] == 0
    # short blob: kept whole, n_bytes reflects the truncation shortfall
    tiny = mm.resize_media(_media_df(spark), out_w=100, out_h=100).collect()
    tiny = {r["media_id"]: r for r in tiny}
    assert tiny[2]["n_bytes"] == 16 and len(tiny[2]["content"]) == 16


def test_sample_frames_fan_out(spark):
    out = mm.sample_frames(_media_df(spark), frame_bytes=4, every=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["media_id"], []).append(r)
    # doc 1: 21 bytes → 6 frames (0..5), sampled 0,2,4
    idx1 = sorted(r["frame_idx"] for r in by_doc[1])
    assert idx1 == [0, 2, 4]
    f0 = next(r for r in by_doc[1] if r["frame_idx"] == 0)
    assert f0["frame"] == b"\x89PNG" and f0["n_bytes"] == 4
    last = next(r for r in by_doc[1] if r["frame_idx"] == 4)
    assert last["n_bytes"] == 4                   # 21 bytes: frame 4 full
    # null blob emits no frames
    assert 4 not in by_doc


# ---------------------------------------------------------------------------
# Real raster decode (BMP/PPM stdlib parsers) — golden-pixel tests
# ---------------------------------------------------------------------------

import numpy as np

from auto_ml_platform_with_timeseries_data_spark.operators.multimodal import (
    _decode_raster,
    _encode_bmp,
    _parse_bmp,
    _parse_ppm,
    decode_image,
)


def _gradient(h, w):
    r = np.arange(h)[:, None, None]
    c = np.arange(w)[None, :, None]
    ch = np.arange(3)[None, None, :]
    return ((r * 7 + c * 3 + ch * 11) % 256).astype(np.uint8)


def test_bmp_roundtrip_golden_pixels():
    """encode → parse must be the identity, including the padded-row
    width (w=5 → 15-byte rows pad to 16) and the bottom-up flip."""
    img = _gradient(4, 5)
    blob = _encode_bmp(img)
    assert blob[:2] == b"BM"
    out = _parse_bmp(blob)
    assert out.shape == (4, 5, 3)
    assert np.array_equal(out, img)
    # golden corner pixels: top-left is row 0 (flip happened), BGR→RGB
    assert out[0, 0].tolist() == img[0, 0].tolist()
    assert out[3, 4].tolist() == img[3, 4].tolist()


def test_ppm_parse_with_comment_header():
    img = _gradient(3, 2)
    blob = b"P6\n# a comment\n2 3\n255\n" + img.tobytes()
    out = _parse_ppm(blob)
    assert np.array_equal(out, img)


def test_decode_raster_rejects_garbage():
    import pytest

    with pytest.raises(ValueError):
        _decode_raster(b"\x89PNG not really" + b"\x00" * 64)
    with pytest.raises(ValueError):
        _parse_bmp(b"BM" + b"\x00" * 10)  # truncated header


def test_decode_image_kernel_real_bmp(spark):
    """End-to-end through Spark: real BMP bytes in, nearest-neighbor
    resized RGB out; a garbage blob degrades to a NULL row with err."""
    img = _gradient(8, 6)
    rows = [(1, bytearray(_encode_bmp(img))), (2, bytearray(b"junk"))]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r
           for r in decode_image(df, size=(3, 4)).collect()}
    assert got[1]["width"] == 3 and got[1]["height"] == 4
    out = np.frombuffer(bytes(got[1]["content"]), dtype=np.uint8)
    out = out.reshape(4, 3, 3)
    want = img[(np.arange(4) * 8) // 4][:, (np.arange(3) * 6) // 3]
    assert np.array_equal(out, want)
    assert got[2]["content"] is None
    assert "unsupported image format" in got[2]["err"]


# ---------------------------------------------------------------------------
# Real audio decode (RIFF/WAV PCM16) — golden-sample tests
# ---------------------------------------------------------------------------

from auto_ml_platform_with_timeseries_data_spark.operators.multimodal import (
    _encode_wav_pcm16,
    _parse_wav_pcm16,
    audio_frame_energy,
)


def test_wav_roundtrip_and_chunk_walk():
    s = np.array([0, 100, -100, 32767, -32768, 7], dtype=np.int16)
    blob = _encode_wav_pcm16(s, rate=16000)
    rate, ch, got = _parse_wav_pcm16(blob)
    assert (rate, ch) == (16000, 1)
    assert np.array_equal(got, s)
    # unknown chunk before fmt/data must be skipped (incl. odd-size pad)
    import struct
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = blob[:12] + extra + blob[12:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    _, _, got2 = _parse_wav_pcm16(spliced)
    assert np.array_equal(got2, s)


def test_wav_rejects_non_pcm16():
    import struct

    import pytest

    with pytest.raises(ValueError):
        _parse_wav_pcm16(b"RIFFxxxxNOPE")
    # 8-bit PCM: fmt says bits=8
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    bad = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt)
    with pytest.raises(ValueError):
        _parse_wav_pcm16(bad)


def test_audio_frame_energy_exact(spark):
    s = np.array([3, -4, 0, 5, -1], dtype=np.int16)
    blob = _encode_wav_pcm16(s)
    df = spark.createDataFrame([(1, bytearray(blob)), (2, None)],
                               "media_id long, content binary")
    rows = {(r["media_id"], r["frame_idx"]): r
            for r in audio_frame_energy(df, frame_samples=3).collect()}
    assert set(rows) == {(1, 0), (1, 1)}
    # frame 0: [3,-4,0] → energy 25, crossings: 3→-4 (1), -4→0 (1; 0 is
    # non-negative under the s<0 rule)
    assert rows[(1, 0)]["energy"] == 25
    assert rows[(1, 0)]["zero_crossings"] == 2
    # frame 1: [5,-1] → energy 26, one crossing
    assert rows[(1, 1)]["energy"] == 26
    assert rows[(1, 1)]["zero_crossings"] == 1
    assert rows[(1, 1)]["n_samples"] == 2


# ---------------------------------------------------------------------------
# Real video demux (RIFF/AVI)
# ---------------------------------------------------------------------------

from auto_ml_platform_with_timeseries_data_spark.operators.multimodal import (
    _demux_avi,
    _encode_avi,
    demux_video_frames,
)


def test_avi_roundtrip_and_padding():
    frames = [b"abc", b"de", b"f" * 7]  # odd sizes exercise chunk pads
    blob = _encode_avi(frames)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"AVI "
    assert _demux_avi(blob) == frames


def test_avi_rejects_garbage():
    import pytest

    with pytest.raises(ValueError):
        _demux_avi(b"RIFFxxxxWAVE")


def test_demux_video_frames_sampling(spark):
    frames = [bytes([i]) * 4 for i in range(6)]
    rows = [(1, bytearray(_encode_avi(frames))), (2, bytearray(b"junk")),
            (3, None)]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = demux_video_frames(df, every=3).collect()
    by = {(r["media_id"], r["frame_idx"]): bytes(r["frame"]) for r in got}
    assert set(by) == {(1, 0), (1, 3)}
    assert by[(1, 0)] == frames[0] and by[(1, 3)] == frames[3]


# ---------------------------------------------------------------------------
# Perceptual fingerprints (dHash / clip fingerprint)
# ---------------------------------------------------------------------------

from auto_ml_platform_with_timeseries_data_spark.operators.multimodal import (
    _encode_bmp,
    video_fingerprint,
)


def test_video_fingerprint_20_frames_no_alias(spark):
    """Clips longer than 16 frames must not alias: the old id*16 packing
    folded frame 16+ of clip N into clip N+1's key space, merging their
    fingerprints. Frame 17 is past that cap on purpose."""
    import numpy as np

    def frame(v: int) -> bytes:
        base = (np.arange(8)[:, None] * 13 + np.arange(13)[None, :])
        px = ((v * 31 + base * 97) % 256).astype(np.uint8)
        return _encode_bmp(np.broadcast_to(px[..., None], (8, 13, 3)))

    f_a = [frame(i) for i in range(20)]
    f_b = list(f_a)
    f_b[17] = frame(99)          # differs ONLY past the old 16-frame cap
    f_c = list(f_a)              # exact duplicate of clip 1
    rows = [(1, bytearray(_encode_avi(f_a))),
            (2, bytearray(_encode_avi(f_b))),
            (3, bytearray(_encode_avi(f_c)))]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r["fingerprint"]
           for r in video_fingerprint(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] == got[3]      # identical 20-frame clips collide
    assert got[1] != got[2]      # a single frame-17 change separates them


def test_image_index_update_keeps_corpus_canonicals(spark):
    """q224's maintenance contract: a re-encountered fingerprint keeps
    its corpus canonical; only genuinely novel fingerprints append,
    canonicalized to the delta batch's min id."""
    from auto_ml_platform_with_timeseries_data_spark.operators.multimodal import (
        image_dhash,
        image_index_update,
        synth_bmp_media,
    )

    ids = spark.range(40).select(F.col("id").alias("doc_id"))
    corpus = ids.filter(F.col("doc_id") < 30)     # seeds 0..9 (fam=10)
    delta = ids.filter(F.col("doc_id") >= 30)     # seeds 0..9 ∪ 10..14
    index = (image_dhash(synth_bmp_media(corpus, families=10))
             .groupBy("dhash_lo", "dhash_hi")
             .agg(F.min("media_id").alias("canonical_id")))
    base = {(r["dhash_lo"], r["dhash_hi"]): r["canonical_id"]
            for r in index.collect()}
    updated = image_index_update(
        index, synth_bmp_media(delta, families=15))
    rows = {(r["dhash_lo"], r["dhash_hi"]): r["canonical_id"]
            for r in updated.collect()}
    # every corpus fingerprint survives with its ORIGINAL canonical
    for fp, canon in base.items():
        assert rows[fp] == canon
    # any appended fingerprint is novel and owned by a delta id
    for fp, canon in rows.items():
        if fp not in base:
            assert canon >= 30


# ---------------------------------------------------------------------------
# q341/q342 — capped image/video near screens


def _cap_invariants(uncapped, capped, m):
    """Per-delta output ≤ m, capped ⊆ uncapped, and the set of delta
    ids with ≥1 match is unchanged (set-level screening decisions
    survive the cap)."""
    unc = {(r["delta_id"], r["corpus_id"], r["hamming"])
           for r in uncapped.collect()}
    cap = [(r["delta_id"], r["corpus_id"], r["hamming"])
           for r in capped.collect()]
    assert set(cap) <= unc
    per = {}
    for d, _, _ in cap:
        per[d] = per.get(d, 0) + 1
    assert all(n <= m for n in per.values())
    assert set(per) == {d for d, _, _ in unc}


def test_image_screen_cap_invariants(spark):
    sf = "/root/testdata/sf0.001"
    _cap_invariants(mm.q230_image_near_index(spark, sf),
                    mm.q341_image_screen_capped(spark, sf), mm._SCREEN_TOP_M)


def test_video_screen_cap_invariants(spark):
    sf = "/root/testdata/sf0.001"
    _cap_invariants(mm.q238_video_near_index(spark, sf),
                    mm.q342_video_screen_capped(spark, sf), mm._SCREEN_TOP_M)
