"""Pure-numpy PNG/WAV codec tests (llm/codecs.py) and the real-decode
multimodal path built on them."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from quantlab_data_pipeline_spark.llm.codecs import (
    png_decode,
    png_encode,
    wav_decode,
    wav_encode,
)


def _make_png(raw_scanlines: bytes, w: int, h: int, color_type: int = 0) -> bytes:
    """Assemble a PNG from pre-filtered scanline bytes — lets the tests
    exercise decode filters the encoder never emits."""
    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw_scanlines)) + chunk(b"IEND", b"")


def test_png_roundtrip_gray_and_rgb():
    rng = np.random.default_rng(3)
    gray = rng.integers(0, 256, size=(23, 17), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(gray)), gray)
    rgb = rng.integers(0, 256, size=(9, 31, 3), dtype=np.uint8)
    out = png_decode(png_encode(rgb))
    assert out.shape == (9, 31, 3) and np.array_equal(out, rgb)


def test_png_decode_all_filter_types():
    """Reference-filter each scanline per the PNG spec, then check the
    decoder unfilters back to the original pixels — covers Sub, Up,
    Average, and Paeth, which our encoder never writes."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(6, 8), dtype=np.uint8)
    h, w = img.shape

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    for y in range(h):
        ftype = y % 5
        raw.append(ftype)
        for x in range(w):
            cur = int(img[y, x])
            left = int(img[y, x - 1]) if x else 0
            up = int(img[y - 1, x]) if y else 0
            ul = int(img[y - 1, x - 1]) if (x and y) else 0
            if ftype == 0:
                enc = cur
            elif ftype == 1:
                enc = (cur - left) & 0xFF
            elif ftype == 2:
                enc = (cur - up) & 0xFF
            elif ftype == 3:
                enc = (cur - ((left + up) >> 1)) & 0xFF
            else:
                enc = (cur - paeth(left, up, ul)) & 0xFF
            raw.append(enc)
    assert np.array_equal(png_decode(_make_png(bytes(raw), w, h)), img)


def test_png_rejects_unsupported():
    with pytest.raises(ValueError, match="not a PNG"):
        png_decode(b"JFIF not a png")
    gray = np.zeros((4, 4), dtype=np.uint8)
    data = bytearray(png_encode(gray))
    # flip color type to 3 (palette) inside IHDR; decoder must refuse
    data[8 + 8 + 9] = 3
    with pytest.raises(ValueError, match="unsupported PNG"):
        png_decode(bytes(data))
    with pytest.raises(ValueError, match="uint8"):
        png_encode(np.zeros((4, 4), dtype=np.float64))


def test_wav_roundtrip():
    t = np.arange(1600)
    wave = (12000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)
    samples, rate = wav_decode(wav_encode(wave, 16000))
    assert rate == 16000 and np.array_equal(samples, wave)
    with pytest.raises(ValueError, match="not a WAV"):
        wav_decode(b"RIFFxxxxNOPE")


def test_real_png_decode_path_matches_direct(spark):
    """extract_image_features(decoder='png') over synthetic_media must
    equal decoding the payload bytes directly — the Arrow batching adds
    distribution, not value changes."""
    from quantlab_data_pipeline_spark.llm.multimodal import (
        extract_image_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n=12)
    feats = {r["asset_id"]: r for r in
             extract_image_features(media, decoder="png").collect()}
    for row in media.filter("media_type = 'image'").collect():
        img = png_decode(bytes(row["content"]))
        f = feats[row["asset_id"]]
        assert (f["height"], f["width"]) == img.shape
        assert f["mean_intensity"] == float(img.mean())
        bands = np.array_split(img, 8, axis=0)
        assert f["feature"] == [float(b.mean()) for b in bands]


def test_wav_payloads_in_synthetic_media_decode(spark):
    from quantlab_data_pipeline_spark.llm.multimodal import synthetic_media

    media = synthetic_media(spark, n=12)
    for row in media.filter("media_type = 'audio'").collect():
        samples, rate = wav_decode(bytes(row["content"]))
        assert rate == 16000 and len(samples) == 800
        assert int(np.abs(samples).max()) <= 3000


def test_synthetic_media_rows_are_pinned(spark):
    """synthetic_media is an Arrow-built local scan whose rows hash to
    the digest the Python-RDD build gave (the ten tests on it see the
    same bytes)."""
    import hashlib
    import json

    from quantlab_data_pipeline_spark.llm.multimodal import synthetic_media

    df = synthetic_media(spark, 64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    rows = sorted(
        (r.asDict(recursive=True) for r in df.collect()), key=lambda r: r["asset_id"]
    )
    canon = json.dumps(
        [[r["asset_id"], r["media_type"], r["content"].hex(), r["meta"]] for r in rows],
        sort_keys=True,
    )
    assert hashlib.sha256(canon.encode()).hexdigest() == (
        "3df22745055704784742ba8b6077d6c8efd98dade89dbec42c5f5ea5dec994e8"
    )


def test_rgb_png_reduces_to_luma_in_kernel(spark):
    """An RGB payload decodes to its channel-mean luma plane inside the
    feature kernel (truncating uint8 cast, like the kernel does)."""
    from quantlab_data_pipeline_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        extract_image_features,
    )

    rng = np.random.default_rng(5)
    rgb = rng.integers(0, 256, size=(8, 12, 3), dtype=np.uint8)
    row = (
        7,
        "image",
        png_encode(rgb),
        {"width": 12, "height": 8, "n_frames": 1, "sample_rate": None, "format": "png"},
    )
    media = spark.createDataFrame([row], MEDIA_SCHEMA)
    f = extract_image_features(media, decoder="png").collect()[0]
    luma = rgb.mean(axis=2).astype(np.uint8)
    assert (f["height"], f["width"]) == luma.shape
    assert f["mean_intensity"] == float(luma.mean())


def test_dhash_invariance_and_sensitivity():
    """dHash is identical for a re-encoded copy, within a small Hamming
    distance for a lightly-edited image, and far for unrelated noise —
    the three properties perceptual dedup rests on."""
    from quantlab_data_pipeline_spark.llm.multimodal import dhash_bits

    rng = np.random.default_rng(11)
    base = np.cumsum(
        rng.integers(-3, 4, size=(64, 64)), axis=1
    ).astype(np.int64) % 256
    base = base.astype(np.uint8)

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert dhash_bits(base) == dhash_bits(base.copy())
    edited = base.copy()
    edited[:4, :4] = 255  # small local edit
    assert ham(dhash_bits(base), dhash_bits(edited)) <= 8
    noise = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    assert ham(dhash_bits(base), dhash_bits(noise)) > 16


def test_image_near_dup_pairs_finds_recrawl_copy(spark):
    """A byte-identical PNG under a new asset_id is found at hamming 0
    through the real decode kernel + banded blocking; an unrelated
    image is not paired."""
    from quantlab_data_pipeline_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        image_near_dup_pairs,
    )

    rng = np.random.default_rng(3)
    smooth = (np.add.outer(np.arange(40), np.arange(40)) * 3 % 256).astype(np.uint8)
    noise = rng.integers(0, 256, size=(40, 40), dtype=np.uint8)
    meta = {"width": 40, "height": 40, "n_frames": 1, "sample_rate": None, "format": "png"}
    media = spark.createDataFrame(
        [
            (1, "image", png_encode(smooth), meta),
            (2, "image", png_encode(smooth), meta),  # recrawl copy
            (3, "image", png_encode(noise), meta),
        ],
        MEDIA_SCHEMA,
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_near_dup_pairs(media, max_hamming=6).collect()}
    assert pairs == {(1, 2): 0}


def test_audio_fingerprint_invariance_and_sensitivity(spark):
    """Audio fingerprint through the REAL WAV round trip: identical
    synth waves collide at hamming 0; a prefix-shared text lands close;
    unrelated text lands far."""
    from quantlab_data_pipeline_spark.llm.multimodal import (
        audio_from_text,
        audio_near_dup_pairs,
        audio_fingerprint,
    )

    base = "the quick brown fox jumps over the lazy dog " * 8
    edited = base[:-20] + "and then sat down tired"
    other = "completely different words about spark shuffles and joins " * 8
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, edited), (4, other)],
        "doc_id long, text string",
    )
    media = audio_from_text(docs)
    fps = {r["asset_id"]: r["afp"] for r in audio_fingerprint(media).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert fps[1] == fps[2]                    # identical text -> identical WAV
    # ordering is the contract: a small edit lands strictly closer than
    # an unrelated text, and the unrelated text is outside the dedup
    # threshold (absolute distances depend on the toy strings' byte
    # diversity, so only the ordering and the threshold are asserted)
    assert ham(fps[1], fps[3]) < ham(fps[1], fps[4])
    assert ham(fps[1], fps[4]) > 2

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in audio_near_dup_pairs(media, max_hamming=2).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 4) not in pairs


def test_text_to_wave_is_content_keyed_not_length_keyed():
    """Two different same-length texts must synthesize different waves
    (the byte-cycled design this replaced collided on length)."""
    from quantlab_data_pipeline_spark.llm.multimodal import text_to_wave

    a = text_to_wave("aaaa bbbb cccc dddd")
    b = text_to_wave("eeee ffff gggg hhhh")
    assert a.shape == b.shape
    assert not np.array_equal(a, b)
    assert np.array_equal(a, text_to_wave("aaaa bbbb cccc dddd"))


def test_text_to_wave_deterministic_when_frames_dont_divide():
    """ADVICE r6: with frames ∤ n_samples the unwritten tail was
    uninitialized memory — identical text must give identical waves for
    ANY (n_samples, frames), and the tail must be exactly zero."""
    from quantlab_data_pipeline_spark.llm.multimodal import text_to_wave

    a = text_to_wave("determinism check", n_samples=4100, frames=8)
    b = text_to_wave("determinism check", n_samples=4100, frames=8)
    assert np.array_equal(a, b)
    assert a.shape == (4100,)
    assert np.all(a[8 * (4100 // 8):] == 0)
