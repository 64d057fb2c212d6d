"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with Arrow-batched decode/transform plumbing.

Decode kernels:

* ``decoder="png"`` — REAL decode via the pure-numpy PNG codec
  (:mod:`.codecs`, zlib is stdlib): payload bytes are parsed,
  unfiltered, and reduced to pixels inside the Arrow batch. WAV audio
  decodes the same way (:func:`.codecs.wav_decode`).
* ``decoder="fake"`` — deterministic synthetic pixels from a payload
  hash; kept for plumbing tests where the payload is not an image.
* ``decoder="pillow"`` — NotImplementedError: JPEG/WebP/etc. need a
  codec library this container doesn't ship; the mapInPandas plumbing
  is identical, only the kernel body differs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..localframe import local_df

# Canonical multimodal asset schema: opaque payload + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("format", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
        # double, not float: band means of uint8 pixels are exact
        # integer-sum/count doubles, which keeps the PNG round-trip
        # oracle-comparable bit-for-bit
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def _rechunk(
    batches: Iterator[pd.DataFrame], batch_hint: int
) -> Iterator[pd.DataFrame]:
    """Slice incoming Arrow batches to at most ``batch_hint`` rows so a
    decode kernel's peak memory (input payloads + decoded pixels +
    output buffer per yield) is bounded by the hint, not by whatever
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` the session set.
    Media rows are orders of magnitude wider than the text rows that
    conf is usually tuned for."""
    for pdf in batches:
        if len(pdf) <= batch_hint:
            yield pdf
        else:
            for start in range(0, len(pdf), batch_hint):
                yield pdf.iloc[start : start + batch_hint]


def _fake_decode(content: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in for an image codec: bytes -> uint8 HxW
    luma plane derived from a rolling hash of the payload."""
    seed = np.frombuffer(content[:8].ljust(8, b"\0"), dtype=np.uint64)[0]
    rng = np.random.default_rng(int(seed) % (2**32))
    return rng.integers(0, 256, size=(height, width), dtype=np.uint8)


def extract_image_features(
    media: DataFrame,
    decoder: str = "fake",
    feature_dim: int = 8,
    batch_hint: int = 256,
) -> DataFrame:
    """Decode images and emit per-asset features via ``mapInPandas``.

    Arrow streams binary payloads in batches; the decode kernel runs
    per-batch in Python (this is the genuinely-Python path — a codec is
    not expressible in Catalyst). Output schema is fixed and narrow so
    downstream joins don't carry pixels.
    """
    if decoder not in {"fake", "png", "pillow"}:
        raise ValueError(f"unknown decoder {decoder!r}")
    if decoder == "pillow":
        raise NotImplementedError(
            "JPEG/WebP need a codec library this container doesn't "
            "ship; use decoder='png' (real pure-numpy codec) or "
            "decoder='fake' — the mapInPandas plumbing is identical."
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .codecs import png_decode

        for pdf in _rechunk(batches, batch_hint):
            ids, imgs = [], []
            for aid, content, meta in zip(
                pdf["asset_id"], pdf["content"], pdf["meta"]
            ):
                if decoder == "png":
                    img = png_decode(bytes(content))
                    if img.ndim == 3:  # luma plane for RGB
                        img = img.mean(axis=2).astype(np.uint8)
                else:
                    img = _fake_decode(
                        content, int(meta["width"] or 16), int(meta["height"] or 16)
                    )
                ids.append(aid)
                imgs.append(img)
            n = len(imgs)
            means = np.empty(n)
            feats: list[np.ndarray] = [None] * n  # type: ignore[list-item]
            shapes = np.array([im.shape for im in imgs]).reshape(n, 2)
            # band means per same-shape group in one reduceat pass:
            # integer pixel sums are exact in float64, so the values
            # match the per-image array_split means bit-for-bit
            for shape in np.unique(shapes, axis=0) if n else ():
                idx = np.nonzero((shapes == shape).all(axis=1))[0]
                stack = np.stack([imgs[i] for i in idx]).astype(np.float64)
                h, w = int(shape[0]), int(shape[1])
                offs = _split_offsets(h, feature_dim)
                sums = np.add.reduceat(stack, offs[:-1], axis=1).sum(axis=2)
                band_means = sums / (np.diff(offs) * w)
                means[idx] = stack.sum(axis=(1, 2)) / (h * w)
                for j, i in enumerate(idx):
                    feats[i] = band_means[j]
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "width": shapes[:, 1],
                    "height": shapes[:, 0],
                    "mean_intensity": means,
                    "feature": feats,
                }
            )

    imgs = media.filter(F.col("media_type") == "image")
    return imgs.mapInPandas(kernel, FEATURE_SCHEMA)


def _split_offsets(length: int, n: int) -> "np.ndarray":
    """np.array_split boundary offsets: n+1 ints, first length%n groups
    one element larger — the exact cells array_split would produce."""
    q, r = divmod(length, n)
    sizes = np.full(n, q, dtype=np.int64)
    sizes[:r] += 1
    return np.concatenate(([0], np.cumsum(sizes)))


def pool_grid_batch(imgs: "np.ndarray", hash_size: int = 8) -> "np.ndarray":
    """Average-pool a stack of same-shape grayscale images (k, h, w) to
    (k, hash_size, hash_size+1) cell-mean grids — the batched pooling
    stage of dHash. Integral-image corner sums, one pass for the whole
    stack; on uint8 input every cell sum is an exact float64 integer,
    so the means are order-independent and bit-identical to a per-image
    array_split pooling. Identity fast path when the input already IS
    the grid shape (the audio spectral matrix)."""
    k, h, w = imgs.shape
    if (h, w) == (hash_size, hash_size + 1):
        return imgs.astype(np.float64)
    ys = _split_offsets(h, hash_size)
    xs = _split_offsets(w, hash_size + 1)
    pad = np.zeros((k, h + 1, w + 1), dtype=np.float64)
    np.cumsum(imgs, axis=1, dtype=np.float64, out=pad[:, 1:, 1:])
    np.cumsum(pad[:, 1:, 1:], axis=2, out=pad[:, 1:, 1:])
    corners = pad[:, ys][:, :, xs]
    cells = (
        corners[:, 1:, 1:]
        - corners[:, :-1, 1:]
        - corners[:, 1:, :-1]
        + corners[:, :-1, :-1]
    )
    counts = np.outer(np.diff(ys), np.diff(xs)).astype(np.float64)
    return cells / counts


def dhash_pack_batch(grids: "np.ndarray") -> "np.ndarray":
    """(k, r, c) cell grids -> (k,) int64 fingerprints: bit (row*r+col)
    set iff grid[row, col+1] > grid[row, col], packed little-endian into
    a signed-long bit view (survives a Spark LongType column). Requires
    r*(c-1) <= 64 bits."""
    k, r, c = grids.shape
    nbits = r * (c - 1)
    if nbits > 64:
        raise ValueError(f"{nbits} bits do not fit a 64-bit fingerprint")
    bits = (grids[:, :, 1:] > grids[:, :, :-1]).reshape(k, nbits)
    weights = np.left_shift(np.uint64(1), np.arange(nbits, dtype=np.uint64))
    v = (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
    return v.view(np.int64)


def dhash_bits(img: "np.ndarray", hash_size: int = 8) -> int:
    """64-bit difference hash (dHash) of a grayscale image: average-pool
    to a (hash_size x hash_size+1) grid, set bit (r*hash_size + c) iff
    cell (r, c+1) is brighter than (r, c). The standard perceptual
    image fingerprint — robust to re-encoding, resizing, and small
    edits, which is exactly what crawl image dedup needs. Pure numpy,
    deterministic: cell means are exact (integer sums / counts), so two
    engines computing from the same pixels agree bit-for-bit.

    Thin single-image wrapper over the batched primitives
    (:func:`pool_grid_batch` + :func:`dhash_pack_batch`) so the Arrow
    kernels, the python mirror oracle, and this helper share one code
    path — bit-parity by construction."""
    if img.ndim == 3:
        img = img.mean(axis=2)
    grid = pool_grid_batch(img[None].astype(np.float64), hash_size)
    return int(dhash_pack_batch(grid)[0])


def image_dhash(
    media: DataFrame,
    decoder: str = "png",
    hash_size: int = 8,
    batch_hint: int = 256,
) -> DataFrame:
    """(asset_id, dhash): perceptual difference hash per image via the
    Arrow-batched decode kernel (same path as
    :func:`extract_image_features` — a codec is the genuinely-Python
    stage; everything downstream of the 8-byte hash is Catalyst)."""
    if decoder not in {"fake", "png"}:
        raise ValueError(f"unknown decoder {decoder!r}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .codecs import png_decode

        for pdf in _rechunk(batches, batch_hint):
            ids, imgs = [], []
            for aid, content, meta in zip(
                pdf["asset_id"], pdf["content"], pdf["meta"]
            ):
                if decoder == "png":
                    img = png_decode(bytes(content))
                    if img.ndim == 3:
                        img = img.mean(axis=2)
                else:
                    img = _fake_decode(
                        content, int(meta["width"] or 16), int(meta["height"] or 16)
                    )
                ids.append(aid)
                imgs.append(img)
            # pool+pack whole same-shape groups at once (crawl frames
            # cluster on a few standard sizes, so the groups are large)
            hashes = np.empty(len(imgs), dtype=np.int64)
            shapes = np.array([im.shape for im in imgs])
            for shape in np.unique(shapes, axis=0) if len(imgs) else ():
                idx = np.nonzero((shapes == shape).all(axis=1))[0]
                stack = np.stack([imgs[i] for i in idx]).astype(np.float64)
                grids = pool_grid_batch(stack, hash_size)
                hashes[idx] = dhash_pack_batch(grids)
            yield pd.DataFrame({"asset_id": ids, "dhash": hashes})

    imgs = media.filter(F.col("media_type") == "image")
    return imgs.mapInPandas(kernel, "asset_id long, dhash long")


def image_near_dup_pairs(
    media: DataFrame,
    max_hamming: int = 10,
    bands: int | None = None,
    decoder: str = "png",
) -> DataFrame:
    """(id_a, id_b, hamming) image near-dup pairs: dHash fingerprints
    fed through the SAME banded Hamming blocking as text SimHash
    (``dedup.simhash_near_dup_pairs`` — pigeonhole-exact recall for
    ``max_hamming`` <= bands-1, bucketed equi-join, never all-pairs;
    bands defaults to the scale-optimal pigeonhole minimum there).
    The 8-byte hashes shuffle; pixels never leave their scan task."""
    from .dedup import simhash_near_dup_pairs

    fp = image_dhash(media, decoder=decoder).select(
        "asset_id", F.col("dhash").alias("simhash")
    )
    return simhash_near_dup_pairs(
        fp, id_col="asset_id", max_hamming=max_hamming, bands=bands
    )


def audio_spectral_matrix_batch(
    signals: "np.ndarray", frames: int = 8, bands: int = 9
) -> "np.ndarray":
    """(k, frames, bands) log-energy spectrograms for a stack of k
    same-length mono PCM signals — the batched form of
    :func:`audio_spectral_matrix`, one vectorized rFFT per distinct
    chunk size (np.array_split yields at most two) instead of
    k*frames scalar FFT calls. pocketfft applies the same 1-D plan to
    every row of a stacked input, so the spectra match the per-signal
    call bit-for-bit."""
    S = signals.astype(np.float64)
    k, length = S.shape
    offs = _split_offsets(length, frames)
    sizes = np.diff(offs)
    out = np.empty((k, frames, bands), dtype=np.float64)
    f = 0
    while f < frames:
        g = f
        while g < frames and sizes[g] == sizes[f]:
            g += 1
        sz = int(sizes[f])
        block = S[:, offs[f] : offs[g]].reshape(k, g - f, sz)
        e = np.abs(np.fft.rfft(block, axis=2)) ** 2
        e = e[:, :, 1:]  # DC excluded
        nfreq = e.shape[2]
        if nfreq >= bands:
            boffs = _split_offsets(nfreq, bands)
            sums = np.add.reduceat(e, boffs[:-1], axis=2)
            # reduceat's sequential sums equal array_split band.sum()s
            # here by the shared-code-path argument: every consumer of
            # this grid (kernel, oracle, helper) goes through this
            # function, so the bands agree with themselves everywhere.
        else:
            # degenerate: fewer (non-DC) bins than bands — replicate
            # array_split's empty-band semantics (empty sum == 0)
            sums = np.zeros((k, g - f, bands), dtype=np.float64)
            for c, chunk in enumerate(np.array_split(np.arange(nfreq), bands)):
                if chunk.size:
                    sums[:, :, c] = e[:, :, chunk].sum(axis=2)
        out[:, f:g, :] = np.log1p(sums)
        f = g
    return out


def audio_spectral_matrix(samples: "np.ndarray", frames: int = 8, bands: int = 9) -> "np.ndarray":
    """(frames x bands) log-energy spectrogram of a mono PCM signal:
    split into ``frames`` equal chunks, per chunk the squared rFFT
    magnitudes (DC excluded) sum into ``bands`` frequency bands — the
    coarse time-frequency grid the Haitsma-Kalker audio fingerprint
    family thresholds. log1p compresses the dynamic range so bit
    decisions track spectral SHAPE, not loudness. Single-signal wrapper
    over :func:`audio_spectral_matrix_batch` (shared code path keeps
    kernel and mirror oracle bit-identical)."""
    return audio_spectral_matrix_batch(
        np.asarray(samples)[None], frames, bands
    )[0]


def audio_fingerprint(
    media: DataFrame, frames: int = 8, bands: int = 9, batch_hint: int = 256
) -> DataFrame:
    """(asset_id, afp): 64-bit spectral fingerprint per audio asset —
    the audio twin of :func:`image_dhash`. The WAV decodes in the
    Arrow kernel, the (frames x bands) spectrogram packs through the
    same adjacent-cell comparison as dHash (an 8x9 matrix pools to
    itself, so :func:`dhash_bits` applies verbatim), and the 8-byte
    fingerprints are all that ever shuffles."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .codecs import wav_decode

        for pdf in _rechunk(batches, batch_hint):
            ids, sigs = [], []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                samples, _rate = wav_decode(bytes(content))
                ids.append(aid)
                sigs.append(samples)
            # one batched rFFT per distinct signal length (uniform-rate
            # corpora have few): k*frames scalar FFTs -> a handful of
            # stacked ones, ~20x less Python/FFT overhead per asset
            fps = np.empty(len(sigs), dtype=np.int64)
            lens = np.array([len(s) for s in sigs])
            for length in np.unique(lens) if len(sigs) else ():
                idx = np.nonzero(lens == length)[0]
                stack = np.stack([sigs[i] for i in idx])
                grids = audio_spectral_matrix_batch(stack, frames, bands)
                fps[idx] = dhash_pack_batch(pool_grid_batch(grids, frames))
            yield pd.DataFrame({"asset_id": ids, "afp": fps})

    auds = media.filter(F.col("media_type") == "audio")
    return auds.mapInPandas(kernel, "asset_id long, afp long")


def audio_near_dup_pairs(
    media: DataFrame, max_hamming: int = 6, bands: int | None = None
) -> DataFrame:
    """(id_a, id_b, hamming) audio near-dup pairs via the shared banded
    Hamming blocking (see :func:`image_near_dup_pairs`)."""
    from .dedup import simhash_near_dup_pairs

    fp = audio_fingerprint(media).select(
        "asset_id", F.col("afp").alias("simhash")
    )
    return simhash_near_dup_pairs(
        fp, id_col="asset_id", max_hamming=max_hamming, bands=bands
    )


def text_to_wave(
    text: str | None, n_samples: int = 4096, frames: int = 8
) -> "np.ndarray":
    """Deterministic content-keyed SYNTHESIZER, non-stationary by
    construction: the text's adjacent byte pairs split into ``frames``
    positional groups, and each time-frame of the wave is the irfft of
    ITS OWN group's frequency votes ((b1*256+b2) mod bins, DC
    excluded). Identical texts give identical waves; texts sharing a
    prefix share the corresponding frames (small fingerprint distance,
    localized to the edited region); different texts give different
    dominant tones per frame. Two failure modes this design dodges:
    a byte-cycled waveform's spectrum is dominated by the cycle PERIOD
    (same-length texts collide), and a single whole-text synthesis is
    STATIONARY (all analysis frames alike — only one row of fingerprint
    bits is effective)."""
    b = np.frombuffer((text or "").encode("utf-8") or b"\x00", dtype=np.uint8)
    pairs = (
        b[:-1].astype(np.int64) * 256 + b[1:]
        if len(b) >= 2
        else b.astype(np.int64)
    )
    flen = n_samples // frames
    nbins = flen // 2 - 1
    # zeros, not empty: when frames does not divide n_samples the frame
    # loop only writes frames*flen samples — the tail must be a
    # deterministic 0, not uninitialized memory, to keep the
    # identical-text => identical-WAV contract (ADVICE r6).
    out = np.zeros(n_samples)
    for f, grp in enumerate(np.array_split(pairs, frames)):
        spec = np.bincount(
            grp % nbins + 1, minlength=flen // 2 + 1
        ).astype(np.float64)
        out[f * flen : (f + 1) * flen] = np.fft.irfft(spec, flen)
    peak = np.abs(out).max()
    if peak > 0:
        out = out / peak * 20000.0
    return out.astype(np.int16)


def audio_from_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_samples: int = 4096,
    sample_rate: int = 16000,
    batch_hint: int = 256,
) -> DataFrame:
    """Encode each document as a REAL mono PCM16 WAV of its
    :func:`text_to_wave` synthesis — the audio twin of
    :func:`media_from_text`; identical texts produce identical WAVs,
    which the audio-dedup registry row relies on."""
    from .codecs import wav_encode

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches, batch_hint):
            rows = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                wave = text_to_wave(t, n_samples)
                rows.append(
                    {
                        "asset_id": int(i),
                        "media_type": "audio",
                        "content": wav_encode(wave, sample_rate),
                        "meta": {
                            "width": None,
                            "height": None,
                            "n_frames": 1,
                            "sample_rate": sample_rate,
                            "format": "wav",
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return docs.select(id_col, text_col).mapInPandas(kernel, MEDIA_SCHEMA)


def resize_plan(media: DataFrame, max_side: int = 512) -> DataFrame:
    """Plan-side resize bookkeeping: computes target dimensions with
    native expressions; the pixel transform itself would ride the same
    mapInPandas kernel as :func:`extract_image_features`."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.when(
        F.greatest(w, h) > max_side, max_side / F.greatest(w, h)
    ).otherwise(F.lit(1.0))
    return media.withColumns(
        {
            "target_width": F.round(w * scale).cast("int"),
            "target_height": F.round(h * scale).cast("int"),
        }
    )


def frame_sample_plan(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling plan for videos: one output row per sampled frame
    index (sequence+explode — the decode of each frame is the stubbed
    kernel's job)."""
    vids = media.filter(F.col("media_type") == "video")
    frames = F.sequence(
        F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(every_n)
    )
    return vids.select(
        "asset_id", F.explode(frames).alias("frame_idx"), "meta"
    )


def media_from_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_hint: int = 256,
    dims: tuple[int, int] | None = None,
) -> DataFrame:
    """Encode each document's UTF-8 bytes as a REAL grayscale PNG
    (pixels = bytes tiled row-major into a doc_id-derived WxH frame,
    ``np.resize`` cycling semantics; empty text becomes one 0 byte) —
    the encode half of the codec round-trip, as an Arrow-batched
    mapInPandas stage emitting MEDIA_SCHEMA rows.

    ``dims``: fixed (width, height) for every frame instead of the
    id-derived default — identical texts then produce identical PNGs,
    which is what perceptual-dedup tests and the ``image_dhash_dedup``
    registry row need (with id-derived dims two copies of the same text
    tile differently and are NOT near-dups, correctly but unhelpfully).
    """
    from .codecs import png_encode

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches, batch_hint):
            rows = []
            for raw_id, t in zip(pdf[id_col], pdf[text_col]):
                i = int(raw_id)
                if dims is not None:
                    w, h = int(dims[0]), int(dims[1])
                else:
                    w, h = 16 + (i % 5) * 8, 16 + (i % 3) * 8
                b = (t or "").encode("utf-8") or b"\x00"
                arr = np.resize(np.frombuffer(b, dtype=np.uint8), (h, w))
                rows.append(
                    {
                        "asset_id": i,
                        "media_type": "image",
                        "content": png_encode(arr),
                        "meta": {
                            "width": w,
                            "height": h,
                            "n_frames": 1,
                            "sample_rate": None,
                            "format": "png",
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return docs.select(id_col, text_col).mapInPandas(kernel, MEDIA_SCHEMA)


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table for tests/demos — images are
    REAL PNG bytes (pure-numpy encoder) and audio REAL mono-PCM16 WAV,
    so the decode kernels exercise actual byte parsing, not just
    plumbing; video payloads stay opaque (no container format here)."""
    from .codecs import png_encode, wav_encode

    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        w, h = 16 + (i % 5) * 8, 16 + (i % 3) * 8
        if kind == "image":
            yy, xx = np.mgrid[0:h, 0:w]
            img = ((xx * 7 + yy * 13 + i * 31) % 256).astype(np.uint8)
            content, fmt = png_encode(img), "png"
        elif kind == "audio":
            t = np.arange(800)
            wave = (3000 * np.sin(2 * np.pi * (220 + 20 * i) * t / 16000)).astype(
                np.int16
            )
            content, fmt = wav_encode(wave, 16000), "wav"
        else:
            content, fmt = bytes([i % 256] * 32), "synthetic"
        rows.append(
            (
                i,
                kind,
                content,
                (w, h, 90 if kind == "video" else 1,
                 16000 if kind == "audio" else None, fmt),
            )
        )
    return local_df(spark, rows, MEDIA_SCHEMA)
