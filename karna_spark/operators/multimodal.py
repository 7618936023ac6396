"""Multimodal (image/audio/video) column plumbing (north-star
requirement).

Design: media travels as an opaque ``binary`` column plus a typed
metadata struct; per-item compute (decode, feature extraction, frame
sampling) runs as Arrow-batched ``mapInPandas`` so Python sees
contiguous byte batches, while everything around it (partitioning,
filtering on metadata, joins to labels) stays JVM-side.

The decode kernel is REAL for the uncompressed formats a stdlib-only
container can parse: 24-bit BI_RGB BMP, binary PPM (P6), and 16-bit PCM
WAV. Compressed codecs (JPEG/PNG/MP4) would slot into the same
``_decode_bytes`` dispatch once a codec library exists; until then they
raise ``ValueError`` (unsupported magic) rather than silently guessing.

Synthesis helpers build valid media bytes deterministically from an
integer seed so the full pipeline — encode, Arrow batch transfer,
header parse, padded-row pixel walk, mean computation — is verifiable
against closed-form SQL (the driver's DuckDB oracle recomputes the
expected width/height/mean from the same seed arithmetic).

Reference parity note: the reference repo (elliot14A/karna) declares no
multimodal surface at all (its engine crate holds only the cargo
template, reference karna-core/src/lib.rs:1-14); this module exists for
the 100 TB training-data-pipeline north star.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Output schema of the decode stage: one row per media item. For audio,
# width = frame count and height = 1 (a 1-D signal); mean_intensity is
# mean |sample| / 32768 for audio and mean byte / 255 for images.
DECODE_SCHEMA = (
    "item_id bigint, n_bytes bigint, sha256 string, media_type string, "
    "width int, height int, n_channels int, mean_intensity double"
)


def attach_media_metadata(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """JVM-side metadata over the opaque bytes: size + content hash.
    Cheap, codegen'd, and enough for exact-dup removal and size
    filtering without ever decoding."""
    return df.select(
        F.col(id_col).alias("item_id"),
        F.col(binary_col).alias("media"),
        F.length(F.col(binary_col)).cast("bigint").alias("n_bytes"),
        F.sha2(F.col(binary_col), 256).alias("sha256"),
    )


# --------------------------------------------------------------- encode
def encode_bmp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal valid 24-bit BI_RGB bottom-up BMP, solid color."""
    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    img_size = (row_raw + pad) * height
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    # BMP pixel order is BGR.
    row = bytes([rgb[2], rgb[1], rgb[0]]) * width + b"\x00" * pad
    return header + row * height


def encode_ppm(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Binary PPM (P6), solid color."""
    header = f"P6\n{width} {height}\n255\n".encode("ascii")
    return header + bytes(rgb) * (width * height)


def encode_wav(n_frames: int, sample: int, rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV holding ``n_frames`` copies of one sample."""
    data = struct.pack("<h", sample) * n_frames
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16)
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


# --------------------------------------------------------------- decode
def _decode_bmp(payload: bytes) -> tuple[str, int, int, int, float]:
    (_, _, _, _, pix_off) = struct.unpack_from("<2sIHHI", payload, 0)
    (hdr_size, width, height, _, bpp, compression) = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={compression})")
    abs_h = abs(height)
    row_raw = width * 3
    stride = row_raw + (4 - row_raw % 4) % 4
    total = 0
    for r in range(abs_h):
        start = pix_off + r * stride
        total += sum(payload[start : start + row_raw])  # padding excluded
    mean = total / (width * abs_h * 3) / 255.0
    return "image/bmp", width, abs_h, 3, mean


def _decode_ppm(payload: bytes) -> tuple[str, int, int, int, float]:
    # P6 header: magic, width, height, maxval as whitespace-separated
    # ASCII tokens, then EXACTLY ONE whitespace byte before pixel data.
    # A naive bytes.split() is wrong here — pixel bytes that happen to
    # be 0x20/0x0a would be eaten as separators — so scan explicitly.
    ws = b" \t\r\n"

    def token(pos: int) -> tuple[bytes, int]:
        while pos < len(payload) and payload[pos] in ws:
            pos += 1
        start = pos
        while pos < len(payload) and payload[pos] not in ws:
            pos += 1
        if start == pos:
            raise ValueError("malformed PPM header")
        return payload[start:pos], pos

    magic, pos = token(0)
    if magic != b"P6":
        raise ValueError("malformed PPM")
    w_tok, pos = token(pos)
    h_tok, pos = token(pos)
    max_tok, pos = token(pos)
    if w_tok.startswith(b"#") or h_tok.startswith(b"#"):
        raise ValueError("PPM comments unsupported")
    width, height, maxval = int(w_tok), int(h_tok), int(max_tok)
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    data_off = pos + 1  # the single whitespace byte after maxval
    n = width * height * 3
    pixels = payload[data_off : data_off + n]
    if len(pixels) < n:
        raise ValueError("truncated PPM pixel data")
    return "image/ppm", width, height, 3, sum(pixels) / n / 255.0


def _decode_wav(payload: bytes) -> tuple[str, int, int, int, float]:
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("malformed WAV")
    off, channels, bits, data = 12, None, None, None
    while off + 8 <= len(payload):
        chunk_id, size = struct.unpack_from("<4sI", payload, off)
        body = payload[off + 8 : off + 8 + size]
        if chunk_id == b"fmt ":
            (fmt, channels, _, _, _, bits) = struct.unpack_from("<HHIIHH", body, 0)
            if fmt != 1 or bits != 16:
                raise ValueError(f"unsupported WAV encoding (fmt={fmt}, bits={bits})")
        elif chunk_id == b"data":
            data = body
        off += 8 + size + (size % 2)
    if channels is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    samples = struct.unpack(f"<{len(data) // 2}h", data[: len(data) // 2 * 2])
    n_frames = len(samples) // channels
    mean = sum(abs(s) for s in samples) / max(1, len(samples)) / 32768.0
    return "audio/wav", n_frames, 1, channels, mean


def _decode_bytes(payload: bytes) -> tuple[str, int, int, int, float]:
    """bytes → (media_type, width, height, channels, mean_intensity).

    Dispatch on magic bytes; every branch fully parses the container
    (headers, row padding, chunk walk) — no format is inferred from
    anything but the payload itself."""
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:4] == b"RIFF":
        return _decode_wav(payload)
    raise ValueError(f"unsupported media magic {payload[:4]!r}")


def decode_media(df: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """The decode stage: mapInPandas over (item_id, media) batches.

    Arrow delivers each partition as pandas DataFrames of raw bytes;
    output rows carry decoded metadata + features. At scale the
    partition size (spark.sql.files.maxPartitionBytes) bounds executor
    memory per batch — media bytes never concentrate on the driver.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = {k: [] for k in (
                "item_id", "n_bytes", "sha256", "media_type",
                "width", "height", "n_channels", "mean_intensity",
            )}
            for item_id, payload in zip(pdf["item_id"], pdf["media"]):
                payload = bytes(payload)
                mtype, w, h, c, m = _decode_bytes(payload)
                out["item_id"].append(item_id)
                out["n_bytes"].append(len(payload))
                out["sha256"].append(hashlib.sha256(payload).hexdigest())
                out["media_type"].append(mtype)
                out["width"].append(w)
                out["height"].append(h)
                out["n_channels"].append(c)
                out["mean_intensity"].append(m)
            yield pd.DataFrame(out)

    return df.select("item_id", "media").mapInPandas(decode, DECODE_SCHEMA)


# ------------------------------------------------------------ synthesis
def synthesize_media(seed: int) -> bytes:
    """Deterministic valid media bytes from an integer seed; the format
    rotates BMP / PPM / WAV on seed % 3. The parameter arithmetic below
    is mirrored in closed-form SQL by the oracle of
    ``multimodal_decode_pipeline`` — changing one side breaks parity."""
    kind = seed % 3
    if kind == 0:
        w, h = 4 + seed % 13, 4 + seed % 7
        rgb = ((seed * 37) % 256, (seed * 59) % 256, (seed * 83) % 256)
        return encode_bmp(w, h, rgb)
    if kind == 1:
        w, h = 4 + seed % 11, 4 + seed % 5
        rgb = ((seed * 41) % 256, (seed * 67) % 256, (seed * 89) % 256)
        return encode_ppm(w, h, rgb)
    n = 64 + seed % 100
    sample = (seed * 131) % 30000 - 15000
    return encode_wav(n, sample)


def synthesize_media_df(df: DataFrame, id_col: str) -> DataFrame:
    """Attach a synthetic ``media`` binary column derived from ``id_col``
    via mapInPandas (fixture generation for the decode pipeline — the
    testdata tables carry no real media bytes)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "item_id": pdf[id_col],
                    "media": [synthesize_media(int(i)) for i in pdf[id_col]],
                }
            )

    return df.select(id_col).mapInPandas(synth, "item_id bigint, media binary")


def encode_wav_tone(
    n_frames: int, bin_idx: int, amplitude: int = 8000, rate: int = 8000
) -> bytes:
    """Mono 16-bit PCM WAV holding an INTEGER-CYCLE sine: frequency =
    ``bin_idx * rate / n_frames``, i.e. exactly ``bin_idx`` cycles in
    the clip, so an ``n_frames``-point DFT concentrates all signal
    energy in bin ``bin_idx`` (zero spectral leakage) and the dominant
    bin is analytically known — the closed form an oracle can check a
    real FFT against."""
    import math

    data = b"".join(
        struct.pack(
            "<h",
            round(amplitude * math.sin(2.0 * math.pi * bin_idx * k / n_frames)),
        )
        for k in range(n_frames)
    )
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16)
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


AUDIO_SPECTRAL_SCHEMA = (
    "item_id long, n_frames int, dominant_bin int, rms_db_e1 int"
)


def audio_dominant_bin(df: DataFrame) -> DataFrame:
    """Audio feature extraction over (item_id, media) WAV bytes: parse
    the PCM frames, run a real FFT per clip (numpy, Arrow-batched via
    mapInPandas — the V6 feature-extraction shape: bytes never visit
    the driver, per-batch memory is bounded by the file-split size),
    and emit the dominant non-DC frequency bin plus a deci-dB RMS
    level (integer-quantized so cross-engine comparison is exact).
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in (
                "item_id", "n_frames", "dominant_bin", "rms_db_e1",
            )}
            for item_id, payload in zip(pdf["item_id"], pdf["media"]):
                payload = bytes(payload)
                mtype, n_frames, _, _, _ = _decode_wav(payload)
                pos = 12
                frames = b""
                while pos + 8 <= len(payload):
                    cid, size = struct.unpack_from("<4sI", payload, pos)
                    if cid == b"data":
                        frames = payload[pos + 8 : pos + 8 + size]
                        break
                    pos += 8 + size + (size & 1)
                x = np.frombuffer(frames, dtype="<i2").astype(np.float64)
                mag = np.abs(np.fft.rfft(x))
                rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
                out["item_id"].append(item_id)
                out["n_frames"].append(len(x))
                out["dominant_bin"].append(
                    int(np.argmax(mag[1:]) + 1) if len(mag) > 1 else 0
                )
                out["rms_db_e1"].append(
                    int(round(200.0 * np.log10(max(rms, 1e-12))))
                    if rms > 0
                    else -9999
                )
            yield pd.DataFrame(out)

    return df.select("item_id", "media").mapInPandas(
        extract, AUDIO_SPECTRAL_SCHEMA
    )


# ------------------------------------------------------------- video
# A minimal uncompressed video container ("RVID"): 10-byte header
# (magic 'RVID', u16 width, u16 height, u16 n_frames, little-endian)
# followed by n_frames raw frames of width*height grayscale bytes.
# Stands in for MP4/WebM exactly the way BMP/PPM stand in for
# JPEG/PNG: the container logic (header parse, frame seek, stride
# sampling) is REAL; only the codec is trivial. Frame bytes are
# deterministic in (seed, frame, offset) so the whole pipeline is
# certifiable against closed-form SQL.

VIDEO_W, VIDEO_H = 16, 16


def encode_video_raw(seed: int, n_frames: int) -> bytes:
    """Deterministic RVID clip: byte i of frame f is
    ``(seed*31 + f*7 + i*13) mod 256``."""
    w, h = VIDEO_W, VIDEO_H
    frames = b"".join(
        bytes((seed * 31 + f * 7 + i * 13) % 256 for i in range(w * h))
        for f in range(n_frames)
    )
    return struct.pack("<4sHHH", b"RVID", w, h, n_frames) + frames


VIDEO_FRAME_SCHEMA = "item_id long, n_frames int, frame_no int, fp7 long"


def video_frame_features(df: DataFrame, stride: int = 3) -> DataFrame:
    """Header-directed frame sampling over (item_id, media) RVID bytes:
    parse the header, seek every ``stride``-th frame by computed
    offset (never materializing unsampled frames), and emit a content
    fingerprint per sampled frame (fp7 = first 7 frame bytes as a
    little-endian integer — proves the seek landed on the right bytes,
    not just the right count). Arrow-batched ``mapInPandas``: bytes
    stay executor-side, per-batch memory is bounded by the file-split
    size, and the 1→N frame expansion happens inside the batch — the
    V5 byte-stride shape upgraded with real container semantics."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("item_id", "n_frames", "frame_no", "fp7")}
            for item_id, payload in zip(pdf["item_id"], pdf["media"]):
                payload = bytes(payload)
                magic, w, h, nf = struct.unpack_from("<4sHHH", payload, 0)
                if magic != b"RVID":
                    raise ValueError(f"unsupported container: {magic!r}")
                fsz = w * h
                for f in range(0, nf, stride):
                    off = 10 + f * fsz
                    frame = payload[off : off + fsz]
                    out["item_id"].append(item_id)
                    out["n_frames"].append(nf)
                    out["frame_no"].append(f)
                    out["fp7"].append(
                        int.from_bytes(frame[:7], "little")
                    )
            yield pd.DataFrame(out)

    return df.select("item_id", "media").mapInPandas(
        extract, VIDEO_FRAME_SCHEMA
    )


# ---------------------------------------------------------- perceptual hash
def encode_ppm_pixels(width: int, height: int, gray: list[int]) -> bytes:
    """Binary PPM (P6) from a per-pixel grayscale array (r=g=b)."""
    header = f"P6\n{width} {height}\n255\n".encode("ascii")
    return header + bytes(v for px in gray for v in (px, px, px))


def patterned_gray(item_id: int, n_pixels: int = 256) -> list[int]:
    """Deterministic per-item 16×16 grayscale pattern with planted
    near-duplicates: items sharing ``item_id // 3`` get the same base
    pattern, and the variant ``item_id % 3`` perturbs a different
    sparse pixel subset — so same-group images land within a small
    Hamming distance of each other's perceptual hash while different
    groups diverge. The arithmetic is mirrored closed-form by the
    ``dedup_image_phash`` oracle; change one side and the hash
    breaks."""
    g, k = item_id // 3, item_id % 3
    out = []
    for p in range(n_pixels):
        base = ((g + 1) * (p + 3) * 131 + g * p * p * 7) % 256
        bump = 9 if (p + k) % 53 == 0 else 0
        out.append((base + bump) % 256)
    return out


def synthesize_patterned_image_df(df: DataFrame, id_col: str) -> DataFrame:
    """Attach a patterned 16×16 PPM ``media`` column per id (fixture
    generation — the testdata tables carry no real image bytes)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "item_id": pdf[id_col],
                    "media": [
                        encode_ppm_pixels(16, 16, patterned_gray(int(i)))
                        for i in pdf[id_col]
                    ],
                }
            )

    return df.select(id_col).mapInPandas(synth, "item_id bigint, media binary")


def image_ahash64(df: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual average-hash over decoded image bytes: parse the PPM
    P6 container, integer-grayscale each pixel ((r+g+b)//3), sum
    pixels into a ``grid × grid`` block partition, and set bit j iff
    block_sum_j · grid² > total_sum (strictly — ties are 0), packing
    the bits into one signed 64-bit value. ALL-INTEGER arithmetic, so
    the hash is exactly reproducible by closed-form SQL and immune to
    float rounding across platforms.

    Arrow-batched ``mapInPandas``: bytes stay executor-side, one
    output row per image — the same plumbing contract as
    ``decode_media``/``video_frame_features``. Compressed codecs would
    slot in at the parse step; unsupported magic raises rather than
    guessing. Requires width and height divisible by ``grid``."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for item_id, payload in zip(pdf["item_id"], pdf["media"]):
                b = bytes(payload)
                if not b.startswith(b"P6"):
                    raise ValueError("image_ahash64: unsupported magic")
                # header: P6 <w> <h> <maxval>\n then raw RGB
                parts = b.split(b"\n", 3)
                w, h = (int(x) for x in parts[1].split())
                px = np.frombuffer(parts[3], dtype=np.uint8)[: w * h * 3]
                gray = (
                    px.reshape(h, w, 3).astype(np.int64).sum(axis=2) // 3
                )
                if w % grid or h % grid:
                    raise ValueError("image_ahash64: dims not divisible")
                bh, bw = h // grid, w // grid
                sums = gray.reshape(grid, bh, grid, bw).sum(axis=(1, 3))
                total = int(sums.sum())
                bits = (sums.flatten() * grid * grid) > total
                hval = 0
                for j, bit in enumerate(bits):
                    if bit:
                        hval |= 1 << j
                if hval >= 1 << 63:  # two's-complement wrap to signed
                    hval -= 1 << 64
                ids.append(int(item_id))
                hashes.append(hval)
            yield pd.DataFrame({"item_id": ids, "ahash": hashes})

    return df.mapInPandas(kernel, "item_id bigint, ahash bigint")


def ahash_near_dup_pairs(
    hashes: DataFrame, max_hamming: int = 6, band_bits: int = 10
) -> DataFrame:
    """Near-duplicate image pairs by banded Hamming join — the SimHash
    pigeonhole: two hashes within ``max_hamming`` of each other must
    agree exactly on at least one of ceil(64 / band_bits) bit bands
    (7 bands of ≤10 bits at the defaults tolerate up to 6 differing
    bits), so candidates surface from |bands| EQUI-joins on
    (band_idx, band_value) instead of an all-pairs scan, then the
    exact popcount filter keeps true pairs. Scale: candidate volume
    ∝ band-bucket occupancy, never |items|²."""
    from karna_spark.operators.dedup import hamming64

    n_bands = (64 + band_bits - 1) // band_bits
    assert (n_bands - 1) >= max_hamming, "bands must exceed max_hamming"
    banded = _ahash_bands(hashes, band_bits)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.item_id") < F.col("b.item_id")),
        )
        .select(
            F.col("a.item_id").alias("id_a"),
            F.col("b.item_id").alias("id_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        hamming64(F.col("ha"), F.col("hb")).cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def _ahash_bands(hashes: DataFrame, band_bits: int) -> DataFrame:
    """Explode each 64-bit hash into its (band, val) keys."""
    n_bands = (64 + band_bits - 1) // band_bits
    mask = (1 << band_bits) - 1
    return hashes.select(
        F.col("item_id"),
        F.col("ahash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("ahash"), i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select("item_id", "ahash", "bv.band", "bv.val")


def ahash_incremental_pairs(
    batch_media: DataFrame,
    base_hashes: DataFrame,
    max_hamming: int = 6,
    band_bits: int = 10,
) -> DataFrame:
    """J20 steady-state ingest: near-dup pairs INVOLVING a new batch,
    probing a PERSISTED hash table instead of re-hashing the corpus —
    the image twin of J18's stored-signature MinHash ingest. Hash only
    the batch (``image_ahash64`` over its media bytes), then band-join
    the batch's (band, val) keys against (stored ∪ batch) bands: every
    emitted pair has a batch item on at least one side, candidates ∝
    band-bucket occupancy of the BATCH (never |corpus|²), and the
    stored table grows by |batch| rows per ingest. Exact popcount
    verifies candidates, pairs are normalized (id_a < id_b) and
    deduplicated across bands. Per-ingest cost is O(|batch| bands +
    bucket collisions): flat in corpus size — measured by the J20
    scaling leg in ``scripts/ingest_scaling.py`` (SCALING_r11.json,
    zero task retries): stored ingest 1.9 / 2.8 / 2.3 s at 50k / 200k
    / 800k synthetic images (batch 500) vs naive full re-hash 4.6 /
    31.2 / 701.1 s — 2.5× → 298× growing with the corpus; the
    one-time hash build (1.8 / 6.6 / 76.5 s) amortizes after one
    ingest."""
    from karna_spark.operators.dedup import hamming64

    n_bands = (64 + band_bits - 1) // band_bits
    assert (n_bands - 1) >= max_hamming, "bands must exceed max_hamming"
    batch_hashes = image_ahash64(batch_media)
    all_bands = _ahash_bands(
        base_hashes.unionByName(batch_hashes), band_bits
    )
    probe = _ahash_bands(batch_hashes, band_bits).alias("a")
    cand = (
        probe.join(
            all_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.item_id") != F.col("b.item_id")),
        )
        .select(
            F.least("a.item_id", "b.item_id").alias("id_a"),
            F.greatest("a.item_id", "b.item_id").alias("id_b"),
            F.when(F.col("a.item_id") < F.col("b.item_id"), F.col("a.ahash"))
            .otherwise(F.col("b.ahash"))
            .alias("ha"),
            F.when(F.col("a.item_id") < F.col("b.item_id"), F.col("b.ahash"))
            .otherwise(F.col("a.ahash"))
            .alias("hb"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        hamming64(F.col("ha"), F.col("hb")).cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
