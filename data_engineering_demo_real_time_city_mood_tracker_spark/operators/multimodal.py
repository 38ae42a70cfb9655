"""Multimodal column plumbing: image/audio/video as opaque ``binary``
payloads + typed metadata, processed in Arrow batches via mapInPandas.

The Spark-side machinery (schema, batch iteration, partition-preserving
transform) is real and tested. Decode is REAL for formats whose specs
need only stdlib byte math — BMP dimensions, WAV duration — and a
clearly-marked deterministic fake for codec formats (JPEG/MP4/...)
whose libraries (PIL/ffmpeg/librosa) are not in this container.
At scale, the pattern is: keep payloads in parquet binary columns,
`repartition` so each Arrow batch fits executor memory, decode inside
mapInPandas (one Python worker per core, Arrow transfer amortized).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.session import spread

DECODED_SCHEMA = (
    "media_id long, kind string, n_bytes long, checksum string, "
    "width int, height int, duration_ms int"
)


def synthesize_media(df: DataFrame, id_col: str, payload_src: str, kind: str) -> DataFrame:
    """Build a media table from any string column (deterministic fake
    payloads for tests — real pipelines read binary parquet directly).
    """
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col(payload_src), "utf-8").alias("payload"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """STUB: deterministic pseudo-features in lieu of a real decoder.

    A real deployment replaces this with PIL.Image.open /
    av.open(BytesIO(payload)) etc. — signature and batch shape stay
    identical, which is the part under test.
    """
    h = hashlib.md5(payload).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    duration_ms = int.from_bytes(h[2:4], "big")
    return width, height, duration_ms


def _decode_one(payload: bytes) -> tuple[int, int, int]:
    """Dispatch decode: REAL header parsing for formats whose specs
    need only stdlib byte math (BMP dimensions, WAV duration); the
    deterministic fake for everything else (JPEG/MP4/... would need
    the image/av libs this container lacks).

    BMP: 'BM' magic; width/height are little-endian int32 at offsets
    18/22 of the BITMAPINFOHEADER (height may be negative for
    top-down rows). WAV: RIFF/WAVE magic; byte rate is little-endian
    uint32 at offset 8 of the 'fmt ' CHUNK — located by the chunk
    scan, never assumed to sit first (editors emit JUNK/LIST chunks
    before it) — and duration = data-chunk bytes / byte rate.
    """
    import struct

    if payload[:2] == b"BM" and len(payload) >= 26:
        width, height = struct.unpack_from("<ii", payload, 18)
        return abs(width), abs(height), 0
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE" and len(payload) >= 44:
        byte_rate = None
        data_size = None
        off = 12
        while off + 8 <= len(payload):
            cid = payload[off : off + 4]
            size = struct.unpack_from("<I", payload, off + 4)[0]
            if cid == b"fmt " and size >= 12 and off + 8 + 12 <= len(payload):
                byte_rate = struct.unpack_from("<I", payload, off + 8 + 8)[0]
            elif cid == b"data":
                data_size = size
            if byte_rate is not None and data_size is not None:
                if byte_rate:
                    return 0, 0, int(data_size * 1000 // byte_rate)
                break
            off += 8 + size + (size % 2)
    return _fake_decode(payload)


def decode_media(df: DataFrame) -> DataFrame:
    """mapInPandas decode: payload binary → typed features.

    Arrow-batched; no shuffle (narrow transform over the scan).
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_one(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "checksum": [hashlib.md5(p).hexdigest() for p in pdf["payload"]],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "duration_ms": [f[2] for f in feats],
                }
            )
            yield out

    return df.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: expand each media row into frame
    timestamps (decode stubbed). Demonstrates the explode-side of the
    pipeline: rows stay co-partitioned with their media file.
    """
    decoded = decode_media(df)
    return decoded.select(
        "media_id",
        "kind",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


# --------------------------------------------------------------------------
# perceptual-hash image dedup (real byte-level decode, no image libs)

BMP_W, BMP_H = 9, 8  # 9×8 grayscale grid → (W-1)×H = 64 dHash bits


def _make_bmp(group: int, variant: int) -> bytes:
    """REAL 24-bit bottom-up BMP, 9×8, grayscale pixels derived from
    md5(group:row:col). ``variant`` > 0 perturbs exactly one pixel by
    +128, so same-group images differ in ≤2 dHash bits per variant —
    deterministic planted near-dups for the pipeline under test."""
    import struct

    w, h = BMP_W, BMP_H
    stride = (w * 3 + 3) // 4 * 4
    px = bytearray(stride * h)
    vr, vc = variant % h, (variant * 3) % w
    for r in range(h):
        for c in range(w):
            g = hashlib.md5(f"{group}:{r}:{c}".encode()).digest()[0]
            if variant and (r, c) == (vr, vc):
                g = (g + 128) % 256
            o = r * stride + c * 3
            px[o : o + 3] = bytes((g, g, g))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0
    )
    return header + info + bytes(px)


def synthesize_bmp_media(
    df: DataFrame, id_col: str, group_col: str, variant_col: str
) -> DataFrame:
    """(media_id, kind, payload) with REAL BMP bytes, Arrow-batched.

    Input is ``spread`` first: the per-row Python synthesis (and the
    decode stage that always follows it) is the expensive part, and a
    single-split scan would otherwise pin it to one core — the same
    guard the shingle pipelines use."""
    df = spread(df)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "kind": "image",
                    "payload": [
                        _make_bmp(int(g), int(v))
                        for g, v in zip(pdf[group_col], pdf[variant_col])
                    ],
                }
            )

    return df.mapInPandas(gen, schema="media_id long, kind string, payload binary")


def dhash_image(payload: bytes) -> int:
    """64-bit dHash from the BMP pixel grid (stdlib byte math): bit =
    1 iff gray(r,c) < gray(r,c+1), row-major, two's-complement int64.
    A real deployment swaps the grid source for PIL resize((9,8));
    the hash definition and everything downstream stay identical."""
    import struct

    w, hgt = struct.unpack_from("<ii", payload, 18)
    off = struct.unpack_from("<I", payload, 10)[0]
    stride = (w * 3 + 3) // 4 * 4
    topdown = hgt < 0
    hgt = abs(hgt)
    bits = 0
    for r in range(hgt):
        rr = r if topdown else hgt - 1 - r
        base = off + rr * stride
        for c in range(w - 1):
            bits = (bits << 1) | (1 if payload[base + c * 3] < payload[base + (c + 1) * 3] else 0)
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


def _band_candidates(df: DataFrame, bands, fp_col: str, out: str) -> DataFrame:
    """(id_a, id_b, <out>_a, <out>_b): media pairs, id_a < id_b, that
    share a value in any band of ``bands`` (an array of (band, val)
    structs over ``fp_col``), carrying both fingerprints for the
    caller's verify step. May repeat a pair that shares several
    bands."""
    banded = df.select(
        "media_id", fp_col, F.explode(bands).alias("b")
    ).select("media_id", fp_col, F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    a = banded.alias("a")
    b = banded.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.val") == F.col("b.val"))
        & (F.col("a.media_id") < F.col("b.media_id")),
    ).select(
        F.col("a.media_id").alias("id_a"),
        F.col("b.media_id").alias("id_b"),
        F.col(f"a.{fp_col}").alias(f"{out}_a"),
        F.col(f"b.{fp_col}").alias(f"{out}_b"),
    )


def image_near_dup_pairs(media: DataFrame, max_hamming: int = 6) -> DataFrame:
    """perceptual near-dup pairs: Arrow-batched dHash (map-only Python,
    the unavoidable decode step) → 4×16-bit band LSH candidate join →
    exact Hamming verify via bit_count(xor), both JVM-side. Same
    band-bucket discipline as minhash/simhash. Recall guarantee, by
    pigeonhole over 4 bands: LOSSLESS for Hamming ≤ 3 (some band must
    be untouched). For 4..6 a pair is found only when its differing
    bits cluster in ≤ 3 bands — true for localized perceptual edits
    (and for the planted one-pixel variants, recovery test-asserted),
    but a pair with ≥ 1 flipped bit in EVERY band is missed. If a
    hard ≤ 7 guarantee is needed, use 8×8-bit bands and pay ~2⁸× more
    random band collisions; candidate volume stays band-bounded
    either way, never corpus²."""

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "dhash": [dhash_image(p) for p in pdf["payload"]],
                }
            )

    # materialize the (media_id, dhash) frame BEFORE the band self-join:
    # both join sides otherwise re-run the whole upstream Python chain
    # (payload synthesis + byte decode) — the decode is the dominant
    # cost of the query and must run once. Reclaimable checkpoint, not
    # persist: blocks back the returned lazy frame and are
    # ContextCleaner-reclaimed when the caller drops it.
    hashed = media.mapInPandas(
        hash_batches, schema="media_id long, dhash long"
    ).localCheckpoint(eager=False)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("dhash"), 16 * i)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("val"),
            )
            for i in range(4)
        ]
    )
    ham = F.bit_count(F.col("dh_a").bitwiseXOR(F.col("dh_b")))
    return (
        _band_candidates(hashed, bands, "dhash", "dh")
        # verify BEFORE the distinct: far pairs (random cross-band
        # collisions) die on the map side instead of riding the
        # distinct shuffle with two 8-byte hash columns
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------------
# audio: REAL PCM16 WAV synthesis + windowed-RMS energy fingerprints —
# the audio twin of the BMP/dHash pipeline above. Same container-honest
# split: byte-level decode (the only Python stage, Arrow-batched) feeds
# JVM-side band-LSH joins; a real deployment swaps the synthetic PCM
# for a codec decode and keeps everything downstream identical.

WAV_SR = 8000
WAV_WINDOWS = 8
WAV_SPW = 400  # samples per 50 ms window at 8 kHz → 400 ms clips


def _make_wav(group: int, variant: int) -> bytes:
    """REAL RIFF/WAVE PCM16 mono clip: 8 × 50 ms windows whose square-
    wave amplitude is derived from md5(group:window). ``variant`` > 0
    perturbs exactly ONE window's amplitude, so same-group clips
    differ in exactly one energy window — deterministic planted
    near-dups for the pipeline under test."""
    import struct

    import numpy as np

    # vectorized sample synthesis: the per-sample Python loop was the
    # dominant cost of the whole query (3200 struct.pack calls per
    # clip — 6.1 s at sf0.1 vs 1.7 s for the equivalent BMP synth);
    # one np.outer + tobytes emits identical bytes at ~40× the rate
    amps = np.empty(WAV_WINDOWS, dtype=np.int64)
    for w in range(WAV_WINDOWS):
        amp = hashlib.md5(f"{group}:{w}".encode()).digest()[0] * 100
        if variant and w == variant % WAV_WINDOWS:
            amp = (amp + 12800) % 25600
        amps[w] = amp
    pattern = np.where(np.arange(WAV_SPW) % 16 < 8, 1, -1)
    data = np.outer(amps, pattern).astype("<i2").tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, WAV_SR, WAV_SR * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def synthesize_wav_media(
    df: DataFrame, id_col: str, group_col: str, variant_col: str
) -> DataFrame:
    """(media_id, kind, payload) with REAL WAV bytes, Arrow-batched.
    ``spread`` first — see :func:`synthesize_bmp_media`."""
    df = spread(df)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "kind": "audio",
                    "payload": [
                        _make_wav(int(g), int(v))
                        for g, v in zip(pdf[group_col], pdf[variant_col])
                    ],
                }
            )

    return df.mapInPandas(gen, schema="media_id long, kind string, payload binary")


def audio_energy_fingerprint(payload: bytes) -> list[int]:
    """8-level windowed-RMS fingerprint from raw WAV bytes (stdlib +
    numpy only): parse the PCM16 frames at offset 44, RMS per 50 ms
    window, quantized to rms // 128 (0..255). Robust to phase and to
    sample-level noise below half a quantization step — the audio
    analog of dHash's gradient bits."""
    import numpy as np

    pcm = np.frombuffer(payload, dtype="<i2", offset=44).astype(np.float64)
    n_win = len(pcm) // WAV_SPW
    out = []
    for w in range(n_win):
        seg = pcm[w * WAV_SPW : (w + 1) * WAV_SPW]
        rms = float(np.sqrt(np.mean(seg * seg)))
        out.append(min(255, int(rms) // 128))
    return out


def audio_near_dup_pairs(media: DataFrame, max_diff_windows: int = 1) -> DataFrame:
    """audio near-dup pairs: Arrow-batched fingerprint extraction (the
    unavoidable decode step) → 2×4-window band LSH candidate join →
    exact differing-window count verify, both JVM-side. By pigeonhole
    over 2 bands, LOSSLESS for pairs differing in ≤ 1 window (some
    band is untouched) — which is exactly the planted-variant shape;
    pairs differing in both halves are missed, the documented recall
    trade. Bands pack 4 one-byte levels into one int (a fold, no
    string concat), so candidates never carry the fingerprint array
    through the exchange."""

    def fp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "fp": [audio_energy_fingerprint(p) for p in pdf["payload"]],
                }
            )

    # same discipline as image_near_dup_pairs: checkpoint the tiny
    # fingerprint frame so the band self-join's two sides don't each
    # re-run the payload synthesis + PCM decode Python chain.
    fped = media.mapInPandas(
        fp_batches, schema="media_id long, fp array<int>"
    ).localCheckpoint(eager=False)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.aggregate(
                    F.slice(F.col("fp"), i * 4 + 1, 4),
                    F.lit(0).cast("long"),  # 4 bytes > int32 range
                    lambda acc, x: acc * 256 + x,
                ).alias("val"),
            )
            for i in range(2)
        ]
    )
    n_diff = F.aggregate(
        F.zip_with(
            F.col("fp_a"), F.col("fp_b"), lambda x, y: F.when(x != y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        _band_candidates(fped, bands, "fp", "fp")
        .distinct()
        .withColumn("n_diff_windows", n_diff)
        .filter(F.col("n_diff_windows") <= max_diff_windows)
        .select("id_a", "id_b", F.col("n_diff_windows").cast("long").alias("n_diff_windows"))
    )
