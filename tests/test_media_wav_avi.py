"""Real WAV (RIFF PCM) and MJPEG-in-AVI decode paths: stdlib-built
fixtures (wave module; hand-assembled RIFF container around the test
JPEG encoder's frames) through the engine decoders, with exact RMS
feature replay for audio and per-frame feature-mean pooling for video."""

import io
import struct
import wave

import numpy as np

from osm_to_netex_spark.operators import media
from tests.support import encode_jpeg


def _wav_bytes(samples: np.ndarray, rate: int, n_ch: int, width: int = 2) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as fh:
        fh.setnchannels(n_ch)
        fh.setsampwidth(width)
        fh.setframerate(rate)
        if width == 2:
            fh.writeframes(samples.astype("<i2").tobytes())
        else:
            fh.writeframes((samples + 128).astype(np.uint8).tobytes())
    return buf.getvalue()


def _avi_bytes(frames: list[bytes]) -> bytes:
    movi = b"movi"
    for f in frames:
        movi += b"00dc" + struct.pack("<I", len(f)) + f
        if len(f) & 1:
            movi += b"\x00"
    movi_list = b"LIST" + struct.pack("<I", len(movi)) + movi
    body = b"AVI " + movi_list
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_16bit_stereo_rms_replay():
    rng = np.random.RandomState(5)
    n = 4000
    samples = rng.randint(-20000, 20000, size=n * 2).astype(np.int64)
    payload = _wav_bytes(samples, rate=16000, n_ch=2)
    fmt, rate, n_ch, n_frames, feats = media._decode_wav("a", payload)
    assert (fmt, rate, n_ch, n_frames) == ("wav", 16000, 2, n)
    mono = (samples.astype(np.float64) / 32768.0).reshape(-1, 2).mean(axis=1)
    want = np.array(
        [np.sqrt((b * b).mean()) for b in np.array_split(mono, media.FEATURE_DIM)],
        dtype=np.float32,
    )
    np.testing.assert_array_equal(feats, want)


def test_wav_8bit_mono():
    t = np.arange(2048)
    samples = (100.0 * np.sin(2 * np.pi * t / 64.0)).round().astype(np.int64)
    payload = _wav_bytes(samples, rate=8000, n_ch=1, width=1)
    fmt, rate, n_ch, n_frames, feats = media._decode_wav("a", payload)
    assert (fmt, rate, n_ch, n_frames) == ("wav", 8000, 1, 2048)
    # a pure tone's RMS is ~amplitude/sqrt(2) in every window
    np.testing.assert_allclose(
        feats, np.full(media.FEATURE_DIM, 100.0 / 128.0 / np.sqrt(2)), atol=0.01
    )


def test_avi_mjpeg_frames_pool():
    f1 = encode_jpeg([np.full((16, 16), 50.0)], [(1, 1)], 16, 16)
    f2 = encode_jpeg([np.full((16, 16), 150.0)], [(1, 1)], 16, 16)
    payload = _avi_bytes([f1, f2])
    fmt, w, h, n_frames, feats = media._decode_avi_mjpeg("v", payload)
    assert (fmt, w, h, n_frames) == ("mjpeg", 16, 16, 2)
    want = np.mean(
        [media._decode_jpeg("v", f)[4].astype(np.float64) for f in (f1, f2)], axis=0
    ).astype(np.float32)
    np.testing.assert_array_equal(feats, want)
    # mean of a 50-image and a 150-image is a 100-image
    np.testing.assert_allclose(feats, np.full(16, 100.0 / 255.0), atol=1e-5)


def test_spark_dispatch_wav_avi_and_codec_stub(spark):
    wav = _wav_bytes(np.zeros(1024, dtype=np.int64), rate=44100, n_ch=1)
    avi = _avi_bytes([encode_jpeg([np.full((16, 16), 90.0)], [(1, 1)], 16, 16)])
    df = spark.createDataFrame(
        [
            ("d1", "aud_wav", bytearray(wav)),
            ("d2", "vid_avi", bytearray(avi)),
            ("d3", "vid_h264", bytearray(b"\x00\x00\x00\x01\x67 codec data")),
        ],
        "doc_id string, media_ref string, payload binary",
    )
    rows = {r["media_ref"]: r for r in media.decode_media(df, real_decode=True).collect()}
    assert rows["aud_wav"]["format"] == "wav"
    assert rows["aud_wav"]["width"] == 44100  # sample rate in the width slot
    assert rows["vid_avi"]["format"] == "mjpeg"
    assert rows["vid_avi"]["n_frames"] == 1
    assert rows["vid_h264"]["format"] not in ("wav", "mjpeg", "jpeg", "png")
