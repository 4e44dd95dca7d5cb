"""Test-only multimodal helpers: fixture encoders the package's decoders
are tested against, and the Pillow/ffmpeg reference decoders the native
codecs are cross-checked against where those tools are installed.

No query, ``bench.py`` or ``perfbench`` path reaches any of these, so
they live with the tests instead of in ``operators/multimodal.py``.
"""

from __future__ import annotations

import struct

import numpy as np

from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import multimodal as MM


def encode_bmp(width: int, height: int, pixels: np.ndarray) -> bytes:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER): rows bottom-up, BGR
    channel order, each row padded to a 4-byte boundary — the three
    layout quirks that make BMP a real parsing exercise."""
    data = MM._dib_rows(pixels)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + info + data


_ULAW_CLIP = 8159


def lin2ulaw(samples: np.ndarray) -> np.ndarray:
    """Pure-numpy G.711 µ-law compressor (the classic public-domain
    g711.c algorithm, the North-American telephony twin of
    ``MM._lin2alaw``): 16-bit linear -> 8-bit µ-law."""
    x = samples.astype(np.int64) >> 2  # 14-bit magnitude domain
    mask = np.where(x < 0, 0x7F, 0xFF)
    mag = np.minimum(np.where(x < 0, -x, x), _ULAW_CLIP) + (MM._ULAW_BIAS >> 2)
    seg_ends = np.array([0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF])
    seg = np.searchsorted(seg_ends, mag, side="left")
    # seg == 8 is reachable: CLIP + biased offset (8159 + 33) exceeds
    # the top segment end 0x1FFF, and g711.c returns 0x7F there
    uval = np.where(
        seg >= 8, 0x7F, (np.minimum(seg, 7) << 4) | ((mag >> (np.minimum(seg, 7) + 1)) & 0xF)
    )
    return (uval ^ mask).astype(np.uint8)


def encode_wav_ulaw(sample_rate: int, samples: np.ndarray) -> bytes:
    """RIFF/WAVE with G.711 µ-law payload (format tag 7, 8 bits/sample,
    fact chunk), decoded natively by ``MM.decode_wav``."""
    n, ch = MM._int16_frames(samples)
    return MM._wav(7, ch, sample_rate, ch, 8, lin2ulaw(samples.reshape(-1)).tobytes(), fact_n=n)


def render_wav_payloads(df):
    """Fixture-audio renderer: one canonical s16 WAV per row, executor-side."""
    return MM._render_stage(df, "audio", lambda d: MM.encode_wav(*MM._wav_fixture(d)))


def decode_image_pillow(payload_bytes: bytes) -> dict:
    """Pillow reference decoder with ``MM.decode_image_real``'s
    ``{width, height, maxval, pixels}`` contract (any Pillow-readable
    format, normalized to RGB). Imports lazily, so the tests run without
    Pillow."""
    import io

    from PIL import Image  # ImportError here = Pillow not installed

    with Image.open(io.BytesIO(payload_bytes)) as im:
        rgb = im.convert("RGB")
        px = np.asarray(rgb, dtype=np.uint8)
        return {"width": rgb.width, "height": rgb.height, "maxval": 255, "pixels": px}


def require_ffmpeg() -> str:
    """Path of the ffmpeg binary; ImportError when it is absent, so a
    decode stage's quarantine boundary re-raises it instead of tagging
    rows."""
    import shutil

    path = shutil.which("ffmpeg")
    if path is None:
        raise ImportError(
            "the ffmpeg reference decoders need the ffmpeg binary on PATH; "
            "the native decoders (decode_audio_native, decode_avi_mjpeg) need nothing"
        )
    return path


def run_ffmpeg(args: list[str], payload: bytes) -> bytes:
    import subprocess

    ffmpeg = require_ffmpeg()
    proc = subprocess.run(
        [ffmpeg, "-v", "error", "-i", "pipe:0", *args, "pipe:1"],
        input=payload, capture_output=True, check=False,
    )
    if proc.returncode != 0:
        raise ValueError(f"ffmpeg decode failed: {proc.stderr.decode(errors='replace')[:200]}")
    return proc.stdout


def decode_audio_ffmpeg(payload: bytes) -> tuple[int, np.ndarray]:
    """ffmpeg reference decoder with ``MM.decode_audio_native``'s
    (sample_rate, samples int16 (n, ch)) contract; it also decodes the
    PERCEPTUAL codecs (MP3/AAC) the native side refuses. Geometry (rate,
    channels) is parsed from the container header — the RIFF fmt chunk
    or the FLAC STREAMINFO; the decoded stream is ffmpeg's s16le
    output."""
    if payload[:4] == MM.FLAC_MAGIC:
        # STREAMINFO (spec-required first block): rate 20 bits at byte
        # 10 of the 34-byte body, channels-1 the next 3 bits
        body = payload[8 : 8 + int.from_bytes(payload[5:8], "big")]
        if (payload[4] & 0x7F) != 0 or len(body) < 34:
            raise ValueError("FLAC payload missing leading STREAMINFO")
        rate = (body[10] << 12) | (body[11] << 4) | (body[12] >> 4)
        ch = ((body[12] >> 1) & 7) + 1
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        fmt = next(
            (at for cid, at, _ in MM._riff_chunks(payload, 12, len(payload)) if cid == b"fmt "), None
        )
        if fmt is None:
            raise ValueError("WAVE missing fmt chunk")
        _, ch, rate = struct.unpack_from("<HHI", payload, fmt)
        if ch < 1:
            raise ValueError("WAVE fmt declares zero channels")
    else:
        raise ValueError("decode_audio_ffmpeg expects a RIFF/WAVE or FLAC container")
    # Pin the output layout to the header-declared channel count with -ac:
    # without it, an ffmpeg decoder that emits a different count which
    # still divides the sample total would silently de-interleave into the
    # wrong channels instead of failing the whole-frames check below.
    raw = run_ffmpeg(["-f", "s16le", "-acodec", "pcm_s16le", "-ac", str(int(ch))], payload)
    samples = np.frombuffer(raw, dtype="<i2")
    if len(samples) % ch:
        raise ValueError("ffmpeg output is not whole interleaved frames")
    return int(rate), samples.reshape(-1, ch).astype(np.int16)


def decode_video_ffmpeg(payload: bytes) -> tuple[int, int, np.ndarray]:
    """ffmpeg reference decoder with ``MM.decode_avi_mjpeg``'s (width,
    height, frames uint8 (n, h, w, 3) RGB) contract. Geometry comes from
    the AVI avih header (this adapter targets AVI containers; ffprobe
    generalizes), frames from ffmpeg's rawvideo rgb24 output."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("decode_video_ffmpeg expects a RIFF/AVI container")
    width = height = None
    for cid, body_at, size in MM._riff_chunks(payload, 12, len(payload)):
        if cid == b"LIST" and payload[body_at : body_at + 4] == b"hdrl":
            for c2, b2, s2 in MM._riff_chunks(payload, body_at + 4, body_at + size):
                if c2 == b"avih":
                    w_, h_ = struct.unpack_from("<II", payload, b2 + 32)
                    width, height = int(w_), int(h_)
    if not width or not height:
        raise ValueError("AVI missing avih main header")
    raw = run_ffmpeg(["-f", "rawvideo", "-pix_fmt", "rgb24"], payload)
    frame_bytes = width * height * 3
    if not raw or len(raw) % frame_bytes:
        raise ValueError("ffmpeg output is not whole rgb24 frames")
    frames = np.frombuffer(raw, np.uint8).reshape(-1, height, width, 3)
    return width, height, frames
